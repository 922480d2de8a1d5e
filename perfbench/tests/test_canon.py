"""The harness's digest canonicalization (Canon.scala) must render every
cell as tools/check_oracle.py does after reading the same result back
from parquet, and bench/canon.py must stay a copy of check_oracle's
`canon`. The harness tests build and start a JVM (about a minute)."""
import ast
import json
import math
import random
import shutil
import struct
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from bench import canon, jvm

CHECKER = jvm.ROOT / "tools" / "check_oracle.py"


def checker_canon():
    """check_oracle.py's `canon`, loaded without running the script."""
    tree = ast.parse(CHECKER.read_text())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {}
    exec(compile(ast.Module([*(n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))), fn],
                            type_ignores=[]), str(CHECKER), "exec"), ns)
    return ns["canon"], ast.dump(fn)


def sample_doubles(n=3000):
    rng = random.Random(1)
    xs = [0.0, -0.0, 1.0, -1.5, 0.1, 1e-4, 1e-5, 1e15, 1e16, 1e17, 123456789012345680.0,
          5e-324, 2.2250738585072014e-308, 1.7976931348623157e308, float("inf"), float("-inf"),
          float("nan"), 2.0 ** 60, 2.0 ** -40, 0.30000000000000004, 100.0, 9007199254740993.0]
    xs += [rng.uniform(-1, 1) * 10 ** rng.randint(-30, 30) for _ in range(n // 2)]
    xs += [struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0] for _ in range(n // 2)]
    xs += [round(rng.uniform(-1000, 1000), rng.randint(0, 8)) for _ in range(n // 4)]
    return xs


@unittest.skipUnless(CHECKER.is_file(), "tools/check_oracle.py not present")
class CopyOfChecker(unittest.TestCase):
    def test_canon_is_the_checker_canon(self):
        _, theirs = checker_canon()
        mine = ast.dump(next(n for n in ast.parse(Path(canon.__file__).read_text()).body
                             if isinstance(n, ast.FunctionDef) and n.name == "canon"))
        self.assertEqual(mine, theirs)


@unittest.skipUnless(CHECKER.is_file() and shutil.which("sbt") and shutil.which("java"),
                     "needs tools/check_oracle.py, sbt and java")
class HarnessAgreesWithChecker(unittest.TestCase):
    # a stride over the declared queries (every type the board emits
    # appears in it) plus the array- and timestamp-valued outputs
    STRIDE = 13

    @classmethod
    def setUpClass(cls):
        cls.canon = staticmethod(checker_canon()[0])
        expected = json.loads((jvm.BENCH / "expected.json").read_text())
        cls.expected = expected
        cls.names = sorted(expected)[::cls.STRIDE]
        cls.doubles = sample_doubles()
        cls.dir = jvm.STATE / "test-canon"
        shutil.rmtree(cls.dir, ignore_errors=True)
        for d in ("tmp", "spark-local", "dump"):
            (cls.dir / d).mkdir(parents=True)
        plan = [("workload", "canon"), ("fixture", jvm.BENCH / "fixture"), ("out", cls.dir / "out.json"),
                ("trace", 0), ("cpus", 4), ("tmp", cls.dir / "tmp"), ("seed", 0),
                ("dump", cls.dir / "dump")]
        plan += [("call", n) for n in cls.names]
        plan += [("double", format(struct.unpack("<Q", struct.pack("<d", x))[0], "016x"))
                 for x in cls.doubles]
        jvm.run_harness(jvm.classpath(jvm.STATE / "build.log"), plan, cls.dir, 900)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_doubles_render_as_python_repr(self):
        got = (self.dir / "dump" / "doubles.txt").read_text().split("\n")
        self.assertEqual(got, [self.canon(x) for x in self.doubles])

    def test_dumps_render_as_the_checker_reads_them(self):
        for name in self.names:
            with self.subTest(name):
                files = sorted((self.dir / "dump" / name).glob("*.parquet"))
                table = pa.concat_tables([pq.read_table(f) for f in files])
                cols = sorted(table.column_names)
                want = ["\x1f".join(self.canon(r[c]) for c in cols) for r in table.select(cols).to_pylist()]
                got = (self.dir / "dump" / f"{name}.txt").read_text()
                self.assertEqual(got.split("\n") if got else [], want)

    def test_dump_digests_match_expected(self):
        for name in self.names:
            with self.subTest(name):
                lines = (self.dir / "dump" / f"{name}.txt").read_text()
                import hashlib
                self.assertEqual(hashlib.sha256(lines.encode()).hexdigest(), self.expected[name]["digest"])


if __name__ == "__main__":
    unittest.main()
