#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the digest every declared query
must return on perfbench/fixture.

Each digest comes from the query's declared DuckDB oracle
(`SparkEntry.oracleSql`) run on the fixture — source "duckdb". A query
whose oracle fails or runs past ORACLE_LIMIT_S falls back to the digest
of the program's own output at the commit this script runs on — source
"program" (use only on a commit whose outputs the oracle gate passed). The script also
runs every query once through the harness and reports each query whose
program digest differs from its oracle digest.

Usage: python3 perfbench/tools/make_expected.py"""
import json
import multiprocessing
import shutil
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from bench import canon, jvm  # noqa: E402

# an oracle still running after this long is cut off (the graph-chain
# oracles can run for many minutes); its digest then comes from the program
ORACLE_LIMIT_S = 60

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def harness(cp, run_dir, workload, calls=()):
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "spark-local").mkdir()
    plan = [("workload", workload), ("fixture", jvm.BENCH / "fixture"), ("out", run_dir / "out.json"),
            ("trace", "0"), ("cpus", "4"), ("tmp", run_dir / "tmp"), ("seed", "0")]
    plan += [("call", c) for c in calls]
    return json.loads(Path(jvm.run_harness(cp, plan, run_dir, 3600)).read_text())


def oracle(sql, spill, out):
    """Run one oracle in DuckDB on the fixture; put (digest, rows) on `out`."""
    con = duckdb.connect()
    con.execute("SET memory_limit='6GiB'")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{jvm.BENCH}/fixture/{t}.parquet')")
    cols, rows = canon.duckdb_result(con, sql)
    out.put((canon.digest(cols, rows), len(rows)))


def main():
    work = jvm.STATE / "make-expected"
    cp = jvm.classpath(jvm.STATE / "build.log")
    oracles = harness(cp, work, "oracles")["queries"]
    expected = {}
    for name in sorted(oracles):
        t0 = time.time()
        out = multiprocessing.Queue()
        p = multiprocessing.Process(target=oracle, args=(oracles[name], work / "duckdb", out))
        p.start()
        p.join(ORACLE_LIMIT_S)
        if p.is_alive():
            p.kill()
            p.join()
        if out.empty():
            print(f"{name}: oracle failed or ran past {ORACLE_LIMIT_S} s; using the program's digest")
        else:
            digest, n = out.get()
            expected[name] = {"digest": digest, "rows": n, "source": "duckdb"}
        print(f"{name}: {time.time() - t0:.1f} s", flush=True)
    run = harness(cp, work, "board_cold", sorted(oracles))
    for c in run["calls"]:
        e = expected.get(c["name"])
        if e is None:
            expected[c["name"]] = {"digest": c["digest"], "rows": c["rows"], "source": "program"}
        elif c["error"] or c["digest"] != e["digest"]:
            print(f"{c['name']}: program digest differs from oracle ({c['error']})")
    shutil.rmtree(work, ignore_errors=True)
    out = jvm.BENCH / "expected.json"
    out.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(f"wrote {out}: {len(expected)} queries")


if __name__ == "__main__":
    main()
