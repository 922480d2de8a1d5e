"""Build the harness from the checkout's sources and launch it.

The harness is the sbt project in perfbench/ (it depends on the root
project), so one sbt invocation compiles the program and the harness.
The resulting classpath is cached under .perfbench/ keyed by a hash of
every build input, so later runs start the JVM directly."""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
BENCH = ROOT / "perfbench"
STATE = ROOT / ".perfbench"

# Spark on JDK 17 outside spark-submit needs these (the root build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def program_present():
    return (ROOT / "build.sbt").is_file() and (ROOT / "src/main/scala/graft/SparkEntry.scala").is_file()


def _inputs():
    roots = [ROOT / "src/main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    files += sorted((BENCH / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in _inputs():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:20]


def classpath(log):
    """Compile if the inputs changed; return the runtime classpath."""
    STATE.mkdir(exist_ok=True)
    stamp = STATE / f"classpath-{source_hash()}.txt"
    if stamp.is_file():
        return stamp.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL,
            text=True, timeout=800)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "perfbench" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"harness build failed (exit {r.returncode}); see {log}")
    stamp.write_text(lines[-1].strip())
    return lines[-1].strip()


def java_command(cp, plan, tmp, local):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-Xmx3g", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", cp, "perfbench.Harness", str(plan)]


def run_harness(cp, plan_lines, run_dir, timeout):
    """Write the plan, run one harness JVM to completion, return the path
    of its JSON record (or raise). The JVM's own output goes to a log."""
    plan = run_dir / "plan.txt"
    plan.write_text("\n".join(f"{k} {v}" for k, v in plan_lines) + "\n")
    log = run_dir / "harness.log"
    with open(log, "ab") as out:
        p = subprocess.Popen(java_command(cp, plan, run_dir / "tmp", run_dir / "spark-local"),
                             stdout=out, stderr=out, stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness timed out after {timeout:.0f} s")
        finally:  # also on a signal or an interrupt: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise RuntimeError(f"harness exited with {rc}")
    return dict(plan_lines)["out"]
