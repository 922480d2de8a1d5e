#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <board_cold|serve_warm|kmeans_lloyd>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
no source changes. Each run starts one harness JVM on local[4] with a
private java.io.tmpdir and spark.local.dir under .perfbench/, deleted
when the run ends, so no index or stream directory of an earlier run
can serve this one. Every call is checked: declared queries against
perfbench/expected.json, the k-means calls by the checks in
KMeansPass.scala and against the DuckDB `kmeans_fit_native` oracle.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones, and the run's spans and per-call counts
are written to .perfbench/traces/<workload>-seed<n>.json."""
import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from bench import canon, gen, jvm, plans, stats  # noqa: E402

CPUS = 4
# a run must end within 180 s; the JVM gets what is left after set-up
RUN_LIMIT_S = 170
WORKLOADS = ("board_cold", "serve_warm", "kmeans_lloyd")
KMEANS_WARM_PASSES = 1


def expected():
    return json.loads((jvm.BENCH / "expected.json").read_text())


def check_queries(calls, exp):
    """Mark each query call ok if it returned the expected digest."""
    for c in calls:
        if c["error"] is None and c["digest"] != exp[c["name"]]["digest"]:
            c["error"] = f"wrong output: digest {c['digest'][:12]} rows {c['rows']}, " \
                         f"expected {exp[c['name']]['digest'][:12]} rows {exp[c['name']]['rows']}"


def check_kmeans(rec, points_dir, run_dir):
    """DuckDB's kmeans_fit_native oracle on the generated points against
    the first fitExact's centers (every later fitExact must equal it;
    the harness checks that)."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar=false")
        con.execute("SET memory_limit='4GiB'")
        con.execute(f"SET threads={CPUS}")
        con.execute(f"SET temp_directory='{run_dir / 'duckdb'}'")
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{points_dir}/embeddings.parquet/*.parquet')")
        cols, rows = canon.duckdb_result(con, rec["oracle_sql"])
    finally:
        con.close()
    want = canon.digest(cols, rows)
    if rec.get("fit_exact_digest") != want:
        for c in rec["calls"]:
            if c["name"] == "fitExact" and c["error"] is None:
                c["error"] = "wrong output: fitExact centers differ from the DuckDB oracle"


def harness(cp, run_dir, plan, launched):
    plan = [("fixture", jvm.BENCH / "fixture"), ("out", run_dir / "out.json"),
            ("cpus", CPUS), ("tmp", run_dir / "tmp")] + plan
    left = RUN_LIMIT_S - (time.time() - launched)
    out = jvm.run_harness(cp, plan, run_dir, max(10.0, left))
    return json.loads(Path(out).read_text())


def run(args, cp, run_dir):
    seed, secs = args.seed, args.seconds
    base = [("workload", args.workload), ("seed", seed), ("trace", args.trace)]
    t0 = time.time()
    if args.workload == "board_cold":
        exp = expected()
        plan = base + [("call", n) for n in plans.board(exp, secs)]
        rec = harness(cp, run_dir, plan, t0)
        check_queries(rec["calls"], exp)
        setup = rec.get("setup_end", time.time()) - t0
    elif args.workload == "serve_warm":
        exp = expected()
        plan = base + [("warm", n) for n in plans.SERVE] + \
            [("call", n) for n in plans.serve(seed, secs)]
        rec = harness(cp, run_dir, plan, t0)
        check_queries(rec["calls"], exp)
        setup = rec.get("setup_end", time.time()) - t0
    else:
        points = run_dir / "points"
        gen.write(seed, plans.KMEANS_POINTS, points)
        plan = base + [("points", points), ("warm_passes", KMEANS_WARM_PASSES),
                       ("passes", plans.kmeans_passes(secs))]
        rec = harness(cp, run_dir, plan, t0)
        setup = rec.get("setup_end", time.time()) - t0
        check_kmeans(rec, points, run_dir)
    return rec, setup


def end_to_end(measured, setup):
    lat = [c["t1"] - c["t0"] for c in measured]
    tail, pct = stats.tail(lat)
    ok = sum(c["error"] is None for c in measured)
    values = {
        "setup_s": setup,
        "wall_s": measured[-1]["t1"] - measured[0]["t0"],
        "call_p50_s": stats.median(lat),
        "call_tail_s": tail,
        "ok_ratio": ok / len(measured),
    }
    return {m["name"]: (values[m["name"]], m["unit"]) for m in declared()["end_to_end"]}, pct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not jvm.program_present():
        sys.exit("perfbench: no program sources next to perfbench/ (build.sbt, src/main); nothing to measure")
    cp = jvm.classpath(jvm.STATE / "build.log")
    run_dir = jvm.STATE / f"run-{os.getpid()}-{time.time_ns()}"
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "spark-local").mkdir()
    try:
        rec, setup = run(args, cp, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    calls = rec["calls"]
    measured = calls[int(rec.get("warm_calls", 0)):]
    failed = [c for c in calls if c["error"] is not None]
    for c in failed:
        print(f"FAIL {c['name']}: {c['error']}")
    if not measured:
        sys.exit("perfbench: no call was measured")
    e2e, pct = end_to_end(measured, setup)
    print(f"{args.workload} seed={args.seed}: {len(measured)} measured calls "
          f"({len(calls) - len(measured)} in set-up); call_tail_s is p{pct:.1f}; " +
          ", ".join(f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items()))

    results = jvm.STATE / "results"
    results.mkdir(exist_ok=True)
    key = f"{args.workload}-seed{args.seed}"
    if args.trace:
        layers = rec["layers"]
        measured_layers = {**layers["metrics"], **rec["kernels"]}
        metrics = {m["name"]: (measured_layers[m["name"]], m["unit"]) for m in declared()["per_layer"]}
        untraced = results / f"{key}.json"
        overhead = None
        if untraced.is_file():
            overhead = layers["metrics"]["trace.wall_s"] - json.loads(untraced.read_text())["wall_s"]
        traces = jvm.STATE / "traces"
        traces.mkdir(exist_ok=True)
        (traces / f"{key}.json").write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "tail_percentile": pct, "tracing_overhead_s": overhead, "layers": layers["metrics"],
            "kernels": rec["kernels"], "self_s": layers["self_s"], "per_call": layers["per_call"],
            "spans": rec["spans"]}, indent=1))
        print(f"trace written to {traces / (key + '.json')}; tracing overhead "
              + (f"{overhead:+.3f} s of wall_s" if overhead is not None else "unknown (no untraced run of this seed)"))
    else:
        metrics = e2e
        (results / f"{key}.json").write_text(json.dumps({
            **{k: v for k, (v, _) in e2e.items()},
            "calls": [[c["name"], c["t1"] - c["t0"], c["error"]] for c in measured]}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def declared():
    return json.loads((jvm.ROOT / "BENCHMARK.json").read_text())


if __name__ == "__main__":
    main()
