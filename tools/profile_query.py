"""Per-query profiling harness for the optimization rounds (guide §1).

For each named BENCH/catalog query, on the SAME session shape as
bench.py (local[$SPARK_GRAFT_CPUS], shuffle.partitions=$CPUS, AQE on):

- times the Python plan-construction call (``queries[name](spark, dir)``)
  separately from execution, so Catalyst/py4j overhead is visible;
- runs the noop sink N times (warm-up + timed reps, min reported) —
  the bench methodology;
- attributes stage-level metrics (executor run time, shuffle
  read/write bytes, task count) to the LAST rep via the status store,
  so the expensive stages of a query are rankable without the UI;
- optionally dumps ``explain("formatted")`` to a file.

Usage:
    python -m tools.profile_query x87_curation_pipeline_v5 x70_fuzzy_sparse_pairs
    python -m tools.profile_query --plans-dir plans/r15 --suffix before x57_gopher_pipeline
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def _stage_rows(spark, cursor: int, frontier: int) -> list[dict]:
    rows = []
    store = spark.sparkContext._jsc.sc().statusStore()
    for sid in range(cursor, frontier):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:
            continue  # skipped / evicted
        rows.append(
            {
                "stage": sid,
                "name": str(st.name()).split("\n")[0][:90],
                "tasks": int(st.numCompleteTasks()),
                "run_ms": int(st.executorRunTime()),
                "cpu_ms": int(st.executorCpuTime()) // 1_000_000,
                "sh_read_mb": round(
                    (int(st.shuffleReadBytes()) if hasattr(st, "shuffleReadBytes")
                     else int(st.shuffleRemoteBytesRead()) + int(st.shuffleLocalBytesRead()))
                    / (1 << 20), 2),
                "sh_write_mb": round(int(st.shuffleWriteBytes()) / (1 << 20), 2),
            }
        )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3, choices=range(1, 100))
    ap.add_argument("--plans-dir", default=None,
                    help="dump explain('formatted') per query here")
    ap.add_argument("--suffix", default="before",
                    help="plan filename suffix: <name>_<suffix>.txt")
    ap.add_argument("--stages", action="store_true",
                    help="print per-stage metrics for the last rep")
    ap.add_argument("--json", default=None, metavar="PATH",
                    help="APPEND one machine-readable JSON line per "
                    "query: label, reps, min wall, and the last rep's "
                    "stage rollup (run/cpu ms, shuffle MB, task/stage "
                    "counts). The interleaved A/B protocol (VERDICT "
                    "r15 task 3): alternate invocations of the A and "
                    "B code states against the SAME file with "
                    "--label A / --label B (each invocation is a "
                    "fresh JVM, so ABAB ordering interleaves host "
                    "noise instead of attributing it to whichever "
                    "state ran second), then compare per-label "
                    "min/median wall AND the structural columns — "
                    "cpu_ms/sh_write_mb move only with the code.")
    ap.add_argument("--label", default=None,
                    help="record label for --json lines (e.g. A / B)")
    args = ap.parse_args()

    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

    from stock_market_etl_spark.catalog import all_queries
    from stock_market_etl_spark.session import get_spark
    from bench import _stage_frontier

    spark = get_spark(
        app_name="profile_query",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    for name in args.names:
        spark.sparkContext.setJobDescription(f"profile: {name}")
        # plan construction (includes analysis of most subtrees)
        t0 = time.perf_counter()
        df = queries[name](spark, args.sf)
        t_build = time.perf_counter() - t0

        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            t0 = time.perf_counter()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            t_plan = time.perf_counter() - t0
            path = os.path.join(
                args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
        else:
            t_plan = 0.0

        # warm-up (codegen, file listing) then timed reps, bench-style;
        # stage metrics are collected for the FINAL rep only (each
        # sweep is one py4j round-trip per stage id)
        rep_times = []
        stage_rows = []
        for i in range(args.reps + 1):
            spark.catalog.clearCache()
            cursor = _stage_frontier(spark)
            t0 = time.perf_counter()
            fresh = queries[name](spark, args.sf)
            fresh.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i > 0:
                rep_times.append(round(dt, 3))
            if i == args.reps:
                stage_rows = _stage_rows(
                    spark, cursor, _stage_frontier(spark)
                )
        print(
            f"{name}: build={t_build:.3f}s explain={t_plan:.3f}s "
            f"reps={rep_times} min={min(rep_times):.3f}s "
            f"stages={len(stage_rows)} "
            f"run_ms_total={sum(r['run_ms'] for r in stage_rows)}"
        )
        if args.json:
            import json

            with open(args.json, "a") as f:
                f.write(json.dumps({
                    "label": args.label,
                    "query": name,
                    "sf": args.sf,
                    "cpus": int(cpus),
                    "build_s": round(t_build, 3),
                    "reps": rep_times,
                    "min_s": min(rep_times),
                    "stages": len(stage_rows),
                    "tasks": sum(r["tasks"] for r in stage_rows),
                    "run_ms": sum(r["run_ms"] for r in stage_rows),
                    "cpu_ms": sum(r["cpu_ms"] for r in stage_rows),
                    "sh_write_mb": round(sum(
                        r["sh_write_mb"] for r in stage_rows), 2),
                }) + "\n")
        if args.stages:
            for r in sorted(stage_rows, key=lambda r: -r["run_ms"]):
                print(
                    f"  s{r['stage']:>4} run={r['run_ms']:>6}ms "
                    f"cpu={r['cpu_ms']:>6}ms tasks={r['tasks']:>3} "
                    f"shR={r['sh_read_mb']:>8} shW={r['sh_write_mb']:>8}  "
                    f"{r['name']}"
                )
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
