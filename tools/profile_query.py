"""Per-query profiling harness, and the owner of the status-store
stage reader the shuffle-economy pins use.

For each named catalog query, on the engine's default session shape
(``get_spark``: ``local[$SPARK_GRAFT_CPUS]`` or ``local[*]``, shuffle
width = cores, AQE on):

- times the Python plan-construction call (``queries[name](spark, dir)``)
  separately from execution, so Catalyst/py4j overhead is visible;
- runs the noop sink N times (warm-up + timed reps, min reported);
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


def force(df) -> None:
    """Execute ``df`` end-to-end through the noop sink (full physical
    execution, no driver-side collect)."""
    df.write.format("noop").mode("overwrite").save()


def stage_frontier(spark) -> int:
    """Smallest id past every stage the app has run so far, derived
    from the retained JOB list (JobData records every stage id its
    job owns, including SKIPPED stages that never get a StageData
    entry, and the newest jobs are always retained) — the correct
    cursor seed for a session that may already have evicted its
    oldest stages. jobsList returns newest-first, so scanning a
    handful of head entries bounds the py4j round-trips regardless of
    how many jobs the session has run. Returns 0 on a fresh session."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        mx = -1
        seen = 0
        while it.hasNext() and seen < 8:
            sit = it.next().stageIds().iterator()
            while sit.hasNext():
                mx = max(mx, int(str(sit.next())))
            seen += 1
        return mx + 1
    except Exception:
        return 0


def stage_rows(spark, cursor: int) -> list[dict]:
    """One row per stage the app ran at or after ``cursor``, read from
    the per-stage AppStatusStore data (the numbers the UI REST API
    serves).

    Stage grain, not the SQL execution metric map: the latter loses
    AQE-replanned exchanges (accumulator ids re-register under the new
    query stages and the execution-level map keeps the stale ids —
    observed reading 0.0 for a query whose stages wrote 40 MB) and
    only ever sees the LAST execution, undercounting queries with
    internal bounded collects (density guards, k-means init).

    The scan is bounded by `stage_frontier` and tolerates gaps:
    SKIPPED stages (reused exchanges) occupy ids but have no
    StageData entry, and the oldest stages of a long session may be
    evicted, so a stop-at-first-missing-id scan would silently
    flatline at the first reuse."""
    rows = []
    store = spark.sparkContext._jsc.sc().statusStore()
    for sid in range(cursor, stage_frontier(spark)):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:
            continue  # skipped or evicted stage: no entry
        rows.append(
            {
                "stage": sid,
                "name": str(st.name()).split("\n")[0][:90],
                "tasks": int(st.numCompleteTasks()),
                "run_ms": int(st.executorRunTime()),
                "cpu_ms": int(st.executorCpuTime()) // 1_000_000,
                "sh_read_mb": round(int(st.shuffleReadBytes()) / (1 << 20), 2),
                "sh_write_bytes": int(st.shuffleWriteBytes()),
            }
        )
    return rows


def shuffle_mb(rows: list[dict]) -> float:
    """Total shuffle bytes written by ``rows``, in MB rounded once to
    3 decimals."""
    return round(sum(r["sh_write_bytes"] for r in rows) / (1 << 20), 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
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

    from stock_market_etl_spark.catalog import all_queries
    from stock_market_etl_spark.session import get_spark

    spark = get_spark(app_name="profile_query")
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

        # warm-up (codegen, file listing) then timed reps; stage
        # metrics are collected for the FINAL rep only (each sweep is
        # one py4j round-trip per stage id)
        rep_times = []
        rows = []
        for i in range(args.reps + 1):
            spark.catalog.clearCache()
            cursor = stage_frontier(spark)
            t0 = time.perf_counter()
            force(queries[name](spark, args.sf))
            dt = time.perf_counter() - t0
            if i > 0:
                rep_times.append(round(dt, 3))
            if i == args.reps:
                rows = stage_rows(spark, cursor)
        print(
            f"{name}: build={t_build:.3f}s explain={t_plan:.3f}s "
            f"reps={rep_times} min={min(rep_times):.3f}s "
            f"stages={len(rows)} "
            f"run_ms_total={sum(r['run_ms'] for r in rows)}"
        )
        if args.json:
            import json

            with open(args.json, "a") as f:
                f.write(json.dumps({
                    "label": args.label,
                    "query": name,
                    "sf": args.sf,
                    "cpus": spark.sparkContext.defaultParallelism,
                    "build_s": round(t_build, 3),
                    "reps": rep_times,
                    "min_s": min(rep_times),
                    "stages": len(rows),
                    "tasks": sum(r["tasks"] for r in rows),
                    "run_ms": sum(r["run_ms"] for r in rows),
                    "cpu_ms": sum(r["cpu_ms"] for r in rows),
                    "sh_write_mb": shuffle_mb(rows),
                }) + "\n")
        if args.stages:
            for r in sorted(rows, key=lambda r: -r["run_ms"]):
                print(
                    f"  s{r['stage']:>4} run={r['run_ms']:>6}ms "
                    f"cpu={r['cpu_ms']:>6}ms tasks={r['tasks']:>3} "
                    f"shR={r['sh_read_mb']:>8} "
                    f"shW={r['sh_write_bytes'] / (1 << 20):>8.2f}  "
                    f"{r['name']}"
                )
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
