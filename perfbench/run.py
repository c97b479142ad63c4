"""spark-graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run starts the engine session through
``stock_market_etl_spark.session.get_spark`` (setting only the master,
the driver heap and UI-off), generates the workload's inputs from the
seed and warms up (all of that is ``setup_s``). It then drives a closed
loop of ops through the program's public functions: a fixed op count,
sized so the ops fill ``--seconds`` at the workload's nominal op time,
so every run's median sits at the same point of the engine's warm-up
curve. Last, it checks the kept outputs (untimed; a wrong output counts
as a failed op) and prints one JSON object as the last line of stdout,
after a ``perfbench_config`` line recording the host and inputs.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced ops and prints the per-layer metrics, including
the tracing overhead (traced minus untraced op p50); the span table
goes to stderr and the spans to ``.perfbench_work/<workload>/spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: end-to-end metric -> unit (every workload prints all of them)
END_TO_END = {
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "setup_s": "s",
    "ops_ok_share": "share",
}

#: per-layer metric -> unit; a layer a workload bypasses reads 0
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_ms": "ms",
    "io.listing_ms": "ms",
    "io.paths_listed": "count",
    "io.write_partitioned_ms": "ms",
    "io.files_written": "count",
    "io.rows_written_per_new_row": "ratio",
    "io.input_mb": "MB",
    "pipeline.pruned_history_ms": "ms",
    "pipeline.merge_increment_ms": "ms",
    "pipeline.enrich_ms": "ms",
    "pipeline.load_serving_ms": "ms",
    "pipeline.run_increment_jobs": "count",
    "quality.validate_ms": "ms",
    "sinks.save_serving_table_ms": "ms",
    "plans.dashboard.compute_trends_ms": "ms",
    "plans.dashboard.final_returns_ms": "ms",
    "plans.dashboard.relative_returns_ms": "ms",
    "plans.dashboard.latest_snapshot_ms": "ms",
    "plans.dashboard.top_movers_ms": "ms",
    "plans.dashboard.plan_ms": "ms",
    "operators.text.source_reputation_ms": "ms",
    "operators.dedup.exact_substring_spans_ms": "ms",
    "operators.dedup.cut_spans_ms": "ms",
    "operators.dedup.contaminated_spans_ms": "ms",
    "catalog.curation_docs_kept_share": "share",
    "streaming.core.batches": "count",
    "streaming.core.trigger_ms": "ms",
    "streaming.core.query_planning_ms": "ms",
    "streaming.core.wal_commit_ms": "ms",
    "streaming.core.state_rows": "count",
    "streaming.core.state_mb": "MB",
    "streaming.core.state_commit_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.busy_share": "share",
    "trace.untraced_op_p50_ms": "ms",
    "trace.traced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}

WORK_ROOT = ".perfbench_work"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_process(workload: str) -> str:
    """Fail fast outside a checkout of the program; pin the process
    clock zone and keep every engine temp file inside the checkout.
    Returns the run's work directory."""
    if not os.path.isfile(os.path.join("stock_market_etl_spark", "session.py")):
        raise SystemExit(
            "perfbench: run from the repository root "
            "(stock_market_etl_spark/ not found)"
        )
    root = os.getcwd()
    for p in (HERE, root):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # measure the engine's own defaults, whatever the caller exported
    for var in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(var, None)
    from harness import fresh_dir

    work = fresh_dir(os.path.join(root, WORK_ROOT, workload))
    os.environ["SPARK_LOCAL_DIRS"] = fresh_dir(os.path.join(work, "spark-local"))
    tmp = fresh_dir(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    # the JVM's own temp files (native libs, session dirs) and its
    # perf-data file would otherwise go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return work


def start_session():
    """(spark, seconds get_spark took, driver heap MB)."""
    from harness import cores, driver_heap_mb
    from stock_market_etl_spark.session import get_spark

    heap = driver_heap_mb()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_confs={"spark.driver.memory": f"{heap}m"},
    )
    return spark, time.perf_counter() - t0, heap


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until both have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """One workload run: set-up, warm-up, the timed window(s) and the
    correctness gate, with everything the two reports need."""

    def __init__(self, spark, get_spark_s: float, workload, tracer):
        self.spark = spark
        self.get_spark_s = get_spark_s
        self.wl = workload
        self.tracer = tracer
        self.loop = None
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0

    def execute(self, seconds: float, trace: bool, setup_started: float) -> None:
        from harness import TreeRss, closed_loop

        wl = self.wl
        with TreeRss() as rss:
            t0 = time.perf_counter()
            wl.setup()
            t1 = time.perf_counter()
            first = wl.warmup()
            t2 = time.perf_counter()
            self.setup_s = t2 - setup_started
            self.phases = {
                "before_inputs_s": t0 - setup_started,
                "get_spark_s": self.get_spark_s,
                "inputs_s": t1 - t0,
                "warmup_s": t2 - t1,
            }
            n = wl.op_count(seconds)
            if not trace:
                self.loop = closed_loop(
                    wl, n, wl.clients, first, self.tracer, lambda i: False, log
                )
            else:
                # traced and untraced ops alternate, so both see the
                # same point of the engine's warm-up curve; each half
                # holds as many ops as an untraced run
                wl.trace(self.tracer)
                try:
                    self.loop = closed_loop(
                        wl, 2 * n, wl.clients, first,
                        self.tracer, lambda i: (i - first) % 2 == 1, log,
                    )
                finally:
                    self.tracer.unwrap()
                self.tracer.harvest(self.tracer.spans)
        self.peak_rss_mb = rss.peak_bytes / 1e6
        t3 = time.perf_counter()
        self.gate()
        self.phases["gate_s"] = time.perf_counter() - t3

    def records(self):
        return self.loop.records

    def gate(self) -> None:
        """Untimed correctness gate over every kept output."""
        for rec in self.records():
            if not rec.ok or not self.wl.keep(rec.index):
                continue
            try:
                good = self.wl.check(rec.output)
            except Exception as exc:  # a gate that cannot run is a failure
                log(f"check of op {rec.index} raised: {exc!r}")
                good = False
            if not good:
                log(f"op {rec.index}: wrong output")
                rec.ok = False

    # -- reports -------------------------------------------------------------

    def counts(self) -> tuple[int, int]:
        recs = self.records()
        return len(recs), sum(1 for r in recs if not r.ok)

    def end_to_end(self) -> dict:
        from harness import p50_ms

        st = self.loop
        attempted, failed = self.counts()
        items = sum(r.items for r in st.records if r.ok)
        return {
            "op_p50_ms": p50_ms(st.records),
            "items_per_s": items / st.window_s if st.window_s > 0 else 0.0,
            "setup_s": self.setup_s,
            "ops_ok_share": (attempted - failed) / attempted if attempted else 0.0,
        }

    def per_layer(self) -> dict:
        from harness import p50_ms
        from tracing import median_or_zero as med

        tr = self.tracer
        spans = tr.spans
        m = dict.fromkeys(PER_LAYER, 0.0)
        for name, vals in tr.per_op_self().items():
            if f"{name}_ms" in m:
                m[f"{name}_ms"] = med(vals)
        by_op: dict[int, dict] = {}
        for sp in spans:
            o = by_op.setdefault(sp.op, {"listing_ms": 0.0, "paths": 0, "first_job": None})
            if sp.name == "io.listing":
                o["listing_ms"] += (sp.end - sp.start) * 1000.0
                o["paths"] += sp.counts.get("files", 0)
            else:
                o["listing_ms"] += sp.counts.get("listing_jobs_ms", 0)
                o["paths"] += sp.counts.get("listing_paths", 0)
            fj = sp.counts.get("first_job_wall")
            if fj is not None and (o["first_job"] is None or fj < o["first_job"]):
                o["first_job"] = fj
        m["io.listing_ms"] = med([o["listing_ms"] for o in by_op.values()])
        m["io.paths_listed"] = med([o["paths"] for o in by_op.values()])
        m["io.input_mb"] = med(tr.per_op_counts("input_b")) / 1e6
        m["process.peak_rss_mb"] = self.peak_rss_mb
        m["session.get_spark_ms"] = self.get_spark_s * 1000.0
        m["spark.jobs"] = med(tr.per_op_counts("jobs"))
        m["spark.tasks"] = med(tr.per_op_counts("tasks"))
        m["spark.shuffle_write_mb"] = med(tr.per_op_counts("shuffle_write_b")) / 1e6
        m["spark.spill_mb"] = med(tr.per_op_counts("spill_b")) / 1e6
        m["spark.gc_ms"] = med(tr.per_op_counts("gc_ms"))
        m["spark.executor_run_ms"] = med(tr.per_op_counts("executor_run_ms"))
        roots = {sp.op: sp for sp in spans if sp.parent is None}
        run_ms: dict[int, float] = {}
        for sp in spans:
            run_ms[sp.op] = run_ms.get(sp.op, 0.0) + sp.counts.get("executor_run_ms", 0)
        m["spark.busy_share"] = med([
            run_ms[op] / ((root.end - root.start) * 1000.0 * tr.cores)
            for op, root in roots.items()
        ])
        if self.wl.name == "dashboard_reads":
            m["plans.dashboard.plan_ms"] = med([
                (by_op[op]["first_job"] - root.wall_start) * 1000.0
                for op, root in roots.items()
                if by_op[op]["first_job"] is not None
            ])
        traced = [r for r in self.records() if r.traced]
        untraced = [r for r in self.records() if not r.traced]
        m.update(self.wl.layer(tr, [r for r in traced if r.ok]))
        m["trace.untraced_op_p50_ms"] = p50_ms(untraced)
        m["trace.traced_op_p50_ms"] = p50_ms(traced)
        m["trace.overhead_ms"] = m["trace.traced_op_p50_ms"] - m["trace.untraced_op_p50_ms"]
        return m


def trace_summary(run: Run, metrics: dict, out=sys.stderr) -> None:
    """Self time per span name (median per op, and share of all self
    time), the per-layer counts, and the tracing overhead."""
    from tracing import median_or_zero as med

    per = run.tracer.per_op_self()
    total = sum(sum(v) for v in per.values()) or 1.0
    n_ops = len({sp.op for sp in run.tracer.spans})
    print(f"trace: {n_ops} traced ops, {len(run.tracer.spans)} spans", file=out)
    print(f"{'span':44s} {'ops':>4s} {'self p50 ms':>12s} {'share':>7s}", file=out)
    for name, vals in sorted(per.items(), key=lambda kv: -sum(kv[1])):
        print(f"{name:44s} {len(vals):4d} {med(vals):12.1f} {sum(vals) / total:7.1%}", file=out)
    print("per-layer counts:", file=out)
    for name, unit in PER_LAYER.items():
        if unit != "ms":
            print(f"  {name:44s} {metrics[name]:12.4g} {unit}", file=out)
    print(
        f"tracing overhead: {metrics['trace.overhead_ms']:.1f} ms per op "
        f"(traced p50 {metrics['trace.traced_op_p50_ms']:.1f} ms, "
        f"untraced p50 {metrics['trace.untraced_op_p50_ms']:.1f} ms)",
        file=out,
    )


def as_result(run: Run, trace: bool) -> dict:
    attempted, failed = run.counts()
    values = run.per_layer() if trace else run.end_to_end()
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    setup_started = time.perf_counter()
    work = prepare_process(args.workload)
    import numpy as np

    from harness import cores, host_record
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    spark, get_spark_s, heap = start_session()
    try:
        tracer = Tracer(spark, cores())
        wl = WORKLOADS[args.workload](
            spark, tracer, np.random.default_rng(args.seed), work, "full"
        )
        run = Run(spark, get_spark_s, wl, tracer)
        run.execute(args.seconds, bool(args.trace), setup_started)
        result = as_result(run, bool(args.trace))
        record = host_record(spark, args.seed, heap)
        record.update(
            workload=wl.name, inputs=wl.inputs, clients=wl.clients,
            setup_phases=run.phases,
            peak_rss_mb=round(run.peak_rss_mb, 1),
            op_ms=[round(r.seconds * 1000.0, 1) for r in run.records()],
        )
        if args.trace:
            tracer.dump(os.path.join(work, "spans.jsonl"))
            trace_summary(run, {k: v["value"] for k, v in result["metrics"].items()})
    finally:
        stop_session(spark)
    print(json.dumps({"perfbench_config": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
