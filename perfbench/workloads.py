"""The four workloads. Each one generates its inputs from the seed in
``setup``, runs one unit of work per ``op`` through the program's
public functions, and checks kept outputs in ``check`` (untimed).

A workload also names the layer functions the traced run wraps
(``trace``) and the per-layer numbers only it can read (``layer``).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrameReader, functions as F

import gen
from harness import OpResult, fresh_dir, frame_hash

from stock_market_etl_spark import pipeline, quality, sinks
from stock_market_etl_spark.catalog import all_oracles, extensions
from stock_market_etl_spark.operators import dedup, text
from stock_market_etl_spark.plans import dashboard
from stock_market_etl_spark.streaming import core

#: full-scale and smoke-scale (self-test) sizes per workload.
#: ``op_s`` is the nominal seconds one client spends per op at full
#: scale on a 4-core host; it turns ``--seconds`` into a fixed op count.
SIZES = {
    "hourly_increment": {
        "full": {"tickers": 24, "clients": 1, "op_s": 2.0},
        "smoke": {"tickers": 4, "clients": 1, "op_s": 2.0},
    },
    "dashboard_reads": {
        "full": {"tickers": 100, "clients": 4, "op_s": 1.2},
        "smoke": {"tickers": 8, "clients": 1, "op_s": 1.2},
    },
    "curation_batch": {
        "full": {"docs": 1000, "clients": 2, "op_s": 6.0},
        "smoke": {"docs": 200, "clients": 1, "op_s": 6.0},
    },
    "stream_drain": {
        "full": {"events": 60_000, "users": 1500, "clients": 2, "op_s": 4.5},
        "smoke": {"events": 2_000, "users": 50, "clients": 1, "op_s": 4.5},
    },
}


def _wrap_reader(tracer) -> None:
    """Trace every parquet read as ``io.listing``: building the reader's
    file index is where the engine lists the lake, so the span holds
    the listing cost, and it records how many files the listing found."""
    tracer.wrap(
        DataFrameReader, "parquet", "io.listing",
        count=lambda df: {"files": len(df.inputFiles())},
    )


class Workload:
    def __init__(self, spark, tracer, rng: np.random.Generator, work: str, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.rng = rng
        self.work = work
        self.size = SIZES[self.name][scale]
        self.clients = self.size.get("clients", 1)
        self.inputs: dict = {}

    def prepare(self, i: int) -> None:
        """Untimed per-op preparation (default: none)."""

    def warmup(self) -> int:
        """Run the untimed warm-up ops; return how many were used."""
        self.prepare(0)
        self.op(0)
        return 1

    #: op counts are whole multiples of this (a full stratified block)
    block = 1

    def op_count(self, seconds: float) -> int:
        """The fixed number of ops that fill ``seconds`` at the nominal
        op time: a whole number of rounds of every client, and of
        stratified blocks. A fixed count puts every run's median at the
        same point of the engine's warm-up curve, which a time-bounded
        loop would not."""
        step = self.clients * self.block // math.gcd(self.clients, self.block)
        want = seconds * self.clients / self.size["op_s"]
        return max(step, step * round(want / step))

    def keep(self, i: int) -> bool:
        """Whether op ``i``'s output goes through the correctness gate."""
        return True

    def layer(self, tracer, traced_ops: list) -> dict:
        return {}


# --------------------------------------------------------------------------
# hourly_increment: the write path


class HourlyIncrement(Workload):
    """One op = one hourly run: ``pipeline.run_increment`` with the next
    trading day for every ticker plus ~1 % restated past bars, then
    ``pipeline.load_serving`` and ``sinks.save_serving_table``. Every op
    starts from the same set-up lake, so every op must land the same
    serving table."""

    name = "hourly_increment"
    base_days = ("2023-01-02", "2023-06-29")
    next_day = "2023-06-30"

    def setup(self) -> None:
        w = self.work
        names = gen.tickers(self.size["tickers"])
        days = gen.trading_days(*self.base_days)
        base = gen.bars_table(self.rng, names, days)
        last = base.filter(pc.equal(base.column("date"), base.column("date")[len(days) - 1]))
        new_day = gen.next_day_bars(self.rng, last, gen.trading_days(self.next_day, self.next_day)[0])
        fixes = gen.restate(self.rng, base, 0.01)
        self.increment = pa.concat_tables([new_day, fixes])
        self.final_bars = pa.concat_tables([gen.apply_restatements(base, fixes), new_day])
        gen.write(base, f"{w}/raw_base.parquet")
        gen.write(self.increment, f"{w}/increment.parquet")
        self.lake_base = f"{w}/lake_base"
        self.serving0 = f"{w}/serving0"
        raw = self.spark.read.parquet(f"{w}/raw_base.parquet")
        pipeline.backfill(raw, self.lake_base)
        lake = self.spark.read.parquet(self.lake_base).drop("year")
        sinks.save_serving_table(
            pipeline.load_serving(lake, None), "perfbench_serving0",
            path=self.serving0, mode="overwrite",
        )
        self.inputs = {
            "tickers": len(names),
            "base_bars": base.num_rows,
            "lake_partitions": len(names) * len({d.year for d in days}),
            "increment_bars": self.increment.num_rows,
            "new_bars": new_day.num_rows,
        }
        self.new_bars = new_day.num_rows
        self._expected = None

    def prepare(self, i: int) -> None:
        """Each op gets its own copy of the set-up lake."""
        lake = self._lake(i)
        shutil.rmtree(lake, ignore_errors=True)
        shutil.copytree(self.lake_base, lake)

    def _lake(self, i: int) -> str:
        return f"{self.work}/lake_op{i}"

    def op(self, i: int) -> OpResult:
        spark = self.spark
        new_raw = spark.read.parquet(f"{self.work}/increment.parquet")
        metrics = pipeline.run_increment(spark, self._lake(i), new_raw)
        state = pipeline.load_serving(metrics, spark.read.parquet(self.serving0))
        out = f"{self.work}/serving_op{i}"
        sinks.save_serving_table(
            state, f"perfbench_serving_op{i}", path=out, mode="overwrite"
        )
        return OpResult(self.new_bars, {"serving": out, "lake": self._lake(i)})

    def _expect(self) -> tuple:
        """One-shot backfill over the same final bars, then load_serving
        onto the set-up serving table."""
        if self._expected is None:
            w = self.work
            gen.write(self.final_bars, f"{w}/raw_final.parquet")
            oneshot = f"{w}/lake_oneshot"
            shutil.rmtree(oneshot, ignore_errors=True)
            pipeline.backfill(self.spark.read.parquet(f"{w}/raw_final.parquet"), oneshot)
            serving = pipeline.load_serving(
                self.spark.read.parquet(oneshot).drop("year"),
                self.spark.read.parquet(self.serving0),
            )
            self._expected = frame_hash(serving)
        return self._expected

    def check(self, output) -> bool:
        return frame_hash(self.spark.read.parquet(output["serving"])) == self._expect()

    def corrupt(self, output):
        bad = f"{self.work}/serving_corrupt"
        df = self.spark.read.parquet(output["serving"])
        df.withColumn(
            "close",
            F.when(F.col("ticker") == F.lit("T0000"), F.col("close") + 0.01).otherwise(F.col("close")),
        ).write.mode("overwrite").parquet(bad)
        return {"serving": bad, "lake": output["lake"]}

    def trace(self, tracer) -> None:
        _wrap_reader(tracer)
        tracer.wrap(pipeline, "run_increment", "pipeline.run_increment")
        tracer.wrap(pipeline, "pruned_history", "pipeline.pruned_history", force=True)
        tracer.wrap(pipeline, "merge_increment", "pipeline.merge_increment", force=True)
        tracer.wrap(pipeline, "enrich", "pipeline.enrich", force=True)
        tracer.wrap(pipeline, "validate", "quality.validate")
        tracer.wrap(pipeline, "write_partitioned", "io.write_partitioned")
        tracer.wrap(pipeline, "load_serving", "pipeline.load_serving", force=True)
        tracer.wrap(sinks, "save_serving_table", "sinks.save_serving_table")

    def layer(self, tracer, traced_ops: list) -> dict:
        before = _parquet_files(self.lake_base)
        files, rows = [], []
        for rec in traced_ops:
            new = _parquet_files(rec.output["lake"]) - before
            files.append(len(new))
            rows.append(sum(
                pq.read_metadata(os.path.join(rec.output["lake"], p)).num_rows
                for p in new
            ))
        return {
            "io.files_written": statistics.median(files) if files else 0,
            "io.rows_written_per_new_row": (
                statistics.median(rows) / self.inputs["increment_bars"] if rows else 0
            ),
            "pipeline.run_increment_jobs": statistics.median(
                tracer.subtree_counts("pipeline.run_increment", "jobs")
            ),
        }


def _parquet_files(root: str) -> set[str]:
    """Data files under ``root``, as paths relative to it."""
    out = set()
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        out.update(os.path.join(rel, f) for f in files if f.endswith(".parquet"))
    return out


# --------------------------------------------------------------------------
# dashboard_reads: the read path

KINDS = ("compute_trends", "final_returns", "relative_returns",
         "latest_snapshot", "top_movers")


class DashboardReads(Workload):
    """Client threads issue the five ``plans.dashboard`` queries against
    a serving table built by the pipeline's own write path. Each block
    of five ops holds every query kind once (stratified mix); the seed
    picks the order inside a block and every parameter. Tickers follow
    a Zipf(1.1) popularity."""

    name = "dashboard_reads"
    block = 5
    days = ("2021-01-04", "2023-12-29")
    blocks = 400

    def setup(self) -> None:
        w = self.work
        self.names = gen.tickers(self.size["tickers"])
        days = gen.trading_days(*self.days)
        raw = gen.bars_table(self.rng, self.names, days)
        gen.write(raw, f"{w}/raw.parquet")
        gen.write(gen.companies_table(self.names), f"{w}/companies.parquet")
        self.serving_path = f"{w}/serving"
        metrics = quality.validate(pipeline.enrich(self.spark.read.parquet(f"{w}/raw.parquet")))
        sinks.save_serving_table(
            pipeline.load_serving(metrics, None), "perfbench_dashboard_serving",
            path=self.serving_path, mode="overwrite",
        )
        self.serving = self.spark.read.parquet(self.serving_path)
        self.companies = self.spark.read.parquet(f"{w}/companies.parquet")
        self.schedule = self._schedule(list(days))
        # one seeded position per block of five is checked
        pos = self.rng.integers(0, len(KINDS), self.blocks)
        idx = np.arange(len(self.schedule))
        self._checked = idx % len(KINDS) == pos[idx // len(KINDS)]
        self.inputs = {
            "tickers": len(self.names),
            "serving_rows": raw.num_rows,
            "clients": self.clients,
        }

    def _schedule(self, days: list) -> list[dict]:
        rng = self.rng
        rank_to_ticker = rng.permutation(len(self.names))
        picks = gen.zipf_indices(rng, len(self.names), 2 * self.blocks * len(KINDS))
        tick = [self.names[rank_to_ticker[p]] for p in picks]
        out = []
        for b in range(self.blocks):
            for k in rng.permutation(len(KINDS)):
                j = len(out)
                lo = int(rng.integers(30, len(days) // 2))
                hi = int(min(len(days) - 1, lo + rng.integers(120, 500)))
                base, comp = tick[2 * j], tick[2 * j + 1]
                if comp == base:
                    comp = self.names[(self.names.index(base) + 1) % len(self.names)]
                out.append({
                    "kind": KINDS[k],
                    "ticker": base,
                    "comp": comp,
                    "d0": days[lo].to_pydatetime(),
                    "d1": days[hi].to_pydatetime(),
                    "k": int(rng.integers(5, 21)),
                })
        return out

    def keep(self, i: int) -> bool:
        return bool(self._checked[i % len(self.schedule)])

    def query(self, q: dict):
        s = self.serving
        kw = {"key": "ticker", "time": "date", "tiebreak": "ingest_ts"}
        window = s.filter(F.col("date").between(F.lit(q["d0"]), F.lit(q["d1"])))
        upto = s.filter(F.col("date") <= F.lit(q["d1"]))
        kind = q["kind"]
        if kind == "compute_trends":
            return dashboard.compute_trends(
                window.filter(F.col("ticker") == q["ticker"]), price="close", **kw
            )
        if kind == "final_returns":
            return dashboard.final_returns(window, price="close", **kw)
        if kind == "relative_returns":
            return dashboard.relative_returns(window, q["ticker"], q["comp"], price="close", **kw)
        if kind == "latest_snapshot":
            fact = upto.select("ticker", "date", "ingest_ts", "close", "daily_return")
            return dashboard.latest_snapshot(
                fact, self.companies, "ticker", "ticker_symbol", "date", "ingest_ts"
            )
        return dashboard.top_movers(upto, return_col="daily_return", k=q["k"], **kw)

    def warmup(self) -> int:
        """One query of each kind: the first five ops hold every kind."""
        for i in range(len(KINDS)):
            self.op(i)
        return len(KINDS)

    def op(self, i: int) -> OpResult:
        q = self.schedule[i % len(self.schedule)]
        with self.tracer.span("plans.dashboard." + q["kind"]):
            rows = self.query(q).collect()
        return OpResult(1, (q, [tuple(r) for r in rows]) if self.keep(i) else None)

    # -- DuckDB twin -------------------------------------------------------

    def _oracle_sql(self, q: dict) -> str:
        us = lambda d: int((d - datetime(1970, 1, 1)) / timedelta(microseconds=1))  # noqa: E731
        d0, d1 = us(q["d0"]), us(q["d1"])
        win = f"epoch_us(date) BETWEEN {d0} AND {d1}"
        cum = """
          SELECT ticker, date::TIMESTAMP AS date, ingest_ts::TIMESTAMP AS ingest_ts, close,
            exp(sum(ln(1 + coalesce(dr, 0))) OVER (PARTITION BY ticker
              ORDER BY date, ingest_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cum
          FROM (SELECT *, (close - lag(close) OVER w) / lag(close) OVER w AS dr
                FROM serving WHERE {pred}
                WINDOW w AS (PARTITION BY ticker ORDER BY date, ingest_ts))"""
        kind = q["kind"]
        if kind == "compute_trends":
            c = cum.format(pred=f"{win} AND ticker = '{q['ticker']}'")
            return f"SELECT ticker, date, ingest_ts, close, cum, 10000.0 * cum FROM ({c})"
        if kind == "final_returns":
            c = cum.format(pred=win)
            return f"SELECT ticker, arg_max(cum, date), max(date) FROM ({c}) GROUP BY ticker"
        if kind == "relative_returns":
            c = cum.format(pred=f"{win} AND ticker IN ('{q['ticker']}', '{q['comp']}')")
            return f"""
              WITH daily AS (SELECT ticker, CAST(date AS DATE) AS day,
                                    arg_max(cum, date) AS r
                             FROM ({c}) GROUP BY ticker, CAST(date AS DATE))
              SELECT b.day, b.r, c.r, 100 * (b.r - c.r)
              FROM daily b JOIN daily c ON b.day = c.day
              WHERE b.ticker = '{q['ticker']}' AND c.ticker = '{q['comp']}'"""
        if kind == "latest_snapshot":
            return f"""
              SELECT ticker, date::TIMESTAMP, ingest_ts::TIMESTAMP, close, daily_return,
                     ticker_symbol, security_name, gics_sector
              FROM (SELECT *, row_number() OVER (PARTITION BY ticker
                                ORDER BY date DESC, ingest_ts DESC) AS rn
                    FROM serving WHERE epoch_us(date) <= {d1}) f
              JOIN companies ON f.ticker = ticker_symbol WHERE rn = 1"""
        return f"""
          WITH last AS (SELECT ticker, arg_max(daily_return, date) AS r FROM serving
                        WHERE daily_return IS NOT NULL AND epoch_us(date) <= {d1}
                        GROUP BY ticker)
          (SELECT ticker, r, 'gainer' FROM last ORDER BY r DESC, ticker LIMIT {q['k']})
          UNION ALL
          (SELECT ticker, r, 'loser' FROM last ORDER BY r ASC, ticker LIMIT {q['k']})"""

    def check(self, output) -> bool:
        q, rows = output
        if not hasattr(self, "_con"):
            self._con = duckdb.connect()
            self._con.sql("SET TimeZone = 'UTC'")
            self._con.sql(
                f"CREATE VIEW serving AS SELECT * FROM read_parquet('{self.serving_path}/*.parquet')"
            )
            self._con.sql(
                f"CREATE VIEW companies AS SELECT * FROM read_parquet('{self.work}/companies.parquet')"
            )
        want = [tuple(r) for r in self._con.sql(self._oracle_sql(q)).fetchall()]
        return _rows_match(rows, want)

    def corrupt(self, output):
        q, rows = output
        return q, rows + rows[:1]

    def trace(self, tracer) -> None:
        _wrap_reader(tracer)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row comparison, floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((x is None, str(x) if not isinstance(x, float) else "") for x in r)  # noqa: E731
    got = sorted(got, key=key)
    want = sorted(want, key=key)
    return all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


# --------------------------------------------------------------------------
# curation_batch: text and dedup operators


class CurationBatch(Workload):
    """One op = ``catalog.extensions.x87_curation_pipeline_v5`` over a
    seeded corpus with planted duplicates and eval-split leaks."""

    name = "curation_batch"

    def setup(self) -> None:
        self.corpus = fresh_dir(f"{self.work}/corpus")
        docs = gen.documents_table(self.rng, self.size["docs"], dup_share=0.12, leak_share=0.06)
        gen.write(docs, f"{self.corpus}/documents.parquet")
        ids = docs.column("doc_id").to_numpy()
        self.universe = int((ids % 10 < 8).sum())
        self.inputs = {"docs": docs.num_rows, "training_docs": self.universe}
        self._expected = None
        # warm up on a small corpus of the same shape: the first run's
        # cost is mostly fixed (code generation, Python workers)
        self.warm_corpus = fresh_dir(f"{self.work}/warm_corpus")
        gen.write(
            gen.documents_table(self.rng, 200, dup_share=0.12, leak_share=0.06),
            f"{self.warm_corpus}/documents.parquet",
        )

    def warmup(self) -> int:
        extensions.x87_curation_pipeline_v5(self.spark, self.warm_corpus).collect()
        return 0

    def op(self, i: int) -> OpResult:
        rows = extensions.x87_curation_pipeline_v5(self.spark, self.corpus).collect()
        return OpResult(self.inputs["docs"], [tuple(r) for r in rows])

    def check(self, output) -> bool:
        if self._expected is None:
            con = duckdb.connect()
            con.sql(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.corpus}/documents.parquet')"
            )
            sql = all_oracles()["x87_curation_pipeline_v5"]
            self._expected = sorted(tuple(r) for r in con.sql(sql).fetchall())
        return sorted(output) == self._expected

    def corrupt(self, output):
        return output[:-1]

    def trace(self, tracer) -> None:
        _wrap_reader(tracer)
        tracer.wrap(text, "source_reputation", "operators.text.source_reputation", force=True)
        for fn in ("exact_substring_spans", "cut_spans", "contaminated_spans"):
            tracer.wrap(dedup, fn, f"operators.dedup.{fn}", force=True)

    def layer(self, tracer, traced_ops: list) -> dict:
        kept = [len(r.output) / self.universe for r in traced_ops]
        return {"catalog.curation_docs_kept_share": statistics.median(kept) if kept else 0}


# --------------------------------------------------------------------------
# stream_drain: Structured Streaming bar upkeep


class StreamDrain(Workload):
    """One op = an ``availableNow`` drain of the seeded events file
    through ``stream_events`` -> ``ohlc_bars`` -> ``run_available_now``
    (complete mode, memory sink, fresh checkpoint)."""

    name = "stream_drain"

    def setup(self) -> None:
        self.src = fresh_dir(f"{self.work}/stream")
        ev = gen.events_table(self.rng, self.size["events"], self.size["users"], 30)
        gen.write(ev, f"{self.src}/events.parquet")
        self.inputs = {"events": ev.num_rows, "users": self.size["users"], "days": 30}
        self._expected = None

    def op(self, i: int) -> OpResult:
        bars = core.ohlc_bars(core.stream_events(self.spark, self.src))
        q = core.run_available_now(
            bars, f"perfbench_bars_op{i}", f"{self.work}/ckpt_op{i}", "complete"
        )
        self.tracer.add_job_group(str(q.runId))
        progress = q.recentProgress
        drained = sum(p["numInputRows"] for p in progress)
        return OpResult(drained, {"table": f"perfbench_bars_op{i}", "progress": progress})

    def check(self, output) -> bool:
        if self._expected is None:
            self._expected = frame_hash(core.ohlc_bars(core.batch_events(self.spark, self.src)))
        return frame_hash(self.spark.table(output["table"])) == self._expected

    def corrupt(self, output):
        bad = f"{output['table']}_corrupt"
        self.spark.table(output["table"]).filter(F.col("n_ticks") > 1).createOrReplaceTempView(bad)
        return {"table": bad, "progress": output["progress"]}

    def trace(self, tracer) -> None:
        _wrap_reader(tracer)
        tracer.wrap(core, "stream_events", "streaming.core.stream_events")
        tracer.wrap(core, "ohlc_bars", "streaming.core.ohlc_bars")
        tracer.wrap(core, "run_available_now", "streaming.core.run_available_now")

    def layer(self, tracer, traced_ops: list) -> dict:
        def per_op(fn):
            vals = [fn(r.output["progress"]) for r in traced_ops]
            return statistics.median(vals) if vals else 0

        def dur(key):
            return lambda ps: sum(p["durationMs"].get(key, 0) for p in ps)

        def state(key):
            return lambda ps: sum(
                s.get(key, 0) for p in ps for s in p["stateOperators"]
            )

        last_state = lambda key: lambda ps: (  # noqa: E731
            sum(s.get(key, 0) for s in ps[-1]["stateOperators"]) if ps else 0
        )
        return {
            "streaming.core.batches": per_op(len),
            "streaming.core.trigger_ms": per_op(dur("triggerExecution")),
            "streaming.core.query_planning_ms": per_op(dur("queryPlanning")),
            "streaming.core.wal_commit_ms": per_op(dur("walCommit")),
            "streaming.core.state_rows": per_op(last_state("numRowsTotal")),
            "streaming.core.state_mb": per_op(last_state("memoryUsedBytes")) / 1e6,
            "streaming.core.state_commit_ms": per_op(state("commitTimeMs")),
        }


WORKLOADS = {
    w.name: w for w in (HourlyIncrement, DashboardReads, CurationBatch, StreamDrain)
}
