"""SURVEY §2.M — UDF/UDAF/UDTF surface as named oracle-checked queries.

Each query routes through a Python extension point but computes a
deterministic, SQL-expressible answer — proving the extension machinery
(Arrow batching, grouped aggregation, lateral table functions) without
sacrificing the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from stock_market_etl_spark.catalog import registry
from stock_market_etl_spark.functions.udfs import (
    OhlcUnpivotUDTF,
    format_direction_pandas,
    mean_abs_return,
)
from stock_market_etl_spark.io import load_table

QUERIES, ORACLES, _q = registry()


_DR = """SELECT event_id, user_id,
           round(value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1, 6) AS dr
         FROM events"""


@_q(
    "m1_pandas_udf_format",
    f"""SELECT event_id,
              CASE WHEN dr > 0 THEN 'UP'
                   WHEN dr < 0 THEN 'DOWN'
                   ELSE 'FLAT' END AS direction
       FROM ({_DR})""",
)
def m1_pandas_udf_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: scalar pandas_udf (Arrow-batched) computing I9's sign format —
    must return the identical answer to the native when/otherwise form."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dr = F.round(F.col("value") / F.lag("value", 1).over(w) - 1, 6)
    return ev.select(
        "event_id", format_direction_pandas(dr).alias("direction")
    )


@_q(
    "m2_grouped_agg_pandas_udf",
    f"""SELECT user_id, round(avg(abs(dr)), 6) AS mean_abs_dr
       FROM ({_DR})
       GROUP BY user_id""",
)
def m2_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: grouped-aggregate pandas_udf (UDAF path) — per-user mean
    absolute return, checked against the built-in avg(abs(x))."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dr = F.round(F.col("value") / F.lag("value", 1).over(w) - 1, 6)
    return (
        ev.select("user_id", dr.alias("dr"))
        .groupBy("user_id")
        .agg(F.round(mean_abs_return("dr"), 6).alias("mean_abs_dr"))
    )


@_q(
    "m3_udtf_ohlc_unpivot",
    """SELECT event_id, u.field, round(u.val, 6) AS val
       FROM (SELECT event_id,
                    round(value * 0.99, 6) AS open,
                    round(value * 1.01, 6) AS high,
                    round(value * 0.98, 6) AS low,
                    round(value, 6) AS close
             FROM events),
            unnest([struct_pack(field := 'open', val := open),
                    struct_pack(field := 'high', val := high),
                    struct_pack(field := 'low', val := low),
                    struct_pack(field := 'close', val := close)]) AS t(u)""",
)
def m3_udtf_ohlc_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: PySpark 4 UDTF exploding an OHLC bar into (field, value)
    rows via a lateral join — the J1 wide→long stack as a Python table
    function."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.select(
        "event_id",
        F.round(F.col("value") * 0.99, 6).alias("open"),
        F.round(F.col("value") * 1.01, 6).alias("high"),
        F.round(F.col("value") * 0.98, 6).alias("low"),
        F.round(F.col("value"), 6).alias("close"),
    )
    spark.udtf.register("ohlc_unpivot", OhlcUnpivotUDTF)
    bars.createOrReplaceTempView("__m3_bars")
    return spark.sql(
        """SELECT b.event_id, t.field, round(t.val, 6) AS val
           FROM __m3_bars b,
                LATERAL ohlc_unpivot(b.open, b.high, b.low, b.close) t"""
    )


@_q(
    "m4_grouped_map_zscore",
    """SELECT event_id, user_id,
              round((value - avg(value) OVER (PARTITION BY user_id))
                    / NULLIF(stddev_samp(value)
                             OVER (PARTITION BY user_id), 0),
                    6) AS zscore
       FROM events""",
)
def m4_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M (surface): grouped-map Pandas UDF via `applyInPandas` — the
    whole-group-at-once extension API (each user's events arrive as ONE
    pandas frame; the per-group normalization is then plain numpy).
    Chosen deliberately as something built-ins CAN express (the window
    form is the oracle) so the API demo stays hash-checkable; real uses
    are per-group model fits and other non-SQL group logic. Scale note:
    one shuffle on the group key, group must fit one executor's memory
    — for skewed groups prefer built-in windows or chunked forms
    (cf. operators/sampling.py two-phase prefix sum)."""
    ev = load_table(spark, sf_dir, "events")

    def zscore(pdf):
        import numpy as np

        v = pdf["value"].to_numpy()
        out = pdf[["event_id", "user_id"]].copy()
        # singleton / zero-variance groups → NULL (not NaN/inf): SQL's
        # stddev_samp of one row is NULL and the oracle NULLIFs a zero
        # stddev, so the Python path must agree
        sd = v.std(ddof=1) if len(v) > 1 else 0.0
        out["zscore"] = (v - v.mean()) / sd if sd > 0 else None
        return out

    # rounding happens Spark-side: F.round is HALF_UP (away from zero)
    # like DuckDB's round, while np.round is banker's — a .xxxxxx5
    # boundary value would hash-mismatch if rounded in numpy
    return (
        ev.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInPandas(zscore, "event_id long, user_id long, zscore double")
        .select("event_id", "user_id", F.round("zscore", 6).alias("zscore"))
    )


@_q(
    "m5_map_in_arrow",
    """SELECT event_id,
              round(value * 0.01, 6) AS scaled,
              round(abs(value), 6) AS magnitude
       FROM events""",
)
def m5_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M (surface): `mapInArrow` — the lowest-overhead Python batch API
    (raw pyarrow RecordBatches, no pandas conversion on either side;
    PySpark 4's fifth UDF flavor after pandas_udf / grouped-agg / UDTF /
    applyInPandas). Per-batch compute is pyarrow.compute kernels — C++
    vectorized, like numpy without the pandas materialization cost.
    Chosen as something built-ins CAN express so the API demo stays
    hash-checkable (same rule as m4); real uses are zero-copy handoffs
    to Arrow-native libs (tokenizers, ONNX, polars). Rounding happens
    Spark-side (HALF_UP, matching DuckDB; pyarrow.compute.round is
    half-to-even)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    def batches(it):
        for batch in it:
            value = batch.column("value")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("event_id"),
                    pc.multiply(value, pa.scalar(0.01)),
                    pc.abs(value),
                ],
                names=["event_id", "scaled", "magnitude"],
            )

    out = ev.mapInArrow(
        batches, "event_id long, scaled double, magnitude double"
    )
    return out.select(
        "event_id",
        F.round("scaled", 6).alias("scaled"),
        F.round("magnitude", 6).alias("magnitude"),
    )


@_q(
    "m6_iter_pandas_udf",
    """SELECT event_id,
              round(least(greatest(value, 1.0), 400.0), 6) AS clipped
       FROM events""",
)
def m6_iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M (surface): iterator-form scalar pandas UDF — the sixth Python
    batch API (Iterator[pd.Series] → Iterator[pd.Series]). The body
    runs once per PARTITION and loops over Arrow batches, so expensive
    setup (model/tokenizer load) amortizes per task instead of per
    batch — the canonical shape for inference stages over a 100 TB
    corpus. The demo computation is winsorization to fixed bounds
    (something built-ins CAN express) so the API stays hash-checkable,
    per the m4/m5 rule."""
    from stock_market_etl_spark.functions.udfs import clip_outliers_iter

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return ev.select(
        "event_id",
        F.round(clip_outliers_iter("value"), 6).alias("clipped"),
    )


@_q(
    "m7_cogrouped_map",
    """WITH t AS (
         SELECT user_id,
                CASE WHEN EXTRACT(day FROM ts) <= 15
                     THEN 1 ELSE 0 END AS early,
                value
         FROM events)
       SELECT user_id,
              CAST(sum(early) AS BIGINT) AS n_early,
              CAST(sum(1 - early) AS BIGINT) AS n_late,
              round(sum(CASE WHEN early = 1 THEN value END), 6)
                AS sum_early,
              round(sum(CASE WHEN early = 0 THEN value END), 6)
                AS sum_late
       FROM t GROUP BY user_id""",
)
def m7_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M (surface): cogrouped-map Pandas UDF —
    ``a.groupby(k).cogroup(b.groupby(k)).applyInPandas`` — the seventh
    Python batch API: each key's slices of TWO DataFrames arrive as a
    pair of pandas frames (either possibly empty), the shape for
    per-key reconciliation/as-of logic that isn't a plain join. The
    demo reconciles a user's first-half-of-month events against the
    second half (counts + side totals — totals, not means: the
    fixture's 2-decimal values divided by small group counts land
    exactly on 6th-decimal round midpoints, which HALF_UP and
    float-multiply engines split); built-ins CAN express it (one
    conditional aggregation — the oracle), keeping the API demo
    hash-checkable per the m4/m5/m6 rule. Scale note: one shuffle per
    side on the group key and each key's two slices must fit one
    executor's memory together — same contract as applyInPandas, with
    Arrow batching both directions. Rounding is Spark-side (HALF_UP,
    matches DuckDB; numpy rounds half-to-even).

    Spark quirk, load-bearing: when BOTH cogroup sides derive from
    the same scan, the analyzer's attribute dedup silently PRUNES the
    right side's non-key columns out of the pandas frames (the right
    frame arrives with only the grouping key). Aliasing the right
    side's payload column mints a fresh expression id and defeats the
    collapse — hence ``rvalue``."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    early = ev.filter(F.dayofmonth("ts") <= 15).select("user_id", "value")
    late = ev.filter(F.dayofmonth("ts") > 15).select(
        "user_id", F.col("value").alias("rvalue")
    )

    def reconcile(key, left, right):
        import pandas as pd

        ne, nl = len(left), len(right)
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_early": [ne],
                "n_late": [nl],
                "sum_early": [
                    float(left["value"].sum()) if ne else None
                ],
                "sum_late": [
                    float(right["rvalue"].sum()) if nl else None
                ],
            }
        )

    out = (
        early.groupBy("user_id")
        .cogroup(late.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id long, n_early long, n_late long, "
            "sum_early double, sum_late double",
        )
    )
    return out.select(
        "user_id",
        "n_early",
        "n_late",
        F.round("sum_early", 6).alias("sum_early"),
        F.round("sum_late", 6).alias("sum_late"),
    )


@_q(
    "m8_arrow_optimized_udf",
    f"""SELECT event_id,
              round(CASE WHEN dr IS NULL THEN NULL
                         WHEN dr >= 0 THEN ln(1 + dr)
                         ELSE -ln(1 - dr) END, 6) AS slog_return
       FROM (SELECT event_id,
                    value / lag(value) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) - 1 AS dr
             FROM events)""",
)
def m8_arrow_optimized_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: the eighth Python batch API — ARROW-OPTIMIZED scalar @udf
    (``useArrow=True``): per-row Python logic, Arrow-batched transport
    (functions/udfs.py signed_log_return_arrow). The migration path
    for legacy row-wise UDFs that can't be vectorized wholesale: same
    call sites, pickled-row serialization swapped for Arrow. Computes
    the symmetric log return over F1's unrounded pct-change; the
    oracle replays it in pure SQL — switching serialization engines
    must never change the answer."""
    from stock_market_etl_spark.functions.udfs import signed_log_return_arrow

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dr = F.col("value") / F.lag("value", 1).over(w) - 1
    return ev.select(
        "event_id",
        F.round(signed_log_return_arrow(dr), 6).alias("slog_return"),
    )
