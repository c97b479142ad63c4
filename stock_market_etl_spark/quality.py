"""Data-quality operators (SURVEY §2.K): schema presence, dtype, and
key-null checks wired as a write barrier.

Reimplements the reference's ``data_quality_checks``
(`scripts/transform.py:81-111`) and its gate semantics
(`scripts/transform.py:127-136`): only quality-passing batches are
persisted. Null auditing is one distributed aggregation (E7) — a single
job, no per-column passes, no driver-side row scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

#: the reference's enforced "expected schema" for the enriched fact
#: table (`scripts/transform.py:82-87`), in Spark types (SURVEY §1.2).
STOCK_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("ticker", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
        T.StructField("daily_return", T.DoubleType()),
        T.StructField("rolling_vol_30d", T.DoubleType()),
    ]
)

KEY_COLUMNS = ("ticker", "date")


class DataQualityError(ValueError):
    """Raised when a batch fails the quality gate (K4): the batch must
    not be persisted (reference `scripts/transform.py:133-136`)."""


def missing_columns(df: DataFrame, expected: T.StructType) -> list[str]:
    """K1: expected columns absent from the frame
    (`scripts/transform.py:90-93`)."""
    have = set(df.columns)
    return [f.name for f in expected.fields if f.name not in have]


def dtype_mismatches(
    df: DataFrame, expected: T.StructType
) -> dict[str, tuple[str, str]]:
    """K2: per-column (actual, expected) type mismatches
    (`scripts/transform.py:96-101`)."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    return {
        f.name: (actual[f.name].simpleString(), f.dataType.simpleString())
        for f in expected.fields
        if f.name in actual and actual[f.name] != f.dataType
    }


def null_key_counts(
    df: DataFrame, keys: tuple[str, ...] = KEY_COLUMNS
) -> dict[str, int]:
    """K3/E7: null count per key column, one aggregation job
    (`scripts/transform.py:104-109`)."""
    row = df.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(c)
            for c in keys
        ]
    ).collect()[0]
    return {c: (row[c] or 0) for c in keys}


def validate(df: DataFrame) -> DataFrame:
    """K4: the gate — raise ``DataQualityError`` on any K1/K2/K3
    violation, else return ``df`` unchanged so the gate composes inline
    before writes (`scripts/transform.py:127-136`)."""
    missing = missing_columns(df, STOCK_METRICS_SCHEMA)
    if missing:
        raise DataQualityError(f"missing columns: {missing}")
    mismatched = dtype_mismatches(df, STOCK_METRICS_SCHEMA)
    if mismatched:
        raise DataQualityError(f"dtype mismatches: {mismatched}")
    nulls = {c: n for c, n in null_key_counts(df).items() if n > 0}
    if nulls:
        raise DataQualityError(f"nulls in key columns: {nulls}")
    return df


def observe_audit(
    df: DataFrame,
    keys: tuple[str, ...] = KEY_COLUMNS,
    watermark_col: str | None = None,
):
    """Single-pass audit rider (K3/L1 at scale): attach the quality
    metrics — row count, per-key null counts, optional high-watermark
    max — to ``df`` as an ``Observation`` so they are computed by the
    SAME job that consumes the frame (typically the write). At 100 TB
    this halves the audit cost: ``null_key_counts``/``e1`` run a
    second full scan + aggregation, while observed metrics ride the
    write's tasks as accumulators and cost nothing extra.

    Returns ``(observed_df, observation)`` — run any action on
    ``observed_df`` (e.g. the write barrier), then read
    ``observation.get`` for the metric dict. The trade against the
    separate-audit gate (``validate``): observed metrics arrive AFTER
    the action, so they suit post-write verification and watermark
    bookkeeping, not pre-write refusal — ``validate`` stays the K4
    gate for must-not-persist batches.
    """
    from pyspark.sql import Observation

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in keys:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        )
    if watermark_col is not None:
        metrics.append(F.max(watermark_col).alias(f"max_{watermark_col}"))
    obs = Observation()
    return df.observe(obs, *metrics), obs
