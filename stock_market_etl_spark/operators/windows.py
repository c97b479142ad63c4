"""Window operators — the analytical heart of the engine (SURVEY §2.F).

Reimplements the reference's metric computation — the one declarative
plan in the reference repo (Polars LazyFrame at
`scripts/transform.py:65-79`) — plus the dashboard-side window math
(`scripts/app.py:46-52,75-97`) as pure DataFrame transforms.

Scale notes: every window here partitions by the series key (ticker /
user_id), so the only shuffle is a single hash-partition on that key;
ordering happens within partitions (no global sort). Skewed keys are
handled by AQE; at 100 TB the per-key row counts (~5k rows/ticker/20y)
stay far below task memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def pct_change(part_col: str, order_col: str, value_col: str) -> Column:
    """F1: lag-based % change per partition, null on first row.

    Reference: ``pct_change().over("ticker")`` after sort
    (`scripts/transform.py:67-70`).
    """
    w = Window.partitionBy(part_col).orderBy(order_col)
    prev = F.lag(value_col, 1).over(w)
    return (F.col(value_col) - prev) / prev


def rolling_stddev(part_col: str, order_col: str, value_col: str) -> Column:
    """F2: trailing rolling sample stddev (ddof=1) over the last
    30 rows including current.

    Reference: `scripts/transform.py:71-76` with ``ROLLING_WINDOW=30``
    (`scripts/config.py:40`), ``min_samples=1`` → null until ≥2 samples.
    Spark's ``stddev_samp`` returns NaN for a single sample where Polars
    returns null; normalized here with a count guard so cross-engine
    results align.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(-29, 0)
    )
    n = F.count(F.col(value_col)).over(w)
    return F.when(n >= 2, F.stddev_samp(value_col).over(w))


def latest_row_per_key(
    df: DataFrame, part_col: str, order_col: str
) -> DataFrame:
    """F4+C7: latest row per key via ``row_number`` descending.

    Reference: latest-per-ticker CTE (`scripts/app.py:78-92`).
    """
    w = Window.partitionBy(part_col).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("row_num", F.row_number().over(w))
        .filter(F.col("row_num") == 1)
        .drop("row_num")
    )


def compute_stock_metrics(prices: DataFrame) -> DataFrame:
    """The reference's metric pipeline (`scripts/transform.py:65-79`):
    per-series daily return + trailing rolling volatility.

    Returns the input plus ``daily_return`` and ``rolling_vol_30d``.
    Single shuffle on ``ticker``; both windows share the same
    partitioning so Catalyst computes them in one WindowExec stage pair
    without re-shuffling.
    """
    df = prices.withColumn(
        "daily_return", pct_change("ticker", "date", "close")
    )
    return df.withColumn(
        "rolling_vol_30d",
        rolling_stddev("ticker", "date", "daily_return"),
    )
