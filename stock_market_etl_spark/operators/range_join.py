"""Binned range (interval) join.

The reference has no range joins (SURVEY §2.D note) but a time-series
engine needs them: "pairs of rows within ``tolerance`` of each other on
a time axis" written naively is a cross join with an inequality
predicate — Spark plans that as BroadcastNestedLoopJoin/CartesianProduct,
an O(n²) scan that does not survive any scale-up.

The scale-correct shape is bucket equality: quantize each timestamp to a
``tolerance``-wide bin, join on bin equality (one side probes its own
bin plus both neighbours), then apply the exact |Δt| ≤ tolerance filter
bucket-locally.  The join becomes a plain hash/sort-merge equality join
that shuffle-partitions on the bin key, cost O(n · pairs-per-bin); this
is the same rewrite Databricks' range-join optimization and the binned
spatial joins in the literature perform, expressed with public DataFrame
ops so Catalyst/AQE still pick the physical strategy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from stock_market_etl_spark.operators.parallelism import fanout_width


def _micros(ts_col: Column) -> Column:
    # unix_micros accepts only TIMESTAMP; the cast makes the operator
    # total over TIMESTAMP_NTZ inputs too (value-preserving under the
    # engine's pinned-UTC session) and is a no-op on TIMESTAMP.
    return F.unix_micros(ts_col.cast("timestamp"))


def _bin(ts_col: Column, width_us: int) -> Column:
    # exact integer floor-to-multiple (pmod keeps it correct for
    # pre-epoch timestamps too, where `div`/cast would truncate up)
    micros = _micros(ts_col)
    return micros - F.pmod(micros, F.lit(width_us))


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance_s: float,
) -> DataFrame:
    """All (left, right) row pairs with |left_ts − right_ts| ≤ tolerance.

    Column names of ``left`` and ``right`` must be disjoint (rename
    before calling, as with any Spark self-join).  Each qualifying pair
    is produced exactly once: the left row probes bins {b−1, b, b+1},
    the right row sits in exactly one bin, and |Δt| ≤ tolerance implies
    the right bin is one of those three.

    The exploded probe side triples row count *before* the shuffle —
    explode the smaller input (pass it as ``left``) so the 3× lands on
    the cheap side.
    """
    width_us = int(tolerance_s * 1_000_000)
    lb = left.withColumn(
        "__probe_bin",
        F.explode(
            F.array(
                _bin(F.col(left_ts), width_us) - F.lit(width_us),
                _bin(F.col(left_ts), width_us),
                _bin(F.col(left_ts), width_us) + F.lit(width_us),
            )
        ),
    )
    rb = right.withColumn("__bin", _bin(F.col(right_ts), width_us))
    exact = (
        F.abs(_micros(F.col(left_ts)) - _micros(F.col(right_ts)))
        <= F.lit(width_us)
    )
    return (
        lb.join(rb, F.col("__probe_bin") == F.col("__bin"))
        .filter(exact)
        .drop("__probe_bin", "__bin")
    )


def interval_overlap_pairs(
    intervals: DataFrame,
    id_col: str,
    start_col: str,
    end_col: str,
    bin_s: float,
) -> DataFrame:
    """All unordered pairs of OVERLAPPING intervals, each exactly once.

    The variable-length lift of `binned_range_join`: point rows become
    [start, end] intervals, and the naive form — self-join on
    `a.start <= b.end AND b.start <= a.end` — is again a cartesian.
    Scale shape: explode every interval onto the `bin_s`-wide time
    bins it covers (`sequence(bin(start), bin(end))`), equi-join on
    the bin, then keep each qualifying pair ONLY in its anchor bin —
    the bin containing `greatest(a.start, b.start)`. Overlap implies
    the later start lies inside both intervals, so both sides cover
    that bin and the pair is emitted exactly once, with no distinct
    pass over the pair stream.

    Cost is O(n · pairs-per-bin); each interval is replicated
    ceil(len/bin_s)+1 times BEFORE the shuffle, so pick `bin_s` near
    the typical interval length (replication ~2×) — a bin much
    smaller than the longest interval turns that interval into a
    hot-key fan-out, the documented skew knob. Output: both sides'
    columns prefixed `a_`/`b_` with `a.id < b.id`, plus
    `overlap_us` = micros the two intervals share.
    """
    width_us = int(bin_s * 1_000_000)
    # The bin-grain exchange width is PINNED (REPARTITION_BY_NUM,
    # r16): the stage below it enumerates every qualifying pair per
    # bin — work that is a large multiple of the exchange's bytes —
    # so AQE's byte-based coalescing starves it (r15 measured the
    # ~2 MB exchange coalesced to 2 of 32 cores; d11 2.7 -> 1.0 s
    # once re-parallelized). The r15 session-wide 64k coalescing
    # floor achieved the same width but regressed 52/65 other bench
    # rows and is reverted; this pin scopes full parallelism to
    # exactly this exchange. Both join sides alias the same
    # repartitioned frame, but the compiled plan holds two separate
    # exchanges (each with its own scan/explode upstream); whether
    # the second is served from the first is up to AQE's runtime
    # stage reuse. Skew: a pinned width opts out of AQE skew
    # splitting — per-bin fan-out is the operator's documented
    # `bin_s` knob.
    binned = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                _bin(F.col(start_col), width_us),
                _bin(F.col(end_col), width_us),
                F.lit(width_us),
            )
        ),
    ).repartition(fanout_width(intervals), F.col("__bin"))
    a = binned.select(
        F.col("__bin").alias("__bin_a"),
        *[F.col(c).alias(f"a_{c}") for c in intervals.columns],
    )
    b = binned.select(
        F.col("__bin").alias("__bin_b"),
        *[F.col(c).alias(f"b_{c}") for c in intervals.columns],
    )
    a_id, b_id = F.col(f"a_{id_col}"), F.col(f"b_{id_col}")
    a_s, a_e = F.col(f"a_{start_col}"), F.col(f"a_{end_col}")
    b_s, b_e = F.col(f"b_{start_col}"), F.col(f"b_{end_col}")
    later_start = F.greatest(a_s, b_s)
    pairs = a.join(
        b, (F.col("__bin_a") == F.col("__bin_b")) & (a_id < b_id)
    )
    return (
        pairs.filter(
            (a_s <= b_e)
            & (b_s <= a_e)
            # anchor-bin dedup: emit only where the join bin is the
            # later start's bin
            & (F.col("__bin_a") == _bin(later_start, width_us))
        )
        .withColumn(
            "overlap_us",
            F.unix_micros(F.least(a_e, b_e))
            - F.unix_micros(later_start),
        )
        .drop("__bin_a", "__bin_b")
    )
