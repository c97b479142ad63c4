"""Input-width guard for compute-bound operators.

Similarity/dedup operators do orders of magnitude more per-row work
(interpreted higher-order folds, Arrow-batched numpy) than a scan, so
their wall-clock is bounded by input parallelism, not bytes. A small
corpus arriving as one parquet file (one unsplittable row group) would
otherwise run the whole operator on a single core.

At 100 TB inputs already carry ≥cores splits and `spread` is a no-op —
the repartition only fires when the source is narrower than the
cluster, and then it shuffles just the projected columns the operator
reads (the caller applies it after column pruning).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

from stock_market_etl_spark.session import shuffle_width


def fanout_width(df: DataFrame) -> int:
    """Pinned post-shuffle width for a COMPUTE-DENSE fan-out exchange.

    Some operators put a stage whose work is a large multiple of its
    input bytes below a small exchange — the doc-grain text repartition
    feeding `repetition_metrics`' ~19× gram explode, the bin-grain
    pair enumeration below `interval_overlap_pairs`' bin join. AQE's
    partition coalescing sizes post-shuffle tasks by BYTES, so at
    small exchange sizes it collapses those stages to 1-2 tasks and
    serializes minutes of fan-out work (r15 measured x57's 2 MB doc
    exchange coalesced to 2 of 32 cores). The r15 session-wide
    `coalescePartitions.minPartitionSize=64k` floor fixed those three
    queries but taxed every OTHER shuffle with up-to-core-count
    micro-tasks (r15 driver bench: 52/65 regressed, geomean 0.72) —
    so r16 scopes the fix to the exchanges that need it: callers pass
    this width to `repartition(width, key)`, whose REPARTITION_BY_NUM
    shuffle AQE never coalesces (user-pinned partition count).

    Width = the session's shuffle width (``session.shuffle_width``,
    sized to the cluster's cores unless the caller pinned it), never a
    local constant. The trade documented at each call site: a pinned
    width also opts the exchange out of AQE skew splitting,
    acceptable exactly where per-key work is bounded by construction
    (doc-grain keys, bin-grain keys with the bin_s skew knob).
    """
    return shuffle_width(df.sparkSession)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to ``min_partitions`` (default: the
    session's shuffle width) — only when the input is narrower than
    that; wide inputs pass through untouched.

    Width is estimated from ``df.inputFiles()`` (public API, works
    under Spark Connect — unlike ``df.rdd``, which forces a plan→RDD
    conversion and is Connect-incompatible). File count undercounts
    splits when a file holds several row groups, so the check is
    conservative: it may round-robin a projection that was already
    wide enough, which costs one narrow shuffle of the few columns the
    compute-bound caller reads — while at scale (files ≥ cores) it is
    a guaranteed no-op. Non-file sources (in-memory test frames,
    streaming micro-batches) report zero files and always spread.
    """
    target = (
        shuffle_width(df.sparkSession)
        if min_partitions is None
        else min_partitions
    )
    try:
        width = len(df.inputFiles())
    except AnalysisException:  # streaming source: no file listing
        width = 0
    if width >= target:
        return df
    return df.repartition(target)
