"""Importance-based data selection (DSIR) — hashed n-gram importance
weights for targeted corpus sampling.

Implements the scoring core of Data Selection via Importance Resampling
(Xie et al. 2023, arXiv:2302.03169): fit two bag-of-hashed-bigram
multinomials — one on a small TARGET corpus (the domain you want more
of), one on the RAW pool — and weight every raw document by its
log-likelihood ratio. Resampling raw docs ∝ exp(weight) then shifts the
pool toward the target distribution. The reference engine has no such
operator; it is core to a training-data pipeline (SURVEY §2.O) and the
standard pretraining-mixture selection move.

Spark-first shape: the feature space is BOUNDED (``n_buckets`` md5
buckets), so both count tables collapse to ≤ n_buckets rows with
map-side partial aggregation and the per-bucket weight table is always
broadcast-joined back onto the gram stream — at 100 TB the only
corpus-sized exchange is the final doc-grain sum. Hash-bucketing is the
paper's own dimensionality reduction, not an approximation shortcut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from stock_market_etl_spark.operators import artifacts
from stock_market_etl_spark.operators.text import tokens


def _gram_buckets(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Word bigrams → md5-prefix hash buckets, exploded one row per
    gram. 16^k buckets for k hex chars — md5 is byte-identical across
    engines, which is what lets a SQL oracle replay the bucketing
    (same move as x27's md5 shuffle order)."""
    hex_prefix = {16: 1, 256: 2, 4096: 3, 65536: 4}
    if n_buckets not in hex_prefix:
        raise ValueError(
            f"n_buckets must be one of {sorted(hex_prefix)} (a power of "
            f"16, one md5 hex char per power), got {n_buckets}"
        )
    hex_chars = hex_prefix[n_buckets]
    t = docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__t")
    ).filter(F.size("__t") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("__t", i), F.element_at("__t", i + 1)
        ),
    )
    buckets = F.transform(
        bigrams, lambda g: F.substring(F.md5(g), 1, hex_chars)
    )
    return t.select(
        F.col("doc_id"), F.explode(buckets).alias("__bucket")
    )


def dsir_weights(
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-raw-document DSIR importance weight.

    ``log_weight(d) = Σ_grams [ ln p̂_target(bucket) − ln p̂_raw(bucket) ]``
    with add-one smoothing over the ``n_buckets``-bucket hashed-bigram
    space: ``p̂(b) = (c_b + 1) / (total + n_buckets)``. Positive means
    the document looks more target-like than pool-like. Returns
    (doc_id, n_grams, log_weight); raw docs with < 2 tokens carry no
    grams and are excluded (nothing to score).

    One gram scan covers BOTH corpora (a union with a side tag →
    conditional aggregation), the ≤ n_buckets weight table broadcasts,
    and the doc-grain sum is the single data-sized shuffle.
    """
    # target grams carry no doc id (only raw docs are scored) — the
    # discarded id slot must still union cleanly with raw's id column,
    # whatever its type (a hard-coded long cast fails unionByName on
    # string-keyed corpora)
    tg = _gram_buckets(target, n_buckets).select(
        F.lit(None).cast(raw.schema["doc_id"].dataType).alias("doc_id"),
        F.lit(1).alias("__is_target"),
        "__bucket",
    )
    # persist(): the raw gram stream is a diamond point — it feeds the
    # bucket-count aggregation AND the scoring join, and without the
    # cache the tokenize+hash scan runs twice (same lifecycle
    # convention as the LSH signature tables, operators/dedup.py:4-9:
    # callers running batch loops clearCache()/unpersist between runs)
    rg = _gram_buckets(raw, n_buckets).select(
        F.col("doc_id"), F.lit(0).alias("__is_target"), "__bucket"
    ).persist()
    grams = tg.unionByName(rg)
    counts = grams.groupBy("__bucket").agg(
        F.sum("__is_target").cast("double").alias("__c_t"),
        F.sum(1 - F.col("__is_target")).cast("double").alias("__c_r"),
    )
    # corpus totals as an empty-frame window sum over the ≤ n_buckets
    # count rows (one tiny single-partition pass) rather than a
    # separate 1-row aggregate — a scalar-agg cross join would plan
    # the bucket aggregation twice, re-running the gram scan
    from pyspark.sql import Window

    whole = Window.partitionBy()
    b = float(n_buckets)
    weights = counts.select(
        "__bucket",
        (
            F.log(
                (F.col("__c_t") + 1) / (F.sum("__c_t").over(whole) + b)
            )
            - F.log(
                (F.col("__c_r") + 1) / (F.sum("__c_r").over(whole) + b)
            )
        ).alias("__w"),
    )
    return (
        rg.join(F.broadcast(weights), "__bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.round(F.sum("__w"), 6).alias("log_weight"),
        )
    )


def psi_drift(
    scored: DataFrame,
    score_col: str,
    group_col: str,
    old_col: str,
    new_col: str,
    bins: int = 10,
    eps: float = 1e-4,
) -> DataFrame:
    """Population Stability Index of a score DISTRIBUTION between two
    releases, per group — the standard ML-pipeline drift monitor
    (PSI = Σ_bins (p−q)·ln(p/q); ≥0.2 is the conventional
    "significant shift" alarm). Complements the volume/mean gate
    (k6): a source whose document count and mean quality are flat can
    still silently swap its score SHAPE (e.g. bimodal collapse after
    an upstream scraper change), which only a binned distribution
    comparison sees.

    ``scored`` carries a [0, 1] score (ROUND it to 6dp upstream so
    both engines bin identical values), the group column, and two 0/1
    release-membership flags (``old_col``/``new_col`` — k6's
    one-scan, no-self-join tagging move). Empty-side bins clamp to
    ``eps`` (the standard PSI smoothing; a bin empty in BOTH releases
    contributes nothing and never materializes).

    Scale shape: ONE corpus scan folds to the (group, bin)
    conditional aggregate (map-side partial; B·|groups| rows), and
    group totals come from a WINDOW over that histogram — no second
    aggregate, no join, no re-derivation of the scan (a totals-join
    diamond would execute the corpus aggregate twice). Everything
    after the first exchange is histogram-sized."""
    from pyspark.sql import Window

    hist = (
        scored.select(
            F.col(group_col),
            _bin_col(score_col, bins).alias("__bin"),
            F.col(old_col).alias("__old"),
            F.col(new_col).alias("__new"),
        )
        .groupBy(group_col, "__bin")
        .agg(
            F.sum("__old").cast("double").alias("__old_n"),
            F.sum("__new").cast("double").alias("__new_n"),
        )
    )
    w = Window.partitionBy(group_col)
    p = F.greatest(
        F.col("__old_n") / F.sum("__old_n").over(w), F.lit(eps)
    )
    q = F.greatest(
        F.col("__new_n") / F.sum("__new_n").over(w), F.lit(eps)
    )
    return (
        hist.select(
            F.col(group_col),
            ((p - q) * F.log(p / q)).alias("__term"),
        )
        .groupBy(group_col)
        .agg(F.round(F.sum("__term"), 6).alias("psi"))
        .select(
            group_col,
            "psi",
            (F.col("psi") >= 0.2).alias("drift_flag"),
        )
    )


def _bin_col(score_col: str, bins: int):
    """Shared [0,1]-score binning for the PSI family: fixed-width
    bins, 1.0 clamped into the last one. Both the batch (psi_drift)
    and streamed (psi_vs_baseline) forms MUST bin identically or
    their histograms aren't comparable."""
    return F.least(
        F.lit(bins - 1), F.floor(F.col(score_col) * bins)
    ).cast("int")


def score_histogram(
    scored: DataFrame,
    score_col: str,
    group_col: str,
    bins: int = 10,
) -> DataFrame:
    """(group, bin, n) counts of a [0,1] score — the materializable
    baseline for streamed drift monitoring (`psi_vs_baseline`). B ×
    |groups| rows regardless of corpus size."""
    return (
        scored.select(
            F.col(group_col), _bin_col(score_col, bins).alias("__bin")
        )
        .groupBy(group_col, "__bin")
        .agg(F.count("*").cast("long").alias("__n"))
    )


def write_score_histogram(
    scored: DataFrame,
    path: str,
    score_col: str,
    group_col: str,
    bins: int = 10,
) -> None:
    """Materialize `score_histogram` to ``path/{histogram, meta}`` —
    the once-per-release step of the drift-monitor lifecycle (the
    b25 `write_window_index` pattern). ``bins`` is part of the
    artifact's identity — a probe binned at a different width
    compares incomparable histograms and reads as spurious
    drift/calm — so it is recorded in a one-row meta table (an
    in-place rebuild under the `artifacts` release protocol) and
    `read_score_histogram` refuses a mismatch loudly."""
    artifacts.write_release(
        scored.sparkSession,
        path,
        {"histogram": score_histogram(scored, score_col, group_col, bins)},
        "bins int",
        (bins,),
        "overwrite",
    )


def read_score_histogram(
    spark, path: str, bins: int | None = None
) -> tuple[DataFrame, int]:
    """Load a `write_score_histogram` artifact as the
    ``(baseline, bins)`` pair `psi_vs_baseline` takes; passing
    ``bins`` asserts the caller's width against the recorded one; a
    partially-written artifact refuses loudly
    (`artifacts.read_required_meta`)."""
    (built,) = artifacts.read_required_meta(
        spark, path, ("bins",), "score histogram", "write_score_histogram"
    )
    if bins is not None and bins != built:
        raise ValueError(
            f"score histogram at {path} was built with bins={built}, "
            f"probe requested bins={bins} — histograms would be "
            "incomparable; rebuild the baseline or probe at its width"
        )
    return spark.read.parquet(f"{path}/histogram"), built


def psi_vs_baseline(
    scored: DataFrame,
    baseline: DataFrame,
    score_col: str,
    group_col: str,
    bins: int,
) -> DataFrame:
    """PSI of an ARRIVING batch's score distribution against a FROZEN
    baseline histogram (`score_histogram` / the read-back artifact) —
    the streamed face of `psi_drift`, same math: bins present in
    EITHER side enter the sum (full-outer on (group, bin)), the
    missing side clamps to 1e-4, totals come from windows over the
    joined histogram. Emits only groups the batch actually touched
    (you monitor arrivals; a batch-absent group has no distribution
    to test). A group ABSENT from the baseline alarms loudly — every
    baseline share clamps to 1e-4, which is the correct "new source
    appeared" signal. Returns (group, psi, drift_flag, n_docs).

    Scale shape: the batch folds to its own B·|groups| histogram in
    one aggregate; the join and windows run on histogram-sized rows —
    the baseline artifact, not the corpus, is the other side."""
    from pyspark.sql import Window

    # NULL scores (e.g. empty text: punct_ratio 0/0 → NULL with ANSI
    # off) histogram into a NULL bin. A plain equi-join never matches
    # NULL to NULL, which would SPLIT that bin into two eps-clamped
    # unmatched rows and inflate PSI on a distribution-identical
    # batch (review r12) — where psi_drift's single groupBy and the
    # SQL oracle group NULL bins together. Coalesce to a sentinel
    # (-1, below every real bin) so the join stays an equi-join and
    # the math stays identical across the three forms.
    def _h(df):
        return df.withColumn("__bin", F.coalesce("__bin", F.lit(-1)))

    batch_hist = _h(score_histogram(scored, score_col, group_col, bins))
    joined = batch_hist.withColumnRenamed("__n", "__q_n").join(
        _h(baseline).withColumnRenamed("__n", "__p_n"),
        [group_col, "__bin"],
        "full_outer",
    )
    w = Window.partitionBy(group_col)
    p_tot = F.sum(F.coalesce(F.col("__p_n"), F.lit(0))).over(w)
    q_tot = F.sum(F.coalesce(F.col("__q_n"), F.lit(0))).over(w)
    p = F.greatest(
        F.coalesce(F.col("__p_n"), F.lit(0)) / p_tot, F.lit(1e-4)
    )
    q = F.greatest(
        F.coalesce(F.col("__q_n"), F.lit(0)) / q_tot, F.lit(1e-4)
    )
    return (
        joined.select(
            F.col(group_col),
            ((p - q) * F.log(p / q)).alias("__term"),
            q_tot.alias("__n_docs"),
        )
        .filter(F.col("__n_docs") > 0)
        .groupBy(group_col)
        .agg(
            F.round(F.sum("__term"), 6).alias("psi"),
            F.first("__n_docs").cast("long").alias("n_docs"),
        )
        .select(
            group_col,
            "psi",
            (F.col("psi") >= 0.2).alias("drift_flag"),
            "n_docs",
        )
    )
