"""Deduplication operators for training-data pipelines (SURVEY §2.O):
exact (hash-groupBy), n-gram Jaccard near-dup, MinHash LSH, SimHash.

Cache lifecycle note: the LSH operators persist() their signature/band
tables (diamond-shaped plans — each table feeds 2-4 consumers and
would otherwise recompute per consumer). Spark offers no
release-on-last-action hook, so the entries live until the session
LRU-evicts them or the CALLER runs `spark.catalog.clearCache()` /
`df.unpersist()` between batches (long-lived services should). At
100 TB the same tables are materialized to the lake instead, which
makes the lifecycle explicit.

Scale design:
- exact dedup is a single hash aggregation on a 256-bit content hash —
  shuffles only (hash, doc_id) pairs, never the documents;
- exact pairwise Jaccard is quadratic and exists as the small-scale
  ground truth / recall oracle; the 100 TB path is MinHash LSH, whose
  band-bucket join only pairs documents sharing a band signature;
- SimHash reduces each document to a 64-bit signature; near-dup
  candidates share signatures within small Hamming distance.
"""

from __future__ import annotations

import threading
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

from stock_market_etl_spark.operators import _compat, artifacts
from stock_market_etl_spark.operators.parallelism import spread
from stock_market_etl_spark.operators.text import char_shingles


def exact_dedup(
    df: DataFrame,
    payload_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Exact dedup on content hash, keeping the lowest-id row per group
    (deterministic given UNIQUE ``doc_id`` values — with duplicate ids
    inside a hash group ``min_by`` may pick either tied row; callers
    needing dedup over a non-key column should pre-assign a surrogate
    id, e.g. ``monotonically_increasing_id``).

    ``payload_cols`` is the set of columns (besides ``doc_id``) carried
    through the aggregate — and therefore through the SHUFFLE. The
    default ``None`` keeps every column for drop-in convenience, but at
    100 TB that ships document bodies through the exchange; pass the
    minimal set (``()`` for ids-only) and re-attach wide columns by an
    id join afterwards if actually needed. Measured at sf0.1: all-cols
    3.8 MB shuffle vs ids-only 1.0 MB — at corpus scale the gap is the
    corpus.

    Plan choice: ``min_by(struct(cols), id)`` aggregate rather than a
    window over ``content_hash`` — the aggregate gets a map-side
    partial combine, so duplicates collapse inside each input
    partition and the exchange carries ≤ one candidate row per (hash,
    partition); the window form would shuffle EVERY input row to its
    hash partition first. Input column order is preserved."""
    hashed = df.withColumn("content_hash", F.sha2(F.col("text"), 256))
    if payload_cols is None:
        keep = [c for c in df.columns]
    else:
        wanted = set(payload_cols) | {"doc_id"}
        keep = [c for c in df.columns if c in wanted]
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.min_by(F.struct(*keep), F.col("doc_id")).alias("__keep"),
            F.count("*").alias("n_copies"),
        )
        .select(*[f"__keep.{c}" for c in keep], "content_hash", "n_copies")
    )


def _block_cond(a_prefix: str, b_prefix: str) -> Column:
    """Shared blocking predicate for the exact-Jaccard joins: equal
    ``lang`` and |``n_chars`` delta| ≤ 20, over ``{prefix}{col}``
    aliased frames. ONE definition so the self-join (jaccard_pairs)
    and batch-vs-corpus (incremental_dedup) paths can't drift."""
    length = F.abs(F.col(f"{a_prefix}n_chars") - F.col(f"{b_prefix}n_chars"))
    return (length <= 20) & (
        F.col(f"{a_prefix}lang") == F.col(f"{b_prefix}lang")
    )


def _jaccard_expr(a_shingles: str, b_shingles: str) -> Column:
    """Exact set-Jaccard over two shingle-array columns — the single
    definition of the intersect/union math (incl. its 0/0 edge)."""
    inter = F.size(F.array_intersect(a_shingles, b_shingles))
    union = F.size(a_shingles) + F.size(b_shingles) - inter
    return inter.cast("double") / union


def jaccard_pairs(df: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Exact character-shingle Jaccard similarity over blocked candidate
    pairs (same block keys, |length delta| ≤ window, id_a < id_b).

    Blocking keeps the self-join from going quadratic; at 100 TB replace
    blocking with MinHash LSH (minhash_lsh_dedup) and use this only as
    the ground-truth recall check at small scale.
    """
    sh = spread(
        df.select(
            F.col("doc_id"),
            F.col("lang"),
            F.col("n_chars"),
            F.col("text"),
        )
    ).select(
        F.col("doc_id"),
        F.col("lang"),
        F.col("n_chars"),
        char_shingles(F.col("text")).alias("shingles"),
    ).persist()  # both self-join sides read it — shingle once, not twice
    a = sh.select(
        *[F.col(c).alias(f"a_{c}") for c in sh.columns]
    )
    b = sh.select(
        *[F.col(c).alias(f"b_{c}") for c in sh.columns]
    )
    cond = (F.col("a_doc_id") < F.col("b_doc_id")) & _block_cond("a_", "b_")
    out = (
        a.join(b, cond)
        .select(
            F.col("a_doc_id").alias("id_a"),
            F.col("b_doc_id").alias("id_b"),
            _jaccard_expr("a_shingles", "b_shingles").alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def containment_pairs(
    df: DataFrame,
    ngram: int = 5,
    threshold: float = 0.5,
    max_ids_per_gram: int = 500,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by n-gram CONTAINMENT —
    ``|A∩B| / min(|A|,|B|)`` over distinct word-``ngram`` sets — the
    similarity that catches a short document quoted inside a long one,
    which Jaccard structurally cannot (length skew caps Jaccard at
    |short|/|long| no matter how complete the inclusion; x7's blocked
    form even prunes such pairs by its length window on purpose).
    Returns ``(id_a, id_b, containment)`` with ``id_a < id_b`` and
    containment ≥ ``threshold``, rounded to 6dp (oracle parity).

    Candidates share at least one NON-STOP gram: grams held by more
    than ``max_ids_per_gram`` documents are banned from candidate
    generation (boilerplate would pair everything through one bucket —
    winnow's stop rule, x69's ban). The ban is oracle-MIRRORED (both
    engines compute identical md5 gram counts), so output parity is
    exact by construction; the honest caveat is shared with every
    banned-bucket blocker: a pair whose every shared gram is
    boilerplate generates no candidate — by design, since such a pair
    is boilerplate-similar, not content-similar. Containment itself is
    computed over the FULL gram sets (ban affects candidate
    generation only), so reported scores are exact.

    Scale shape: grams leave the scan as 16-byte md5 digests; the
    (digest, id) stream exchanges for the gram-grain candidate join
    (hot grams banned first, bounding every bucket), then only id
    pairs move; the per-doc digest ARRAYS re-attach by id for the
    exact intersection — two id-grain joins, arrays bounded by doc
    length, text never shuffles. Same economy as the x49/x69
    families."""
    toks = word_tokens(F.col("text"))
    base = (
        df.select(F.col("doc_id").alias("__id"), toks.alias("__toks"))
        .filter(F.size("__toks") >= ngram)
        .select(
            "__id",
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.size("__toks") - (ngram - 1)
                    ),
                    lambda i: F.unhex(
                        F.md5(
                            F.concat_ws(
                                " ", F.slice("__toks", i, ngram)
                            )
                        )
                    ),
                )
            ).alias("__grams"),
        )
        .persist()  # gram once: candidate stream + both array sides
    )
    e = base.select("__id", F.explode("__grams").alias("__h"))
    banned = (
        e.groupBy("__h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_ids_per_gram)
        .select("__h")
    )
    ok = e.join(banned, "__h", "left_anti")
    cand = (
        ok.alias("a")
        .join(
            ok.alias("b"),
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    ga = base.select(
        F.col("__id").alias("id_a"), F.col("__grams").alias("__ga")
    )
    gb = base.select(
        F.col("__id").alias("id_b"), F.col("__grams").alias("__gb")
    )
    inter = F.size(F.array_intersect("__ga", "__gb"))
    denom = F.least(F.size("__ga"), F.size("__gb"))
    out = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / denom, 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )
    return out


def word_tokens(text_col: Column) -> Column:
    """Lowercase whitespace tokens (JVM-side regex split)."""
    return F.array_remove(F.split(F.lower(F.trim(text_col)), r"\s+"), "")


def word_ngram_hashes(tokens_col: Column) -> Column:
    """Distinct 64-bit hashes of word 3-grams over a MATERIALIZED
    token array — the shingle-set feature space for MinHash/Jaccard.

    ``tokens_col`` must be a plain column reference (project
    `word_tokens` into its own column first): expressions inside
    higher-order-function lambdas get no common-subexpression
    elimination, so an inline split would re-run the full regex
    tokenization once per n-gram per row (~50× the work, measured)."""
    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(tokens_col) - 2, F.lit(1))
        ),
        lambda i: F.concat_ws(" ", F.slice(tokens_col, i, 3)),
    )
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))


def minhash_tables(
    df: DataFrame,
    num_hashes: int = 32,
    seed: int = 42,
    rows_per_band: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """MinHash feature tables for a corpus: returns ``(shingles,
    bands)`` where ``shingles`` is (id, __shingles: array<long>) and
    ``bands`` is (id, band_idx, band_val) — the two tables every LSH
    consumer (self-join pair mining, batch-vs-corpus dedup) joins on.
    Both are persisted (diamond plans; see module docstring for the
    cache-lifecycle contract). Same ``seed`` ⇒ same hash family, so
    tables built in different calls are join-compatible — the basis of
    the incremental path, where the CORPUS tables are computed once
    and materialized to the lake while batches come and go.

    Standard Broder-style construction with AND/OR amplification:
    ``num_hashes`` universal-hash minima grouped into
    b = num_hashes / rows_per_band bands of r = ``rows_per_band`` rows;
    a pair becomes a candidate iff some band matches entirely, so
    P(candidate | Jaccard J) = 1 − (1 − J^r)^b — the s-curve centered
    near (1/b)^(1/r) (≈0.25 for the 16×2 default). r > 1 matters at
    scale: with r=1 any shared shingle makes a candidate with
    probability 1−(1−J)^K, and the exact re-rank drowns in low-J pairs
    (measured ~290 K candidates → ~2 K on this corpus going 1→2).
    """
    import random

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    n_bands = num_hashes // rows_per_band
    rng = random.Random(seed)
    # 32-bit universal hashing: x reduced to 32 bits, a < 2^30 keeps
    # a*x + b < 2^62 — exact in int64, no modular bignum needed
    prime = 4294967311  # smallest prime > 2^32
    a_coef = np.array(
        [rng.randrange(1, 1 << 30) for _ in range(num_hashes)],
        dtype=np.int64,
    )
    b_coef = np.array(
        [rng.randrange(0, 1 << 30) for _ in range(num_hashes)],
        dtype=np.int64,
    )

    @pandas_udf(ArrayType(LongType()))
    def signature(shingles: pd.Series) -> pd.Series:
        """Per doc: the ``n_bands`` band values (r minima mixed into
        one 64-bit word each). One flattened reduceat per hash
        function, NOT one (total x num_hashes) matrix op: the matrix
        form materializes three total-by-K int64 temporaries
        (product, +b, %prime) — ~1 GB of allocator/memory traffic per
        10k-doc batch at K=32 — while the per-hash loop works in
        flat-sized slices that stay cache-resident (measured 911 ->
        320 ms steady-state on a representative batch, 3.8 s -> 0.3 s
        on a cold allocator; values bit-identical, r15 guide §4.2)."""
        if len(shingles) == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(s, dtype=np.int64) for s in shingles.to_numpy()]
        lens = np.array([len(a) for a in arrs])
        flat = np.concatenate(arrs) & 0xFFFFFFFF  # (total,)
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        mins = np.empty((len(arrs), num_hashes), dtype=np.int64)
        for hi in range(num_hashes):
            mins[:, hi] = np.minimum.reduceat(
                (flat * a_coef[hi] + b_coef[hi]) % prime, offs
            )
        bands = mins.view(np.uint64).reshape(len(arrs), n_bands, rows_per_band)
        vals = bands[:, :, 0].copy()
        for t in range(1, rows_per_band):  # FNV-style mix, wraps mod 2^64
            vals = vals * np.uint64(1099511628211) + bands[:, :, t]
        return pd.Series(list(vals.view(np.int64)))

    # spread BEFORE the per-doc compute: a single-file corpus is one
    # unsplittable input split, and tokenize+shingle+signature cost is
    # per-row compute, not IO (parallelism.spread is a no-op on wide
    # inputs). No emptiness filter: the gram sequence always yields ≥1
    # element, and a filter on the shingle column would get pushed
    # through the projection and re-evaluate the whole expression.
    # persist(): the shingle table feeds three consumers (the band
    # explode plus both re-attach joins) and the band table feeds both
    # sides of the self-join — without materialization Catalyst plans
    # each consumer as its own scan and the tokenize/shingle/signature
    # work runs 4×/2× (verified in the optimized plan). At 100 TB the
    # same move is writing the signature table to the lake once and
    # joining against it; MEMORY_AND_DISK is the single-job analogue.
    sh = spread(df.select(F.col("doc_id"), F.col("text"))).select(
        F.col("doc_id"), word_tokens(F.col("text")).alias("__tokens")
    ).select(
        F.col("doc_id"),
        word_ngram_hashes(F.col("__tokens")).alias("__shingles"),
    ).persist()
    # posexplode_OUTER, not posexplode: the inner form makes Catalyst
    # infer a size()>0 filter on the UDF result and push it below the
    # projection — running the signature UDF twice per row
    bands = sh.select(
        F.col("doc_id"),
        F.posexplode_outer(signature(F.col("__shingles"))).alias(
            "band_idx", "band_val"
        ),
    ).persist()
    return sh, bands


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash LSH near-dup pairs (the 100 TB dedup path):
    word-3-gram shingle hashes → MinHash signatures → banded bucket
    equi-join → exact Jaccard re-rank on the candidate set.
    Construction and amplification math: see ``minhash_tables``.

    Scale shape, same as the embedding LSH path: signatures+bands are
    one vectorized numpy pass per Arrow batch (flattened shingles +
    minimum.reduceat — no per-doc Python loop); the candidate join and
    pair-dedup move only (id, band, value) rows — never shingle sets or
    text; shingle-hash arrays are re-attached by id for the exact
    Jaccard filter, which touches O(candidates), not O(n²).
    Returns (id_a, id_b, jaccard_dist) with jaccard ≥ ``threshold``
    (distance = 1 − exact set Jaccard).
    """
    sh, bands = minhash_tables(df)
    a_side = bands.select(
        F.col("doc_id").alias("id_a"), "band_idx", "band_val"
    )
    b_side = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_idx").alias("__bi"),
        F.col("band_val").alias("__bv"),
    )
    pairs = (
        a_side.join(
            b_side,
            (F.col("band_idx") == F.col("__bi"))
            & (F.col("band_val") == F.col("__bv"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = pairs.join(
        sh.select(
            F.col("doc_id").alias("id_a"), F.col("__shingles").alias("__sa")
        ),
        "id_a",
    ).join(
        sh.select(
            F.col("doc_id").alias("id_b"), F.col("__shingles").alias("__sb")
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    jacc = inter.cast("double") / union
    return (
        cand.select(
            "id_a", "id_b", F.round(1.0 - jacc, 6).alias("jaccard_dist")
        )
        .filter(F.col("jaccard_dist") <= 1.0 - threshold)
    )


@F.pandas_udf(LongType())  # DataType instance: no session needed at import
def _simhash_vote(hashes: pd.Series) -> pd.Series:
    """Bit-majority vote over a row's token hashes, vectorized in numpy.
    Equivalent to 64 sum(±1) aggregates per document (the form this
    replaced — identical signatures asserted in
    tests/test_extensions.py::test_simhash_matches_aggregate_form) but
    one Arrow batch instead of a 64-expression Catalyst tree."""
    shifts = np.arange(64, dtype=np.uint64)
    out = np.zeros(len(hashes), dtype=np.int64)
    for i, arr in enumerate(hashes):
        a = np.asarray(arr, dtype=np.int64).view(np.uint64)
        # count of set bits per position; vote = 2*count - n > 0
        counts = ((a[:, None] >> shifts) & np.uint64(1)).sum(
            axis=0, dtype=np.int64
        )
        sig_bits = (2 * counts - len(a) > 0).astype(np.uint64)
        out[i] = (sig_bits << shifts).sum(dtype=np.uint64).view(np.int64)
    return pd.Series(out)


def simhash(df: DataFrame) -> DataFrame:
    """SimHash signatures: per-token 64-bit hashes, bit-majority vote.

    A document's tokens all come from its own row, so the signature
    needs NO aggregation across rows: tokens are hashed JVM-side inside
    a higher-order ``transform`` (xxhash64 per element, no Python in
    the tokenize/hash path), and the 64-way majority vote runs as one
    Arrow-batched numpy kernel per row. Entirely narrow — zero
    shuffles, where the previous explode → groupBy(64 sum aggregates)
    form paid one shuffle AND seconds of Catalyst analysis on the
    64-expression tree (see SCALE.md on interpreted-tree cost).
    """
    hashed = spread(df.select(F.col("doc_id"), F.col("text"))).select(
        F.col("doc_id"),
        F.expr(
            r"transform(split(trim(text), '\\s+'), t -> xxhash64(t))"
        ).alias("__hs"),
    )
    return hashed.filter(F.col("__hs").isNotNull()).select(
        F.col("doc_id"), _simhash_vote("__hs").alias("simhash")
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates by SimHash: band the 64-bit signature into
    four 16-bit keys (pigeonhole: ≤3 differing bits ⇒ at least
    one identical band), bucket-join on band value, verify Hamming
    distance ≤ ``max_hamming``. Join cost is bounded by band-bucket
    collisions — the scalable alternative to an all-pairs comparison."""
    sigs = simhash(df)
    band_width = 16
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(
                            "simhash", i * band_width
                        ).bitwiseAND((1 << band_width) - 1).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key").persist()
    # ^ the signature agg (explode + 64-bit-vote groupBy) feeds both
    # self-join sides; materialize it once
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sig_a"),
        "band",
        "key",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sig_b"),
        "band",
        "key",
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph → one row per
    node: ``(id, cluster_rep)`` where ``cluster_rep`` is the minimum id
    reachable from the node. The dedup use: every near-duplicate pair
    chains into a cluster, and "keep one doc per cluster" becomes a
    plain ``filter(id == cluster_rep)``.

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbours' labels; converges
    in O(component diameter) rounds (near-dup clusters are shallow;
    the cap is a runaway guard, not a tuning knob). This is the
    DataFrame-native form of the Hash-Min map-reduce CC algorithm;
    at 100 TB scale each round is two shuffles (a key join and a
    groupBy-min) on (id, label) pairs plus a per-row convergence
    boolean — no payloads — and
    ``localCheckpoint`` truncates the growing lineage each round so
    plan size stays constant. Each round's checkpoint is explicitly
    unpersisted once the next round's is materialized (the edges table
    on return), so storage holds ≤2 label snapshots at any moment
    instead of one per iteration; the RETURNED labels stay checkpointed
    under the module's cache-lifecycle contract (caller releases).
    localCheckpoint trades executor-failure recoverability for speed —
    long multi-hour jobs should switch to reliable ``checkpoint()``
    with a checkpoint dir; at this operator's round counts (≤25) the
    local form is the right default.

    The reference has no graph/dedup-cluster operator (its dedup is the
    per-key watermark merge, `scripts/load_stock_metrics.py:76-88`);
    this is engine superset for training-data pipelines.
    """
    # superseded-snapshot release is the deployment-gated best-effort
    # helper (no-op under Spark Connect / plan-shape drift, where the
    # ContextCleaner releases at GC time instead)
    _release = _compat.release_local_checkpoint

    # undirected: propagate both ways
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    material = labels  # the checkpoint frame backing `labels`
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(edges["a"].alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence flag rides the SAME materialization as the
        # new labels (r15 optimization): a row changed iff its
        # neighbour minimum strictly improved on its own label, which
        # is known right here — the old form re-joined the old and new
        # checkpointed label tables, a whole extra join job per round.
        # Each snapshot therefore caches (id, label, __changed) — one
        # boolean per row beyond the old two-column form; the flag is
        # projected away before the next round's plan.
        stepped = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        converged = stepped.filter(F.col("__changed")).isEmpty()
        # release the CHECKPOINT frame, not a projection over it —
        # the helper unpersists via the plan root's backing RDD
        _release(material)
        material = stepped
        labels = stepped.select("id", "label")
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — component diameter exceeds the cap"
        )
    _release(edges)  # the returned labels checkpoint is lineage-free
    return labels.select("id", F.col("label").alias("cluster_rep"))


def near_dup_clusters(
    df: DataFrame,
    threshold: float = 0.6,
    source: str = "exact",
) -> DataFrame:
    """Near-duplicate clusters: near-dup pairs chained into connected
    components. Returns ``(doc_id, cluster_rep)`` for every document
    that participates in at least one near-dup pair; documents absent
    from the output are singletons.

    ``source`` picks the pair generator — the cluster step only ever
    sees (id, id) pairs either way:

    - ``"exact"``: blocked char-shingle Jaccard ≥ ``threshold``
      (quadratic within blocks — the small-scale ground truth and the
      DuckDB-oracle form, catalog x31).
    - ``"lsh"``: banded MinHash candidates (``minhash_lsh_pairs``) —
      the 100 TB path: candidate generation is a bucket-equality join,
      never an all-pairs scan; recall vs the exact form follows the
      MinHash S-curve (tests/test_extensions.py).
    """
    if source == "exact":
        pairs = jaccard_pairs(df, threshold=threshold)
    elif source == "lsh":
        pairs = minhash_lsh_pairs(df, threshold=threshold)
    else:
        raise ValueError(f"unknown pair source: {source!r}")
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_rep"
    )


def corpus_signatures(
    corpus: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three corpus-side identity tables ``incremental_dedup``
    joins arriving batches against: ``(hashes, shingles, bands)`` —
    ``hashes`` is one `content_hash` (sha2-256) row per distinct
    document body; ``shingles``/``bands`` are ``minhash_tables``
    output for the near-dup tier.

    This is the 100 TB "corpus version" artifact: computed ONCE per
    corpus release, written to the lake (`write_corpus_signatures`),
    and reused by every arriving batch — each increment then costs a
    hash anti-join plus a band-bucket join against MATERIALIZED
    tables, never a rescan of corpus text. One fixed (num_hashes=32,
    seed=42, rows_per_band=2) ⇒ the same hash family, so batch-side
    signatures computed later are join-compatible (the contract
    `minhash_tables` documents).
    """
    hashes = corpus.select(
        F.sha2(F.col("text"), 256).alias("content_hash")
    ).distinct()
    shingles, bands = minhash_tables(corpus)
    return hashes, shingles, bands


def write_corpus_signatures(corpus: DataFrame, path: str) -> None:
    """Materialize ``corpus_signatures`` to ``path/{hashes,shingles,
    bands, meta}`` as parquet — the once-per-corpus-version step of
    the incremental-dedup lifecycle. Shingle arrays are the widest
    table (~K longs per doc); hashes/bands are fixed-width rows, so
    the artifact is a small fraction of corpus text size.

    ``(num_hashes, seed, rows_per_band)`` = (32, 42, 2) are the
    artifact's JOIN IDENTITY — batch-side signatures computed under
    any other family land in disjoint band buckets and silently find
    no candidates — so they land in a meta sidecar
    `read_corpus_signatures` returns and `incremental_dedup` validates
    (review r15). Written under the
    `artifacts` release protocol: a rebuild crash between the three
    data writes reads as the malformed-meta refusal, not as
    mixed-release halves that dedup wrongly."""
    hashes, shingles, bands = corpus_signatures(corpus)
    artifacts.write_release(
        corpus.sparkSession,
        path,
        {"hashes": hashes, "shingles": shingles, "bands": bands},
        "num_hashes int, seed int, rows_per_band int",
        (32, 42, 2),
        "overwrite",
    )
    # minhash_tables persists its outputs for multi-consumer plans;
    # after a write-through there are no further consumers.
    for df in (shingles, bands):
        df.unpersist()


def read_corpus_signatures(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, tuple[int, int, int]]:
    """Load materialized ``write_corpus_signatures`` output for use
    as ``incremental_dedup(corpus_sigs=...)``, as ``(hashes,
    shingles, bands, (num_hashes, seed, rows_per_band))`` — the
    caller MUST compute batch-side signatures under the returned
    parameters (any other family lands in disjoint band buckets and
    silently finds no candidates; `incremental_dedup` cross-checks
    them). A missing or malformed meta sidecar — what a crashed
    `write_corpus_signatures` leaves behind — refuses loudly: the
    three data dirs may be from different builds."""
    params = artifacts.read_required_meta(
        spark,
        path,
        ("num_hashes", "seed", "rows_per_band"),
        "corpus signatures",
        "write_corpus_signatures",
    )
    return (
        spark.read.parquet(f"{path}/hashes"),
        spark.read.parquet(f"{path}/shingles"),
        spark.read.parquet(f"{path}/bands"),
        params,
    )


def incremental_dedup(
    corpus: DataFrame | None,
    batch: DataFrame,
    threshold: float = 0.6,
    source: str = "exact",
    seed: int = 42,
    corpus_sigs: (
        tuple[DataFrame, DataFrame, DataFrame]
        | tuple[DataFrame, DataFrame, DataFrame, tuple[int, int, int]]
        | None
    ) = None,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus: drop batch
    documents that are exact duplicates (content hash) or near
    duplicates (Jaccard ≥ ``threshold``) of any corpus document.
    Batch-internal duplicates are deliberately kept — chain with
    ``exact_dedup``/``near_dup_clusters`` for those.

    ``source`` picks the near-dup candidate generator, mirroring
    ``near_dup_clusters``:

    - ``"exact"``: blocked char-3-gram Jaccard — every batch doc
      compared against every corpus doc in its (block, length) window.
      Quadratic in the block size: the small-scale ground truth and
      the DuckDB-oracle form (catalog x38).
    - ``"lsh"``: banded MinHash (``minhash_tables``) — the 100 TB
      path. Corpus band/shingle tables are computed once per corpus
      version (same ``seed`` ⇒ join-compatible across calls, so at
      scale they are materialized to the lake next to the content-hash
      table and REUSED per batch — cf. the L3 watermark pattern,
      `scripts/load_stock_metrics.py:76-88`, lifted to content
      identity); each batch then runs a band-bucket equi-join — cost
      proportional to bucket collisions, not corpus size — and an
      exact word-3-gram Jaccard re-rank on the candidates only.
      Recall vs the exact form follows the MinHash s-curve
      (tests/test_extensions.py::test_incremental_dedup_lsh_recall).

    Both paths keep the same exact tier: one content-hash anti-join.
    All joins move only (hash) / (id, band) / (id, shingles) rows —
    never the corpus text.

    ``corpus_sigs`` (from ``corpus_signatures`` /
    ``read_corpus_signatures``) supplies the corpus-side tables
    pre-computed — the materialized 100 TB path: with it the call
    never touches corpus text at all (``corpus`` may be None for
    ``source="lsh"``), so per-batch cost is independent of corpus
    size. They must have been built with the same ``seed`` (and the
    fixed num_hashes=32 / rows_per_band=2) — and when the tuple carries
    the artifact's recorded parameters as a 4th element (what
    `read_corpus_signatures` returns), a contradiction with this
    call's arguments refuses LOUDLY (review r15): a mismatched hash
    family lands every batch band in disjoint buckets and silently
    under-dedups. Identity with the inline path is asserted in
    tests/test_extensions.py.
    """
    if corpus_sigs is not None and len(corpus_sigs) == 4:
        rec = tuple(corpus_sigs[3])
        corpus_sigs = corpus_sigs[:3]
        # the recorded family matters only when batch-side MinHash
        # signatures will be computed — source='exact' uses just the
        # family-independent content hashes (review r15, pass 5)
        if source == "lsh" and rec != (32, seed, 2):
            raise ValueError(
                f"corpus signatures were built with (num_hashes, "
                f"seed, rows_per_band)={rec} but this call "
                f"computes batch signatures at "
                f"{(32, seed, 2)} — different "
                "hash families land in disjoint band buckets and "
                "silently find no candidates; pass the recorded "
                "seed"
            )
    if corpus_sigs is not None:
        c_hash = corpus_sigs[0].select(
            F.col("content_hash").alias("__h")
        )
    elif corpus is not None:
        c_hash = corpus.select(
            F.sha2(F.col("text"), 256).alias("__h")
        ).distinct()
    else:
        raise ValueError("need corpus or corpus_sigs")
    b_hashed = batch.withColumn("__h", F.sha2(F.col("text"), 256))
    no_exact = b_hashed.join(c_hash, "__h", "left_anti").drop("__h")

    if source == "lsh":
        if corpus_sigs is not None:
            _, c_sh, c_bands = corpus_sigs
        else:
            c_sh, c_bands = minhash_tables(corpus, seed=seed)
        b_sh, b_bands = minhash_tables(no_exact, seed=seed)
        cand = (
            b_bands.select(
                F.col("doc_id").alias("b_id"), "band_idx", "band_val"
            )
            .join(
                c_bands.select(
                    F.col("doc_id").alias("c_id"),
                    F.col("band_idx").alias("__bi"),
                    F.col("band_val").alias("__bv"),
                ),
                (F.col("band_idx") == F.col("__bi"))
                & (F.col("band_val") == F.col("__bv")),
            )
            .select("b_id", "c_id")
            .dropDuplicates(["b_id", "c_id"])
        )
        near_ids = (
            cand.join(
                b_sh.select(
                    F.col("doc_id").alias("b_id"),
                    F.col("__shingles").alias("__sb"),
                ),
                "b_id",
            )
            .join(
                c_sh.select(
                    F.col("doc_id").alias("c_id"),
                    F.col("__shingles").alias("__sc"),
                ),
                "c_id",
            )
            .filter(_jaccard_expr("__sb", "__sc") >= threshold)
            .select(F.col("b_id").alias("doc_id"))
            .distinct()
        )
        return no_exact.join(near_ids, "doc_id", "left_anti")
    if source != "exact":
        raise ValueError(f"unknown near-dup source: {source!r}")
    if corpus is None:
        raise ValueError(
            "source='exact' blocks on corpus text; corpus_sigs carries "
            "only hashes/signatures — use source='lsh' with it"
        )

    b_sh = no_exact.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("n_chars").alias("b_n_chars"),
        char_shingles(F.col("text")).alias("b_shingles"),
    )
    c_sh = corpus.select(
        F.col("lang").alias("c_lang"),
        F.col("n_chars").alias("c_n_chars"),
        char_shingles(F.col("text")).alias("c_shingles"),
    )
    near_ids = (
        b_sh.join(c_sh, _block_cond("b_", "c_"))
        .filter(_jaccard_expr("b_shingles", "c_shingles") >= threshold)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    return no_exact.join(near_ids, "doc_id", "left_anti")


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Release audit between two corpus versions at CONTENT identity:
    one row per distinct content hash with status ``added`` (only in
    ``new``), ``removed`` (only in ``old``) or ``kept``, plus each
    side's copy count. The diff an incremental corpus pipeline (x38/n9
    appends, near-dup prunes) is validated against — "what did this
    release actually change" independent of doc ids, file layout, or
    row order.

    Scale shape: each side collapses to (hash, count) with map-side
    partial aggregation before the full-outer hash join — the shuffle
    carries one ~40-byte row per distinct content, never text, and the
    join key is the hash (uniform, skew-free by construction)."""
    o = old.groupBy(F.sha2(F.col("text"), 256).alias("content_hash")).agg(
        F.count("*").alias("old_copies")
    )
    n = new.groupBy(F.sha2(F.col("text"), 256).alias("content_hash")).agg(
        F.count("*").alias("new_copies")
    )
    status = (
        F.when(F.col("old_copies").isNull(), F.lit("added"))
        .when(F.col("new_copies").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
    )
    return o.join(n, "content_hash", "full_outer").select(
        "content_hash",
        status.alias("status"),
        F.coalesce("old_copies", F.lit(0)).alias("old_copies"),
        F.coalesce("new_copies", F.lit(0)).alias("new_copies"),
    )


def paragraph_dedup(docs: DataFrame, para_tokens: int = 20) -> DataFrame:
    """Span-grain exact dedup (the C4/Gopher "remove repeated spans"
    move, word-window form): split each document into non-overlapping
    ``para_tokens``-token blocks, keep only the globally FIRST
    occurrence of each distinct block (ordered by (doc_id, block
    index) — deterministic), and reassemble every document from its
    surviving blocks in order. Returns one row per input document:
    ``(doc_id, kept_text, n_kept, n_total)`` — a document whose every
    block already appeared elsewhere survives with ``kept_text = ''``
    (the caller's length filter drops it, mirroring C4).

    Scale shape — text never enters the dedup exchanges:

    1. blocks reduce to ``(sha2(block), doc_id, idx)`` inside the scan
       stage (narrow fan-out, like chunk_documents) — the hash is the
       32-BYTE BINARY digest (unhex), not the 64-char hex string:
       same collision-free identity, half the exchange bytes;
    2. the first-occurrence decision is a row_number window over the
       HASH — the only corpus-wide shuffle, ~44 bytes per block;
    3. winners collapse to an id-grain ``(doc_id, keep_idxs[])`` list
       (second id-only shuffle, one row per surviving doc);
    4. documents re-derive their kept text locally by re-slicing their
       own token array against ``keep_idxs`` — the single exchange
       that touches text is the doc-grain join, which AQE broadcasts
       whenever the keep-list side measures small.

    The DuckDB oracle (catalog x49) replays the same decision by
    windowing over the block text itself — identical up to sha2
    collisions, i.e. identical.
    """
    from stock_market_etl_spark.operators.text import tokens

    toks = docs.select(F.col("doc_id"), tokens(F.col("text")).alias("__t"))
    n = F.size("__t")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(para_tokens))
    blocks = toks.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                starts, lambda s: F.slice(F.col("__t"), s, para_tokens)
            )
        ).alias("__idx", "__b"),
    ).select(
        "doc_id",
        "__idx",
        F.unhex(F.sha2(F.concat_ws(" ", F.col("__b")), 256)).alias("__h"),
    )
    from pyspark.sql import Window

    first = F.row_number().over(
        Window.partitionBy("__h").orderBy("doc_id", "__idx")
    )
    kept = (
        blocks.withColumn("__rn", first)
        .filter(F.col("__rn") == 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("__idx")).alias("__keep"))
    )
    rebuilt = F.concat_ws(
        " ",
        F.flatten(
            F.transform(
                F.coalesce(F.col("__keep"), F.array().cast("array<int>")),
                lambda i: F.slice(
                    F.col("__t"), i * para_tokens + 1, para_tokens
                ),
            )
        ),
    )
    return toks.join(kept, "doc_id", "left").select(
        "doc_id",
        rebuilt.alias("kept_text"),
        # size(NULL) is -1, not NULL — guard with when, not coalesce
        F.when(F.col("__keep").isNull(), F.lit(0))
        .otherwise(F.size("__keep"))
        .cast("long")
        .alias("n_kept"),
        F.size(starts).cast("long").alias("n_total"),
    )


def boilerplate_prune(
    docs: DataFrame,
    para_tokens: int = 20,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-wide boilerplate removal (the C4 "discard any line that
    occurs in three or more documents" rule, word-window form): split
    each document into non-overlapping ``para_tokens``-token blocks,
    find every block whose text occurs in ``min_docs`` or more
    DISTINCT documents, and drop ALL copies of those blocks — unlike
    :func:`paragraph_dedup`, no first occurrence survives (headers,
    footers, navigation chrome should vanish everywhere). Returns one
    row per input document: ``(doc_id, kept_text, n_kept, n_total)``.

    Scale shape — text never enters the corpus-wide exchanges:

    1. blocks reduce to ``(sha2(block), doc_id, idx)`` inside the scan
       stage (same narrow fan-out as paragraph_dedup; same 32-byte
       binary digest — half the exchange bytes of the hex form);
    2. the banned set is a hash-grain partial-aggregated
       ``count(DISTINCT doc_id) >= min_docs`` — the only corpus-wide
       shuffle, ~50 bytes per block, and the ban list it produces is
       orders of magnitude smaller than the block set (only repeated
       hashes survive the HAVING), so AQE broadcasts it into the
       anti-join whenever it measures small;
    3. survivors collapse to an id-grain ``(doc_id, keep_idxs[])``
       list and each document re-slices its own token array locally —
       the one exchange that touches text is the doc-grain join.

    The DuckDB oracle (catalog x60) replays the ban decision over the
    block text itself — identical up to sha2 collisions, i.e.
    identical.
    """
    from stock_market_etl_spark.operators.text import tokens

    toks = docs.select(F.col("doc_id"), tokens(F.col("text")).alias("__t"))
    n = F.size("__t")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(para_tokens))
    blocks = toks.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                starts, lambda s: F.slice(F.col("__t"), s, para_tokens)
            )
        ).alias("__idx", "__b"),
    ).select(
        "doc_id",
        "__idx",
        F.unhex(F.sha2(F.concat_ws(" ", F.col("__b")), 256)).alias("__h"),
    )
    banned = (
        blocks.groupBy("__h")
        .agg(F.count_distinct(F.col("doc_id")).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    kept = (
        blocks.join(banned, "__h", "left_anti")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("__idx")).alias("__keep"))
    )
    rebuilt = F.concat_ws(
        " ",
        F.flatten(
            F.transform(
                F.coalesce(F.col("__keep"), F.array().cast("array<int>")),
                lambda i: F.slice(
                    F.col("__t"), i * para_tokens + 1, para_tokens
                ),
            )
        ),
    )
    return toks.join(kept, "doc_id", "left").select(
        "doc_id",
        rebuilt.alias("kept_text"),
        # size(NULL) is -1, not NULL — guard with when, not coalesce
        F.when(F.col("__keep").isNull(), F.lit(0))
        .otherwise(F.size("__keep"))
        .cast("long")
        .alias("n_kept"),
        F.size(starts).cast("long").alias("n_total"),
    )


# --- winnowing fingerprints (MOSS-style local fingerprinting) -------------


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 16) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): normalize text (lowercase, strip
    non-alphanumerics), hash every character ``k``-gram, slide a
    ``w``-hash window and select each window's minimum hash (rightmost
    position on ties). Guarantees any shared substring of at least
    ``k + w - 1`` normalized characters contributes at least one
    shared fingerprint, at an expected density of ``2 / (w + 1)`` —
    the local, position-aware complement to the document-global
    MinHash/SimHash tiers. Returns ``(doc_id, fp_pos, fp_hash)``, one
    row per selected (position, hash), deduplicated per document.

    Scale shape: the whole selection is array expressions inside the
    scan stage — gram hashing, the window slide, and the per-document
    dedup all happen before anything leaves the partition, so the
    operator itself is zero-shuffle and the exchange cost belongs to
    whatever consumes the (id, pos, hash) rows (~2/(w+1) of the gram
    count, not the text). The hash is md5-hex so the DuckDB oracle
    replays it exactly (catalog x64); a production deployment would
    swap xxhash64 for md5 and unhex the exchange (x49's binary-digest
    economy) — the selection logic is hash-agnostic.

    Documents shorter than ``k`` normalized characters yield no grams
    and are absent from the output; documents with fewer than ``w``
    grams winnow over one clipped window (same edge rule as
    text.word_grams).

    The hash is the first 8 bytes of md5, little-endian, as a signed
    64-bit int — chosen because DuckDB's ``md5_number_upper`` computes
    the identical value, so the oracle (catalog x64) replays every
    selected hash bit-exactly while the engine exchanges 8-byte longs
    instead of 32-char hex (the x49 binary-digest economy, one better).
    Hashing + window selection run in ONE Arrow-batched Python stage
    (``mapInPandas`` + hashlib/numpy): a first cut in pure array
    expressions spent ~16 s at sf0.1 inside the interpreted
    ``transform(md5(substring(...)))`` lambda — the per-gram md5 is
    Python-speed either way, and the Arrow form amortizes it per batch
    (measured 22 s → well under 2 s for the selection stage). The
    normalization stays native, the stage itself is zero-shuffle, and
    the exchange cost belongs to whatever consumes the (id, pos, hash)
    rows (~2/(w+1) of the gram count, never the text).
    """
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    # spread BEFORE the per-doc compute: a single-file corpus is one
    # partition and the stage is bounded by Python hashing, not IO
    # (parallelism.spread is a no-op on wide inputs — at scale this
    # adds nothing; locally it round-robins just id+text).
    base = spread(docs.select(F.col("doc_id"), F.col("text"))).select(
        F.col("doc_id"), norm.alias("__t")
    ).filter(F.length("__t") >= k)
    id_type = docs.schema["doc_id"].dataType.simpleString()
    out_schema = f"doc_id {id_type}, fp_pos bigint, fp_hash bigint"

    def _winnow(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        empty = np.array([], dtype=np.int64)
        # Gram hashing pays one Python-level md5 call per CHUNK-UNIQUE
        # gram, not per gram position: normalized corpus text repeats
        # its k-grams heavily (measured 7.4% unique at sf0.1), so the
        # windows are extracted vectorized, keyed as fixed-width
        # values (uint64 for k <= 8, raw k-byte void otherwise) and
        # only np.unique's survivors are hashed — ~2.5x faster with
        # bit-identical output; the digest input is still exactly the
        # gram's k bytes (r15, guide §4.2; equivalence pinned in
        # tests/test_extensions.py against the per-position form and
        # by the x64 DuckDB oracle, which replays every hash). The
        # dedup runs over bounded CHUNKS of documents, never the whole
        # Arrow batch, and each document winnows immediately after its
        # chunk is hashed: peak extra memory is the chunk's key array
        # plus np.unique's sort workspace (~a few x 32 MB at the 4M
        # budget), independent of batch size — an unbounded batch-wide
        # key table would trade the old kernel's O(longest doc)
        # footprint for O(batch text) (review r15).
        gram_budget = 1 << 22  # 4M grams ≈ 32 MB of uint64 keys
        gram_key = (
            np.dtype(np.uint64) if k <= 8 else np.dtype((np.void, k))
        )
        width = 8 if k <= 8 else k

        def _grams(data_b):
            """Fixed-width gram keys for one document's bytes."""
            data = np.frombuffer(data_b, dtype=np.uint8)
            sw = np.lib.stride_tricks.sliding_window_view(data, k)
            if k <= 8:
                # zero-pad each gram into one little-endian uint64
                # key (injective: padding is constant); the real
                # gram bytes are recovered as the key's first k
                # bytes when hashing
                padded = np.zeros((sw.shape[0], 8), dtype=np.uint8)
                padded[:, :k] = sw
                return padded.view(np.uint64).ravel()
            return np.ascontiguousarray(sw).view(gram_key).ravel()

        def _hash_chunk(chunk):
            """md5-int64 hashes for a chunk of per-doc gram-key
            arrays, deduped across the chunk; returns one int64 array
            per input document."""
            allg = np.concatenate(chunk)
            uniq_g, inv = np.unique(allg, return_inverse=True)
            ub = uniq_g.tobytes()
            dig = np.empty(len(uniq_g), dtype=np.uint64)
            for j in range(len(uniq_g)):
                dig[j] = int.from_bytes(
                    md5(ub[width * j : width * j + k]).digest()[:8],
                    "little",
                )
            h_flat = dig[inv].view(np.int64)
            out, o = [], 0
            for g in chunk:
                out.append(h_flat[o : o + g.size])
                o += g.size
            return out

        def _select(h, counts, pos_parts, hash_parts):
            """Winnow one document's hash stream: slide the w-window,
            keep the rightmost minimum per window, dedup (pos, hash)."""
            n = h.size
            ww = min(w, n)
            sw = np.lib.stride_tricks.sliding_window_view(h, ww)
            # rightmost argmin: first occurrence in the reversed view
            off = ww - 1 - np.argmin(sw[:, ::-1], axis=1)
            pos = np.arange(sw.shape[0], dtype=np.int64) + off + 1
            uniq = np.unique(np.stack([pos, h[pos - 1]], axis=1), axis=0)
            counts.append(uniq.shape[0])
            pos_parts.append(uniq[:, 0])
            hash_parts.append(uniq[:, 1])

        for pdf in batches:
            counts, pos_parts, hash_parts = [], [], []
            chunk, chunk_grams = [], 0
            for t in pdf["__t"].values:
                chunk.append(_grams(t.encode("utf-8")))
                chunk_grams += chunk[-1].size
                if chunk_grams >= gram_budget:
                    for h in _hash_chunk(chunk):
                        _select(h, counts, pos_parts, hash_parts)
                    chunk, chunk_grams = [], 0
            if chunk:
                for h in _hash_chunk(chunk):
                    _select(h, counts, pos_parts, hash_parts)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["__id"].values, counts)
                    if counts
                    else pdf["__id"].values,
                    "fp_pos": np.concatenate(pos_parts)
                    if pos_parts
                    else empty,
                    "fp_hash": np.concatenate(hash_parts)
                    if hash_parts
                    else empty,
                }
            )

    return base.select(
        F.col("doc_id").alias("__id"), "__t"
    ).mapInPandas(_winnow, schema=out_schema)


def winnow_near_dup(
    docs: DataFrame,
    k: int = 8,
    w: int = 16,
    min_shared: int = 8,
    max_docs_per_fp: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints: two
    documents pair when they share at least ``min_shared`` distinct
    selected hashes, after dropping "stop fingerprints" that occur in
    more than ``max_docs_per_fp`` documents (corpus boilerplate —
    without the cap one template fingerprint would pair every
    document against every other). Returns
    ``(doc_a, doc_b, shared_fps)`` with ``doc_a < doc_b``.

    Unlike the MinHash/SimHash tiers this is EXACT for its own
    definition — fingerprint selection is deterministic — so it
    carries a full DuckDB hash oracle (catalog x65). Scale shape:
    fingerprints leave the scan as 8-byte BIGINT hash + id rows
    (pos dropped before the pair stage), the stop-fingerprint ban set
    is a hash-grain aggregate that only repeated hashes survive (AQE
    broadcasts it into the anti-join), and the bucket self-join is
    capped at ``max_docs_per_fp`` rows per hash — the same
    bounded-bucket economy as the LSH pair sources, but with a
    replayable oracle.
    """
    # persist(): the fingerprint table feeds three consumers (the ban
    # set and both self-join sides) — winnow once, not three times
    # (lifecycle per module docstring).
    fps = (
        winnow_fingerprints(docs, k, w)
        .select(
            F.col("doc_id").alias("__d"),
            F.col("fp_hash").alias("__h"),
        )
        .distinct()
        .persist()
    )
    banned = (
        fps.groupBy("__h")
        .agg(F.count("*").alias("__nd"))
        .filter(F.col("__nd") > max_docs_per_fp)
        .select("__h")
    )
    pruned = fps.join(banned, "__h", "left_anti")
    a = pruned.select("__h", F.col("__d").alias("doc_a"))
    b = pruned.select("__h", F.col("__d").alias("doc_b"))
    return (
        a.join(b, "__h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def keep_best_dedup(
    docs: DataFrame,
    score: Column,
    threshold: float = 0.6,
    source: str = "exact",
) -> DataFrame:
    """Quality-AWARE near-duplicate dedup: chain near-dup pairs into
    clusters (``near_dup_clusters``) and keep each cluster's
    highest-``score`` member (ties break to the lowest id), not its
    first-seen one — the curation rule real corpus builds use, where
    "which copy survives" matters as much as "only one survives"
    (SemDeDup/FineWeb keep-best; x6/x31's keep-first is the content-
    identity form). Singletons survive unchanged. Returns one row per
    SURVIVOR: ``(id, cluster_size, quality)``.

    ``source`` inherits near_dup_clusters' split: ``"exact"`` blocked
    Jaccard pairs (the DuckDB-replayable ground truth, catalog x66);
    ``"lsh"`` banded MinHash (the 100 TB path). Scale shape: the pair
    and CC stages move (id, id)/(id, label) rows only; the score
    attaches by an id-grain join; the per-cluster argmax is a window
    over cluster ids (clusters are small by construction — near-dup
    groups, not the corpus), and the singleton pass is an id-only
    anti-join. Text never leaves the scan that computes the score.
    """
    from pyspark.sql import Window

    clusters = near_dup_clusters(docs, threshold=threshold, source=source)
    scored = docs.select(F.col("doc_id"), score.alias("__q"))
    memb = clusters.join(scored, "doc_id")
    wc = Window.partitionBy("cluster_rep")
    wr = Window.partitionBy("cluster_rep").orderBy(
        F.col("__q").desc(), F.col("doc_id").asc()
    )
    best = (
        memb.select(
            "doc_id",
            "__q",
            F.row_number().over(wr).alias("__rn"),
            F.count("*").over(wc).alias("cluster_size"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    singles = scored.join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).withColumn("cluster_size", F.lit(1).cast("long"))
    return (
        best.unionByName(singles)
        .select(
            "doc_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.round("__q", 6).alias("quality"),
        )
    )


def exact_substring_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplicate SPANS at arbitrary alignment (the
    suffix-array dedup of Lee et al. 2021, arXiv:2107.06499, expressed
    as overlapping fixed-width windows): every ``k``-token window whose
    content appears in ≥ ``min_docs`` DISTINCT documents is flagged,
    and per document the flagged windows merge into maximal token
    spans ``(span_start, span_end)`` (1-based, inclusive) — the spans
    a curation pass cuts. Overlapping windows make the detection
    alignment-free: any shared run of ≥ k tokens is caught wherever it
    starts, which block-grain dedup (x49/x60's fixed non-overlapping
    blocks) structurally cannot do; a shared run of length L ≥ k is
    covered by exactly L−k+1 windows and merges back into one span.

    Deterministic end-to-end → full DuckDB hash oracle (catalog x71):
    md5 window hashes, islands by the standard gaps-and-islands
    window (a break when the next flagged position starts past
    prev+k — overlap/adjacency merges).

    Scale shape: windows hash inside the scan (one md5 per token —
    the overlapping-gram price; ~k× the gram COUNT of block dedup but
    the same byte economy because only (id, pos, 16-byte binary
    digest) rows ever move, never text). Exchanges: the (hash, id)
    distinct for the cross-doc count, and the per-doc islands window
    over the flagged hits; the flag set shrinks through its HAVING so
    AQE BROADCASTS the semi-join back onto the window stream — the
    full (id, pos, h) stream itself never shuffles (x60's ban-set
    move). The window hashing is recomputed by its two consumers by
    design — see the inline note at ``g`` for why sharing it loses at
    100 TB. This is the honest cost of suffix-grade dedup — the
    published pipelines pay the same pass."""
    # The window stream is deliberately RECOMPUTED by its two
    # consumers (the flag aggregation prunes to (h, id); the hit scan
    # keeps (id, pos, h)) rather than exchanged or cached once:
    # repartitioning to share it was tried (r10) and REJECTED — the
    # branches' different pruned columns defeat ReuseExchange, so it
    # only added a full-stream exchange the broadcast semi-join below
    # never needed, and materializing a k×-corpus intermediate to
    # save one scan-local hashing pass is exactly the trade a 100 TB
    # corpus cannot afford (the cache would be corpus-sized; the
    # recompute is a CPU pass inside an already-required scan).
    g = _window_hash_stream(docs, k, text_col, id_col)
    flagged = (
        g.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    hits = g.join(flagged, "__h", "left_semi")
    return _merge_flagged_spans(hits, k, id_col)


def exact_substring_spans_keep_one(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """`exact_substring_spans` with Lee et al.'s KEEP-ONE policy
    (their published dedup keeps one occurrence of each duplicated
    substring; x71/x72's every-copy stance is C4's): each flagged
    window is charged to every holder EXCEPT its KEEPER — the minimum
    ``doc_id`` among the documents holding that window content — so
    exact-duplicate documents resolve to "min id keeps its text,
    the rest cut", and a duplicated paragraph survives verbatim in
    its first holder. Keeper choice is per WINDOW (content identity),
    which makes the rule deterministic and oracle-replayable with no
    cluster construction; the honest caveat (shared with practical
    suffix-dedup keep-one): when overlapping runs have different
    keepers, a keeper's copy can still lose positions to the
    neighbouring run's span — only identical-extent duplication is
    guaranteed to survive in full.

    Deterministic → full DuckDB hash oracle (catalog x76 cuts these
    spans). Scale shape: identical to `exact_substring_spans` — the
    flag aggregate carries one extra 8-byte min(id) column; the hit
    join swaps left_semi for an inner join plus a scan-local keeper
    inequality."""
    g = _window_hash_stream(docs, k, "text", "doc_id")
    flagged = (
        g.select("__h", "doc_id")
        .distinct()
        .groupBy("__h")
        .agg(
            F.count("*").alias("__nd"),
            F.min("doc_id").alias("__keeper"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("__h", "__keeper")
    )
    hits = (
        g.join(flagged, "__h")
        .filter(F.col("doc_id") != F.col("__keeper"))
        .select("doc_id", "__pos")
    )
    return _merge_flagged_spans(hits, k, "doc_id")


def _window_hash_stream(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, __pos, __h) for every overlapping k-token window — hashed
    INSIDE the scan (one md5 per token; 16-byte binary digests), the
    shared front of the exact-substring family."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(F.col(id_col), toks.alias("__t")).filter(
        F.size("__t") >= k
    )
    t = F.col("__t")
    windows = F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.unhex(F.md5(F.concat_ws(" ", F.slice(t, i, k)))).alias(
                "h"
            ),
        ),
    )
    return base.select(
        F.col(id_col), F.explode(windows).alias("__w")
    ).select(id_col, F.col("__w.pos").alias("__pos"), F.col("__w.h").alias("__h"))


def _merge_flagged_spans(hits: DataFrame, k: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of flagged window positions into maximal
    per-doc token spans (break when the next flagged position starts
    past prev+k — overlap/adjacency merges)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    brk = (
        F.when(
            F.lag("__pos").over(w).isNull()
            | (F.col("__pos") > F.lag("__pos").over(w) + k),
            1,
        )
        .otherwise(0)
    )
    # two passes: the break flag is itself a window expression, so it
    # must materialize before the running sum that numbers islands
    marked = hits.select(id_col, "__pos", brk.alias("__brk"))
    grouped = marked.select(
        id_col,
        "__pos",
        F.sum("__brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__gid"),
    )
    return (
        grouped.groupBy(id_col, "__gid")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def corpus_window_hashes(
    corpus: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The MATERIALIZABLE index for incremental substring flagging:
    per distinct window hash, the count of distinct corpus documents
    holding it — ``(__h, __nd)``. Computed once per corpus release and
    written to the lake beside the content-hash table (the
    `corpus_signatures` / x39 pattern lifted to window grain), then
    every arriving batch joins against it instead of re-hashing the
    corpus. 16 B + 8 B per distinct window — a fraction of corpus
    bytes, and append-mergeable (counts sum by hash) when the corpus
    itself grows by appends of NEW doc ids."""
    g = _window_hash_stream(corpus, k, text_col, id_col)
    return (
        g.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__nd"))
    )


def bloom_sizing(n_windows: int, fpp: float = 0.01) -> tuple[int, int]:
    """Size a window Bloom filter: distinct-window count + target
    false-positive rate → ``(m_bits, j_hashes)`` — the standard
    ``m = -n·ln(p)/ln(2)²``, ``j = m/n·ln(2)`` formulas with the
    engine's floors applied (m rounds up to whole 64-bit longs and
    never below one long; j caps at 16 — past that the per-row probe
    cost grows with no FPR benefit at any practical sizing, and only
    degenerate tiny-n references hit the cap, where FPR is ~0 anyway).

    Public seam so a user sizing a 100 TB eval index doesn't
    hand-compute bitmap bytes: ``m/8`` is the bitmap size,
    ``partitions × m/8`` the build's driver traffic
    (`build_window_bloom` uses exactly this function). FPR is
    monotonically non-increasing in m at fixed n — property-tested in
    tests/test_properties.py."""
    import math

    if n_windows <= 0:
        raise ValueError("n_windows must be positive")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = int(
        math.ceil(-n_windows * math.log(fpp) / (math.log(2) ** 2))
    )
    m = max(64, ((m + 63) // 64) * 64)  # whole longs, never 0
    j = min(16, max(1, round(m / n_windows * math.log(2))))
    return m, j


def build_window_bloom(
    reference: DataFrame,
    k: int = 8,
    fpp: float = 0.01,
) -> tuple[bytes, int, int, int, int]:
    """Build a BLOOM FILTER over a reference corpus's distinct
    k-token window hashes — the memory-bounded tier of the
    decontamination index (the Dolma stance: eval n-grams live in a
    Bloom filter, training text tests membership scan-locally). For
    an eval set too large to broadcast as exact digests, the filter
    is ~1.2 bytes per window at 1% FPR versus 16, and membership is
    a per-row bit test instead of a join. False POSITIVES over-flag
    (a little extra training text is cut — the safe direction for
    decontamination); false negatives are impossible by
    construction: build and probe hash with the SAME Spark-side
    ``xxhash64(digest, seed_i)`` family, so every window that is in
    the reference sets exactly the bits the probe tests.

    Returns ``(bitmap, m_bits, j_hashes, n_windows, built_k)`` —
    ``built_k`` is the window width the filter was BUILT at, recorded
    in the artifact tuple for the same reason `write_window_index`
    records k in its meta sidecar: probing at a different k makes
    every membership test a random probe (~fpp of clean training
    windows cut, every true eval leak passed unflagged), so
    `bloom_contaminated_spans` refuses a width mismatch loudly
    (ADVICE r13).

    Scale shape: window hashing and bit-position derivation run
    JVM-side inside the scan; each partition folds its positions
    into ONE m-bit partial bitmap (Arrow-batched numpy), and the
    driver ORs the ≤ numPartitions partials — driver traffic is
    partitions × m/8 bytes, independent of corpus row count (the IVF
    centroid-collect class of bounded driver work). One extra
    count() job sizes ``m`` from the exact distinct-window count via
    the public `bloom_sizing` seam."""
    hashes = (
        _window_hash_stream(reference, k, "text", "doc_id")
        .select("__h")
        .distinct()
        .persist()
    )
    n = hashes.count()
    if n == 0:
        # keep the bloom_sizing floors (m a positive multiple of 64)
        # even for the degenerate empty reference, so every consumer
        # of the tuple sees one uniform invariant
        hashes.unpersist()
        return b"\x00" * 8, 64, 1, 0, int(k)
    m, j = bloom_sizing(n, fpp)
    bitmap = _bloom_bitmap_at(hashes, m, j)
    hashes.unpersist()
    return bitmap, m, j, n, int(k)


def _bloom_bitmap_at(hashes: DataFrame, m: int, j: int) -> bytes:
    """Fold a ``__h`` window-hash stream into one m-bit bitmap at a
    FIXED (m, j) — the build tail of `build_window_bloom`, extracted
    (r15) so the release-merge step can fold an increment's windows
    at the EXISTING filter's geometry (bit positions are a pure
    function of (hash, m, j), so bloom(union) ≡ bloom(a) | bloom(b)
    bit-for-bit at fixed geometry). Per partition: JVM-side
    xxhash64 positions, one Arrow-batched numpy OR-fold; driver
    traffic ≤ partitions × m/8 bytes."""
    import numpy as np
    import pyarrow as pa

    pos_cols = [
        F.pmod(F.xxhash64(F.col("__h"), F.lit(i)), F.lit(m)).alias(
            f"__p{i}"
        )
        for i in range(j)
    ]
    positions = hashes.select(pos_cols)

    n_bytes = m // 8

    def partial_bitmaps(batches):
        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for batch in batches:
            seen = True
            for col in batch.columns:
                pos = col.to_numpy(zero_copy_only=False)
                np.bitwise_or.at(
                    bitmap,
                    pos >> 3,
                    (1 << (pos & 7)).astype(np.uint8),
                )
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array([bitmap.tobytes()], type=pa.binary())],
                names=["bm"],
            )

    parts = positions.mapInArrow(
        partial_bitmaps, "bm binary"
    ).collect()
    bitmap = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        bitmap |= np.frombuffer(row["bm"], dtype=np.uint8)
    return bitmap.tobytes()


def bloom_fpr(n: int, m: int, j: int) -> float:
    """Predicted false-positive rate of an (m bits, j hashes) Bloom
    filter holding ``n`` keys: ``(1 - e^(-j·n/m))^j`` — the standard
    estimate, exposed publicly (the `bloom_sizing` convention) so
    release-merge callers can see how far a grown filter has drifted
    from its build-time target."""
    import math

    if n <= 0:
        return 0.0
    return (1.0 - math.exp(-float(j) * float(n) / float(m))) ** j


#: Bitmap chunk size in the bloom artifact: one parquet row per
#: chunk keeps any single binary cell far below format/row limits
#: while a multi-hundred-MB filter still lands in a handful of rows.
_BLOOM_CHUNK_BYTES = 16 * 1024 * 1024


def write_bloom_index(
    bloom: tuple[bytes, int, int, int, int],
    spark: SparkSession,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Materialize a `build_window_bloom` tuple as a frozen
    ``path/{bitmap, meta}`` artifact — the persistence step the bloom
    tier lacked (every other index in this family already freezes:
    window hashes b25/b26, vectors/buckets b27/b28): build the filter
    ONCE per eval release, and every later probe session — batch or
    streamed — loads m/8 bytes instead of re-hashing the eval corpus.
    The bitmap lands as ordered ≤16 MB chunk rows (one giant binary
    cell would brush parquet cell limits); ``(m, j, n, k)`` land in a
    one-row meta sidecar, all four validated on read — they are the
    filter's identity exactly as dim is the vector artifact's
    (probing at another k or folding at another (m, j) turns every
    membership test into noise). ``mode`` is the `artifacts` release
    protocol's: ``overwrite`` rebuilds in place, ``error`` publishes
    write-once."""
    bitmap, m, j, n, k = bloom
    chunks = [
        (i, bitmap[off : off + _BLOOM_CHUNK_BYTES])
        for i, off in enumerate(
            range(0, max(len(bitmap), 1), _BLOOM_CHUNK_BYTES)
        )
    ]
    artifacts.write_release(
        spark,
        path,
        {
            "bitmap": spark.createDataFrame(
                chunks, "chunk_id int, bytes binary"
            ).coalesce(1)
        },
        "m bigint, j int, n bigint, k int",
        (m, j, n, k),
        mode,
    )


def publish_bloom_index(
    bloom: tuple[bytes, int, int, int, int],
    spark: SparkSession,
    path: str,
) -> None:
    """Publish a bloom tuple — typically `merge_window_bloom`'s
    result — as a new frozen RELEASE at ``path``, write-once (the
    `artifacts` publish protocol, `write_bloom_index` in mode
    ``error``): the streaming gate (`bloom_gate_sink`) reads a
    release ONCE at sink setup, so a new eval increment folds into
    the read-back tuple and publishes as the NEXT release directory —
    never mutating one a running gate may re-read on restart. An
    incoherent tuple (bitmap length disagreeing with its recorded
    ``m``) refuses BEFORE any write — publishing it would freeze an
    artifact every later read rejects."""
    bitmap, m = bloom[:2]
    if len(bitmap) * 8 != int(m):
        raise ValueError(
            f"refusing to publish a malformed bloom tuple: "
            f"{len(bitmap)} bitmap bytes but m={m} bits "
            f"({int(m) // 8} bytes) — the artifact would fail every "
            "read_bloom_index; rebuild or re-merge the filter"
        )
    write_bloom_index(bloom, spark, path, mode="error")


def read_bloom_index(
    spark: SparkSession, path: str, k: int | None = None
) -> tuple[bytes, int, int, int, int]:
    """Load a `write_bloom_index` artifact back as the
    `build_window_bloom` tuple `bloom_contaminated_spans` takes.
    Loud refusals for: malformed meta (`artifacts.read_required_meta`),
    a bitmap whose byte length disagrees with the recorded ``m``
    (truncated or mixed-release chunks), and a caller ``k`` that
    contradicts the recorded width (the `read_window_index`
    convention). The driver-side collect is the filter itself — m/8
    bytes, the same bounded class as holding the tuple in memory."""
    m, j, n, built_k = artifacts.read_required_meta(
        spark, path, ("m", "j", "n", "k"), "bloom index", "write_bloom_index"
    )
    if k is not None and k != built_k:
        raise ValueError(
            f"bloom index at {path} was built with k={built_k}, "
            f"probe requested k={k} — bit positions would be random "
            "noise; rebuild the filter or probe at its k"
        )
    chunk_rows = (
        spark.read.parquet(f"{path}/bitmap")
        .orderBy("chunk_id")
        .collect()
    )
    bitmap = b"".join(bytes(r["bytes"]) for r in chunk_rows)
    if len(bitmap) * 8 != m:
        raise ValueError(
            f"bloom index at {path} holds {len(bitmap)} bitmap bytes "
            f"but meta records m={m} bits ({m // 8} bytes) — "
            "artifact truncated or mixed releases; rebuild with "
            "write_bloom_index"
        )
    return bitmap, m, j, n, built_k


def merge_window_bloom(
    bloom: tuple[bytes, int, int, int, int],
    new_docs: DataFrame,
    built_k: int,
    k: int = 8,
    fpp: float = 0.01,
) -> tuple[bytes, int, int, int, int]:
    """Fold NEW documents into an existing window Bloom filter
    WITHOUT re-hashing the filtered corpus — the bloom rung of the
    multi-release lifecycle (`merge_window_index`'s contract at
    bitmap grain): the increment's distinct windows fold at the
    EXISTING geometry (bit positions are a pure function of
    (hash, m, j)), so ``merge_window_bloom(bloom, batch, built_k)``
    is BIT-IDENTICAL to a filter built over corpus ∪ batch at the
    same (m, j, k) — OR is idempotent, shared windows set shared
    bits. ``built_k`` is REQUIRED (pass the tuple's last element):
    folding at the wrong width poisons the filter silently — the
    same loud ValueError every merge seam in this family raises.

    The returned ``n`` is the SUM of the two sides' window counts —
    an upper bound on the union's distinct count (cross-release
    duplicate windows are invisible at bitmap grain). FPR grows as
    the filter fills beyond its build-time sizing; when the merged
    load predicts more than 2× the pre-merge rate, a RuntimeWarning
    points at rebuilding with `build_window_bloom` at the union's
    size (`bloom_fpr` is the public estimate).

    ``fpp`` is used ONLY when the base tuple is the degenerate
    empty-reference floor (a legal bootstrap artifact): the first
    real increment then builds fresh at a real size, and a family
    standardized on a stricter target than the 1% default must pass
    it here too — the tuple does not record its build-time fpp, so
    the merge cannot recover it (review r15)."""
    bitmap, m, j, n, k0 = bloom
    if built_k != int(k0):
        raise ValueError(
            f"window bloom filter was built with k={k0}, merge "
            f"claimed built_k={built_k} — pass the tuple's recorded "
            "width; a mixed-width filter flags noise"
        )
    if k != built_k:
        raise ValueError(
            f"window bloom filter was built with k={built_k}, merge "
            f"requested k={k} — a mixed-width filter flags noise; "
            "rebuild the filter or merge at its k"
        )
    import numpy as np

    hashes = (
        _window_hash_stream(new_docs, k, "text", "doc_id")
        .select("__h")
        .distinct()
        .persist()
    )
    n_new = hashes.count()
    if n_new == 0:
        hashes.unpersist()
        return bloom
    if int(n) == 0:
        # the degenerate empty-reference tuple has floor geometry
        # (m=64, j=1) — folding real windows into it would produce a
        # useless all-ones filter; build fresh at a real size
        m_new, j_new = bloom_sizing(n_new, fpp)
        merged_bits = _bloom_bitmap_at(hashes, m_new, j_new)
        hashes.unpersist()
        return merged_bits, m_new, j_new, n_new, int(built_k)
    inc = _bloom_bitmap_at(hashes, m, j)
    hashes.unpersist()
    merged = (
        np.frombuffer(bitmap, dtype=np.uint8)
        | np.frombuffer(inc, dtype=np.uint8)
    ).tobytes()
    n_merged = int(n) + int(n_new)
    if bloom_fpr(n_merged, m, j) > 2.0 * bloom_fpr(int(n), m, j):
        warnings.warn(
            f"merged bloom filter predicts FPR "
            f"{bloom_fpr(n_merged, m, j):.4f} — more than 2× its "
            f"pre-merge {bloom_fpr(int(n), m, j):.4f}; the filter "
            "has outgrown its build-time sizing. Over-flagging is "
            "the safe direction for decontamination, but rebuild "
            "with build_window_bloom over the union to restore the "
            "target rate.",
            RuntimeWarning,
            stacklevel=2,
        )
    return merged, m, j, n_merged, int(built_k)


#: Broadcast cache for probe bitmaps, keyed by (applicationId, bitmap
#: sha1): pyspark Broadcast handles are NOT destroyed on GC, so one
#: broadcast per bloom_contaminated_spans CALL would pin a bitmap copy
#: in the driver's block manager per probe (review r14); keying by
#: content digest makes repeated probes of the same filter free while
#: distinct filters stay bounded by the session's eval releases.
#: _BLOOM_DIGEST_MEMO avoids re-hashing a multi-hundred-MB bitmap on
#: every cache HIT: keyed by object id with a strong reference to the
#: bytes held in the value, so the id can never be reused while the
#: entry lives (the `is` check makes a collision harmless anyway).
#: One lock guards both — concurrent probes (two streaming gates, or
#: interactive + streamed) must not race the eviction iteration.
_BLOOM_BC_CACHE: dict = {}
_BLOOM_DIGEST_MEMO: dict = {}
_BLOOM_BC_LOCK = threading.Lock()


#: The digest memo holds STRONG bitmap refs (that's what keeps the id
#: keys valid), so it is bounded by BYTES, not entries — the entries
#: are the multi-hundred-MB objects the tier exists for, so an entry
#: count would still pin gigabytes (review r14). Eviction is LRU
#: (hits refresh recency) so cycling releases don't thrash; an
#: evicted bitmap pays one sha1 on its next probe and still finds
#: its cached broadcast by content digest.
_BLOOM_MEMO_MAX_BYTES = 256 * 1024 * 1024

#: Above this size the Spark Connect closure-capture fallback (no
#: sparkContext → bitmap pickled into every task command) warns
#: loudly instead of degrading silently (ADVICE r14): 16 MB is the
#: scale where per-task re-shipping starts to dominate probe cost.
_BLOOM_CLOSURE_WARN_BYTES = 16 * 1024 * 1024


def _bloom_broadcast(sc, bitmap_bytes: bytes):
    import hashlib

    with _BLOOM_BC_LOCK:
        mkey = id(bitmap_bytes)
        memo = _BLOOM_DIGEST_MEMO.get(mkey)
        if memo is not None and memo[0] is bitmap_bytes:
            digest = memo[1]
            # LRU refresh: a hit moves to the back of eviction order
            _BLOOM_DIGEST_MEMO.pop(mkey)
            _BLOOM_DIGEST_MEMO[mkey] = memo
        else:
            digest = hashlib.sha1(bitmap_bytes).digest()
            if len(bitmap_bytes) <= _BLOOM_MEMO_MAX_BYTES:
                budget = _BLOOM_MEMO_MAX_BYTES - len(bitmap_bytes)
                held = sum(
                    len(v[0]) for v in _BLOOM_DIGEST_MEMO.values()
                )
                while _BLOOM_DIGEST_MEMO and held > budget:
                    old = _BLOOM_DIGEST_MEMO.pop(
                        next(iter(_BLOOM_DIGEST_MEMO))
                    )
                    held -= len(old[0])
                _BLOOM_DIGEST_MEMO[mkey] = (bitmap_bytes, digest)
            # else: a single entry above the whole budget is never
            # memoized — inserting it would evict everything AND pin
            # the oversized bytes until release (ADVICE r14); such a
            # bitmap pays one sha1 per probe and still reuses its
            # cached broadcast by content digest.
        app = sc.applicationId
        # drop handles from dead contexts so a restart can't hold them
        for stale in [k for k in _BLOOM_BC_CACHE if k[0] != app]:
            _BLOOM_BC_CACHE.pop(stale, None)
        key = (app, digest)
        bc = _BLOOM_BC_CACHE.get(key)
        if bc is None:
            bc = sc.broadcast(bitmap_bytes)
            _BLOOM_BC_CACHE[key] = bc
        return bc


def _closure_capture_fetch(bitmap_bytes: bytes):
    """Bitmap access for sessions with NO sparkContext (Spark
    Connect — the `_compat` best-effort convention): closure capture,
    correct but re-shipped inside EVERY task command — the exact
    per-task cost the broadcast path exists to avoid. Degrading is
    right (the probe still works); degrading SILENTLY at the
    multi-hundred-MB scale this tier targets is not (ADVICE r14), so
    bitmaps above `_BLOOM_CLOSURE_WARN_BYTES` warn, pointing at
    classic mode or a pre-distributed file artifact."""
    if len(bitmap_bytes) > _BLOOM_CLOSURE_WARN_BYTES:
        warnings.warn(
            "bloom_contaminated_spans: no sparkContext (Spark "
            "Connect?) — falling back to closure capture of a "
            f"{len(bitmap_bytes) / 1e6:.0f} MB bitmap, re-shipped "
            "with every task. Use classic mode, or distribute the "
            "filter as a file artifact, for bitmaps this large.",
            RuntimeWarning,
            stacklevel=3,
        )

    def fetch_bitmap() -> bytes:
        return bitmap_bytes

    return fetch_bitmap


def release_bloom_broadcast(bitmap_bytes: bytes) -> bool:
    """Release ONE cached probe-bitmap broadcast — the targeted
    sibling of `release_bloom_broadcasts` (VERDICT r14 task 5: the
    all-or-nothing seam forces a session retiring a single eval
    release to drop every survivor and re-broadcast them). Pass the
    bitmap bytes from the retired filter's bloom tuple; the handle is
    found by content digest (memo hit when the same bytes object was
    probed, one sha1 otherwise) and unpersisted AND destroyed, across
    every cached application id. Returns True when at least one
    handle released. Same contracts as the bulk seam: call only
    between probe rounds, and a handle whose release FAILS stays
    cached for retry rather than leaking its blocks while reporting
    success."""
    import hashlib

    with _BLOOM_BC_LOCK:
        mkey = id(bitmap_bytes)
        memo = _BLOOM_DIGEST_MEMO.get(mkey)
        if memo is not None and memo[0] is bitmap_bytes:
            digest = memo[1]
            _BLOOM_DIGEST_MEMO.pop(mkey, None)
        else:
            digest = hashlib.sha1(bitmap_bytes).digest()
        released = False
        for key in [k for k in _BLOOM_BC_CACHE if k[1] == digest]:
            bc = _BLOOM_BC_CACHE[key]
            try:
                bc.unpersist()
                bc.destroy()
                _BLOOM_BC_CACHE.pop(key, None)
                released = True
            except Exception:
                pass  # retryable; kept in the cache like the bulk seam
        return released


def release_bloom_broadcasts() -> int:
    """Release every cached probe-bitmap broadcast — the housekeeping
    seam for long-lived sessions that retire eval releases (the
    module docstring's cache-lifecycle convention, applied to the
    bloom tier): each handle is unpersisted AND destroyed, so the
    driver block-manager pin and every executor copy drop now rather
    than at context death. Call only between probe rounds — a
    DataFrame still holding one of these handles must not be
    evaluated afterwards (rebuild it; the next probe re-broadcasts).
    Returns the number of handles actually released. A handle whose
    unpersist/destroy FAILS stays in the cache so a later release can
    retry — dropping it would leak its blocks permanently while
    reporting success (review r14). If the failure was the context
    stopping, the blocks died with the JVM and the kept handles are
    inert dict entries; the next `_bloom_broadcast` call evicts them
    by application id anyway."""
    with _BLOOM_BC_LOCK:
        released = 0
        kept: dict = {}
        for key, bc in _BLOOM_BC_CACHE.items():
            try:
                bc.unpersist()
                bc.destroy()
                released += 1
            except Exception:
                kept[key] = bc  # retryable; inert if context stopped
        _BLOOM_BC_CACHE.clear()
        _BLOOM_BC_CACHE.update(kept)
        _BLOOM_DIGEST_MEMO.clear()
        return released


def bloom_contaminated_spans(
    bloom: tuple[bytes, int, int, int, int],
    batch: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """`contaminated_spans` with the reference's window set held as a
    Bloom filter (`build_window_bloom`) instead of exact digests —
    the flag decision becomes a SCAN-LOCAL membership test: window
    bit positions compute JVM-side (the same xxhash64 family the
    build used), one Arrow-batched numpy kernel tests them against
    the broadcast bitmap, and only flagged (id, pos) rows continue
    to the islands merge. NO join anywhere in the flag path — the
    exact form's reference semi-join (and its broadcast of 16-byte
    digests) is replaced by ~1.2 BYTES (≈9.6 bits) per reference
    window at the 1% FPR sizing.

    CONSERVATIVE by construction: flags ⊇ the exact form's flags
    (zero false negatives — same hash family both sides); the
    over-flag rate is the filter's FPR, which cuts marginally more
    training text — the safe direction for decontamination
    (evidence: superset + planted semantics + measured FPR bound,
    tests/test_extensions.py).

    ``k`` must equal the width the filter was built at (recorded as
    the tuple's last element): different-width windows hash to
    unrelated bit positions, so a mismatch turns every test into a
    random probe — ~fpp of CLEAN training windows get cut while
    every TRUE eval leak passes unflagged, the exact silent failure
    `contaminated_spans` and `exact_substring_spans_incremental`
    refuse via ``built_k``. Loud ValueError instead (ADVICE r13).

    The bitmap ships to executors as a Spark BROADCAST (fetched once
    per node, not pickled into every task's UDF command) — at the
    multi-hundred-MB sizes this tier exists for, closure capture
    would re-ship it per task (ADVICE r13). Broadcasts are cached per
    (application, bitmap digest): repeated probes against the SAME
    filter — the per-micro-batch / per-round shape — reuse ONE
    broadcast instead of pinning a fresh copy in the driver's block
    manager per call; distinct filters are bounded by the number of
    eval releases in the session and release with the context."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    bitmap_bytes, m, j, n, built_k = bloom
    if k != built_k:
        raise ValueError(
            f"window bloom filter was built with k={built_k}, probe "
            f"requested k={k} — bit positions would be random noise "
            "(clean text cut at ~fpp, true leaks passed unflagged); "
            "rebuild the filter or probe at its k"
        )
    if n == 0:
        # empty reference: nothing can be contaminated
        return _merge_flagged_spans(
            _window_hash_stream(batch, k, text_col, id_col).filter(
                F.lit(False)
            ),
            k,
            id_col,
        )
    # Spark Connect has no sparkContext (the _compat best-effort
    # convention): degrade to closure capture there — the pre-ADVICE
    # behavior, correct but re-shipped per task — instead of failing
    # the probe outright.
    try:
        sc = batch.sparkSession.sparkContext
    except Exception:
        sc = None
    if sc is not None:
        bc_bitmap = _bloom_broadcast(sc, bitmap_bytes)

        def fetch_bitmap() -> bytes:
            return bc_bitmap.value

    else:
        fetch_bitmap = _closure_capture_fetch(bitmap_bytes)

    @pandas_udf(BooleanType())
    def might_contain(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        bitmap = np.frombuffer(fetch_bitmap(), dtype=np.uint8)
        p = np.stack(pos.to_numpy())  # (rows, j)
        hit = (bitmap[p >> 3] & (1 << (p & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    gb = _window_hash_stream(batch, k, text_col, id_col)
    bit_positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col("__h"), F.lit(i)), F.lit(m))
            for i in range(j)
        ]
    )
    hits = gb.filter(might_contain(bit_positions))
    return _merge_flagged_spans(hits, k, id_col)


#: The window index's meta schema (`write_window_index`,
#: `publish_window_index`).
_WINDOW_INDEX_META = "k int"


def write_window_index(corpus: DataFrame, path: str, k: int = 8) -> None:
    """Materialize `corpus_window_hashes` to ``path/{window_hashes,
    meta}`` — the once-per-corpus-release step of the substring-dedup
    lifecycle (the window-grain sibling of `write_corpus_signatures`
    and `similarity.write_ivf_index`). After this, every arriving
    batch pays only its own windows plus one hash-grain join against
    the artifact; corpus text never re-hashes
    (`exact_substring_spans_incremental(corpus_index=...)`).

    ``k`` is part of the index's identity — probing with a different
    window width would silently match nothing (different window
    content ⇒ different digests) and flag no spans, so it is recorded
    in a one-row meta table and `read_window_index` refuses a
    mismatch loudly. The artifact is (16 B digest + 8 B count) per
    DISTINCT window — a fraction of corpus bytes — and
    append-mergeable: counts sum by hash when the corpus grows by
    appends of new doc ids. Written as an in-place rebuild under the
    `artifacts` release protocol."""
    idx = corpus_window_hashes(corpus, k=k)
    artifacts.write_release(
        corpus.sparkSession,
        path,
        {"window_hashes": idx},
        _WINDOW_INDEX_META,
        (k,),
        "overwrite",
    )


def publish_window_index(
    index: DataFrame, path: str, built_k: int
) -> None:
    """Publish an index DATAFRAME — typically `merge_window_index`'s
    result — as a new window-index RELEASE at ``path``, with the same
    ``{window_hashes, meta}`` layout `write_window_index` produces
    and `read_window_index` validates. This is the write half of the
    multi-release lifecycle: eval release N+1 arrives, the previous
    release's artifact merges at increment cost, and the merged index
    publishes as the NEXT frozen release the streaming gates
    (`substring_gate_sink` / `decontamination_gate_sink`) read at
    setup.

    ``path`` must be a NEW release directory: this is the
    write-once publish of the `artifacts` release protocol.

    ``built_k`` is stamped into the release meta, and a WRONG value
    is unverifiable from the digests later — so when ``index`` came
    DIRECTLY from `merge_window_index` (which tags its result with
    the width it validated), a contradicting ``built_k`` refuses
    loudly here instead of publishing a release whose every later
    probe silently flags nothing. The tag is best-effort provenance;
    the required ``built_k`` parameter itself is the contract —
    thread it from `read_window_index`'s pair."""
    artifacts.write_release(
        index.sparkSession,
        path,
        {"window_hashes": index},
        _WINDOW_INDEX_META,
        (built_k,),
        "error",
    )


def merge_window_index(
    index: DataFrame,
    new_docs: DataFrame,
    built_k: int,
    k: int = 8,
) -> DataFrame:
    """Fold NEW documents into an existing `corpus_window_hashes`
    index WITHOUT re-hashing the indexed corpus — the incremental
    release step the index's append-mergeable design exists for:
    per-hash distinct-doc counts SUM when doc id spaces are disjoint
    (the `incremental_dedup` contract — an id on both sides would
    double-count its windows). ``merge_window_index(index, batch,
    built_k) ≡ corpus_window_hashes(corpus ∪ batch)`` is pinned in
    tests/test_extensions.py.

    ``built_k`` is the window width the index was BUILT at and is
    REQUIRED — pass the second element of the `read_window_index`
    pair (an inline builder passes the k it just built with). It is
    mandatory, not opt-in, because the caller merging at the wrong k
    is precisely the caller who doesn't know the artifact's k: a
    mixed-width index under-flags on later probes with no error, so
    the mismatch is the same loud ValueError `read_window_index`
    raises, applied unconditionally at the write seam too (review
    r12 — the r11-ADVICE opt-in form left the hazard open).

    Scale shape: the new docs pay one window-hash pass + a hash-grain
    map-side-combined sum against the index — increment-sized work;
    the indexed corpus contributes only its (16 B, 8 B) rows."""
    if built_k != k:
        raise ValueError(
            f"window index was built with k={built_k}, merge "
            f"requested k={k} — a mixed-width index under-flags "
            "silently; rebuild the index or merge at its k"
        )
    new_counts = corpus_window_hashes(new_docs, k=k)
    merged = (
        index.unionByName(new_counts)
        .groupBy("__h")
        .agg(F.sum("__nd").alias("__nd"))
    )
    # provenance tag: the validated width travels WITH the result so
    # publish_window_index can refuse a contradicting built_k (review
    # r14 — the habitual default-8 typo at publish time would stamp a
    # wrong k into the release meta, and a wrong recorded k makes
    # every later gate probe silently flag nothing)
    return artifacts.tag_release(merged, "width", (k,))


def read_window_index(
    spark: SparkSession, path: str, k: int | None = None
) -> tuple[DataFrame, int]:
    """Load a materialized `write_window_index` artifact as the
    ``(corpus_index, k)`` pair
    `exact_substring_spans_incremental(corpus_index=...)` takes.
    Passing ``k`` asserts the caller's window width against the
    recorded one — a silent mismatch would flag nothing, so it is a
    loud ValueError instead. A partially-written or corrupt artifact
    is ALSO a loud refusal (`artifacts.read_required_meta`)."""
    (built_k,) = artifacts.read_required_meta(
        spark, path, ("k",), "window index", "write_window_index"
    )
    if k is not None and k != built_k:
        raise ValueError(
            f"window index at {path} was built with k={built_k}, "
            f"probe requested k={k} — digests would never match; "
            "rebuild the index or probe at its k"
        )
    return spark.read.parquet(f"{path}/window_hashes"), built_k


def exact_substring_spans_incremental(
    corpus: DataFrame | None,
    batch: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_index: DataFrame | None = None,
    built_k: int | None = None,
) -> DataFrame:
    """`exact_substring_spans` for an ARRIVING BATCH against an
    existing corpus — the incremental rung of the substring-dedup
    ladder (x38/x39's batch-vs-corpus move lifted from document grain
    to arbitrary-alignment spans): a batch window is flagged when the
    DISTINCT documents holding its content across corpus ∪ batch
    reach ``min_docs``, and flagged windows merge into maximal spans
    exactly as in the batch form. By construction (disjoint id
    spaces, the caller's contract — same as `incremental_dedup`) the
    result EQUALS ``exact_substring_spans(corpus ∪ batch)`` restricted
    to batch documents, without ever re-hashing the corpus: pass
    ``corpus_index`` (a persisted `corpus_window_hashes` table) and
    the corpus is never touched at all — the production shape, where
    the index lives in the lake and each batch pays only its own
    windows (catalog x74 is the oracle form that derives the index
    inline). ``built_k`` is then REQUIRED and must equal ``k``
    (review r13, the merge_window_index/contaminated_spans rule:
    digests of different window widths never match, so a width
    mismatch silently flags NOTHING and corpus-duplicated runs pass
    the gate uncut — the caller probing at the wrong k is precisely
    the caller who doesn't know the artifact's k;
    `read_window_index` returns it).

    Scale shape: batch windows hash inside the batch scan; the flag
    decision is one hash-grain join of the batch's per-hash doc
    counts (map-side combined, batch-sized) against the index,
    followed by the flagged-hash semi-join back onto the batch
    window stream (flag set shrinks ⇒ AQE broadcasts it) and the
    per-doc islands window — the corpus contributes bytes only
    through its (hash, count) index, never its text."""
    if corpus_index is None:
        if corpus is None:
            raise ValueError("need corpus or corpus_index")
        corpus_index = corpus_window_hashes(
            corpus, k=k, text_col=text_col, id_col=id_col
        )
    else:
        if built_k is None:
            raise ValueError(
                "exact_substring_spans_incremental(corpus_index=…) "
                "requires built_k — the k the index artifact was "
                "built with (read_window_index returns it); a "
                "mismatched width silently flags nothing and "
                "corpus-duplicated runs pass the gate uncut"
            )
        if built_k != k:
            raise ValueError(
                f"corpus index was built with k={built_k} but the "
                f"probe requested k={k} — window digests of "
                "different widths never match; rebuild the index or "
                "probe at its width"
            )
    gb = _window_hash_stream(batch, k, text_col, id_col)
    batch_counts = (
        gb.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__bnd"))
    )
    flagged = (
        batch_counts.join(corpus_index, "__h", "left")
        .filter(
            F.coalesce(F.col("__nd"), F.lit(0)) + F.col("__bnd")
            >= min_docs
        )
        .select("__h")
    )
    hits = gb.join(flagged, "__h", "left_semi")
    return _merge_flagged_spans(hits, k, id_col)


def contaminated_spans(
    reference: DataFrame | None,
    batch: DataFrame,
    k: int = 8,
    min_ref_docs: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    reference_index: DataFrame | None = None,
    built_k: int | None = None,
) -> DataFrame:
    """Cross-corpus CONTAMINATION spans — the decontamination face of
    the substring ladder (Lee et al. 2021 §6.2's train-test overlap,
    the scrub GPT-3's 13-gram dedup approximated): flag every batch
    (training) window whose k-token content appears in ``reference``
    (the held-out/eval corpus, in ≥ ``min_ref_docs`` distinct
    reference docs), merged into maximal per-doc spans. The flag
    condition differs from `exact_substring_spans_incremental` on
    purpose: batch-side duplication plays NO role — a run repeated in
    a thousand training docs but absent from the reference is not
    contamination, and a run appearing ONCE in training and once in
    the eval set absolutely is (min_docs-style counting would need
    the combined count and flag intra-batch dups as a side effect).
    Compose with `cut_spans` to excise the overlap while keeping the
    rest of the document (catalog x84) — the surgical alternative to
    x26/x52's drop-the-whole-doc n-gram/paragraph audits.

    Scale shape: identical to the incremental rung — batch windows
    hash inside the batch scan; the reference contributes bytes only
    through its (hash, distinct-doc-count) index (pass
    ``reference_index`` to reuse a persisted `corpus_window_hashes`
    table — the eval set is frozen per release, so the index is
    write-once; ``built_k`` is then REQUIRED and must equal ``k``:
    8-token digests never match 13-token digests, so a width
    mismatch silently flags ZERO spans and eval contamination passes
    into training data unflagged — the merge_window_index rationale,
    and here the silent failure is leakage, review r13); the flag
    set is reference-sized and shrinks through its count filter, so
    AQE broadcasts the semi-join; then the per-doc islands window.
    Reference text is never re-read per batch; batch text never
    enters an exchange."""
    if reference_index is None:
        if reference is None:
            raise ValueError("need reference or reference_index")
        reference_index = corpus_window_hashes(
            reference, k=k, text_col=text_col, id_col=id_col
        )
    else:
        if built_k is None:
            raise ValueError(
                "contaminated_spans(reference_index=…) requires "
                "built_k — the k the index artifact was built with "
                "(read_window_index returns it); a mismatched width "
                "silently flags nothing, which here means eval "
                "contamination passes unflagged"
            )
        if built_k != k:
            raise ValueError(
                f"reference index was built with k={built_k} but the "
                f"probe requested k={k} — window digests of "
                "different widths never match; rebuild the index or "
                "probe at its width"
            )
    flagged = reference_index.filter(
        F.col("__nd") >= min_ref_docs
    ).select("__h")
    gb = _window_hash_stream(batch, k, text_col, id_col)
    hits = gb.join(flagged, "__h", "left_semi")
    return _merge_flagged_spans(hits, k, id_col)


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REASSEMBLE documents with flagged token spans CUT — the action
    half of `exact_substring_spans` (Lee et al. 2021's actual dedup
    step: drop the duplicated substring, keep the rest of the
    document), x49's block-reassembly move lifted to ARBITRARY
    alignment. ``spans`` is any ``(id, span_start, span_end)`` table
    (1-based inclusive token positions); which spans to cut is the
    flagger's policy decision — composing with
    `exact_substring_spans` directly (catalog x72) cuts EVERY copy
    (the C4/x60 every-copy stance; a keep-one variant composes by
    exempting one doc per duplicate cluster before the cut). Returns
    ``(id, clean_text)`` for EVERY input document — unflagged docs
    pass through with whitespace-normalized text (tokens re-joined
    single-spaced, the same normalization both engines' tokenizers
    apply), fully-covered docs become the empty string.

    Deterministic → full DuckDB hash oracle (catalog x72).

    Scale shape: spans aggregate to per-doc lists (id-grain, bounded
    by tokens/k per doc), one id-grain join attaches them to the
    corpus (AQE broadcasts when the flagged set is small), and the
    cut itself is scan-local array logic — token-kept tests run
    per-position against the doc's own span list (O(tokens × spans)
    inside the row, no exchange). Text crosses exactly one exchange
    in the worst case, never a pair stream."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans")
    )
    base = docs.select(F.col(id_col), toks.alias("__t"))
    joined = base.join(span_lists, id_col, "left")

    def _keep(tok, i0):
        pos = i0 + 1  # filter() index is 0-based; spans are 1-based
        return F.coalesce(
            ~F.exists(
                "__spans", lambda sp: (pos >= sp["s"]) & (pos <= sp["e"])
            ),
            F.lit(True),  # no spans for this doc → keep every token
        )

    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", F.filter("__t", _keep)).alias("clean_text"),
    )


def curation_lineage(
    docs: DataFrame,
    min_chars: int = 200,
    allowed_langs: tuple[str, ...] = ("en", "de", "fr"),
) -> DataFrame:
    """Per-document drop-reason audit for a gate → exact-dedup
    curation pipeline — the lineage table a pipeline operator needs
    when a stakeholder asks "why did doc X disappear?". For every
    input document: ``verdict`` is the FIRST rule that drops it
    (``too_short`` → ``lang_blocked`` → ``exact_dup`` → ``kept``,
    matching the sequential-gate semantics of the composed x46/x75
    pipelines) and ``kept_by`` names the surviving copy for
    ``exact_dup`` rows (NULL otherwise).

    Sequential-gate subtlety: dedup keepers are chosen among GATE
    SURVIVORS only — a document whose identical twin was dropped as
    too-short is NOT a duplicate (that content no longer exists
    upstream of the dedup stage), exactly as running the gates then
    `exact_dedup` would behave.

    Scale shape: content digests are computed scan-side, so text
    never enters an exchange — the keeper aggregate and the
    digest-grain join back move (16 B digest, 8 B id, lang,
    n_chars) rows only (the x6/x60 payload discipline)."""
    eligible = (F.col("n_chars") >= min_chars) & F.col("lang").isin(
        list(allowed_langs)
    )
    meta = docs.select(
        F.col("doc_id"),
        "n_chars",
        "lang",
        F.sha2(F.col("text").cast("binary"), 256).alias("__h"),
        eligible.alias("__ok"),
    )
    keepers = (
        meta.filter(F.col("__ok"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("__kept_by"))
    )
    return meta.join(keepers, "__h", "left").select(
        F.col("doc_id"),
        F.when(F.col("n_chars") < min_chars, F.lit("too_short"))
        .when(
            ~F.col("lang").isin(list(allowed_langs)),
            F.lit("lang_blocked"),
        )
        .when(F.col("doc_id") != F.col("__kept_by"), F.lit("exact_dup"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
        F.when(
            F.col("__ok") & (F.col("doc_id") != F.col("__kept_by")),
            F.col("__kept_by"),
        ).alias("kept_by"),
    )
