"""Similarity search over embedding columns (SURVEY §2.O).

Exact brute-force cosine top-k is the baseline (and the oracle); the
scale path is LSH bucketing (random hyperplanes / MLlib BRP-LSH), which
turns the all-pairs scan into a bucket-local join.

Per-pair vector math (dot/cosine/norm) stays in built-in higher-order
functions (zip_with + aggregate fold) — JVM-side, deterministic fold
order, DuckDB-oracle-comparable. The one exception is LSH bucket
assignment, a dense matrix product evaluated as an Arrow-batched
pandas_udf (see `hyperplane_lsh_buckets`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType

from stock_market_etl_spark.operators import artifacts
from stock_market_etl_spark.operators.parallelism import spread


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic accumulation order,
    bit-compatible with DuckDB's list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _normed_vectors(df: DataFrame, id_col: str, vec_col: str, *extra):
    """(id, [extra…], __v double[], __n norm) — vectors cast + normed
    ONCE per row on the narrow side of any pair join (O(n) folds, not
    O(n²) in the join projection). The ONE construction shared by the
    exact pair operators so the cosine/rounding convention can't fork
    (review r12 — it existed in three near-copies)."""
    return (
        spread(df.select(F.col(id_col), *extra, F.col(vec_col)))
        .select(
            F.col(id_col), *extra, _as_double(F.col(vec_col)).alias("__v")
        )
        .withColumn("__n", l2_norm(F.col("__v")))
    )


def _pair_side(v: DataFrame, id_col: str, suffix: str) -> DataFrame:
    """One side of a pair join over a `_normed_vectors` table."""
    return v.select(
        F.col(id_col).alias(f"id_{suffix}"),
        F.col("__v").alias(f"__v{suffix}"),
        F.col("__n").alias(f"__n{suffix}"),
    )


def _pair_cos(suffix_a: str = "a", suffix_b: str = "b") -> Column:
    """The 6-decimal-rounded pairwise cosine over two `_pair_side`
    frames — the cross-engine contract, defined once."""
    return F.round(
        dot(F.col(f"__v{suffix_a}"), F.col(f"__v{suffix_b}"))
        / (F.col(f"__n{suffix_a}") * F.col(f"__n{suffix_b}")),
        6,
    )


def _sided_pair_table(
    df: DataFrame,
    left_side: Column,
    id_col: str,
    vec_col: str,
    left_suffix: str,
    right_suffix: str,
) -> DataFrame:
    """The EXACT two-sided pair table — norm once, split by the
    boolean side, crossJoin, fold cosine rounded to 6 decimals:
    ``(id_<l>, id_<r>, cos)``. THE head shared by the exact sided
    operators (x82 bitext, x85 contamination) so the sided-pair and
    cosine conventions can't fork across near-copies (review r13 —
    the exact-tier counterpart of `_lsh_candidate_cos`)."""
    # materialize the side ONCE — the expression may reference
    # columns the narrowed projection no longer carries, and
    # _normed_vectors re-evaluates its extra columns post-projection
    df = df.select(
        F.col(id_col), left_side.alias("__l"), F.col(vec_col)
    )
    v = _normed_vectors(df, id_col, vec_col, F.col("__l"))
    return (
        _pair_side(v.filter(F.col("__l")), id_col, left_suffix)
        .crossJoin(
            _pair_side(v.filter(~F.col("__l")), id_col, right_suffix)
        )
        .select(
            f"id_{left_suffix}",
            f"id_{right_suffix}",
            _pair_cos(left_suffix, right_suffix).alias("cos"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(df: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity against one stored vector.

    The 1-row query side is broadcast, so the candidate scan is a single
    pass with no shuffle; top-k compiles to TakeOrderedAndProject. At
    100 TB this is the per-query cost floor; see `ann_lsh` for the
    bucketed approximate path.
    """
    q = (
        df.filter(F.col("vec_id") == query_id)
        .select(_as_double(F.col("embedding")).alias("q_vec"))
        # query-side norm computed ONCE in the 1-row broadcast side, not
        # per candidate row (it lands behind the join boundary)
        .withColumn("q_norm", l2_norm(F.col("q_vec")))
    )
    cand = spread(df.filter(F.col("vec_id") != query_id))
    v = _as_double(F.col("embedding"))
    sim = dot(v, F.col("q_vec")) / (l2_norm(v) * F.col("q_norm"))
    return (
        cand.crossJoin(F.broadcast(q))
        .select(F.col("vec_id"), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection LSH with OR-amplification: ``n_tables``
    independent hash tables, each bucketing on the sign bits of
    ``n_planes`` fixed pseudo-random hyperplanes (deterministic seed,
    generated driver-side — tiny, shipped as literals).

    Similar vectors collide in a given table with probability
    (1 - θ/π)^n_planes; across ``n_tables`` independent tables the miss
    probability decays exponentially — the standard recall/candidate-set
    trade-off for ANN at scale. Output is exploded to one row per
    (vector, table, bucket); the downstream join is bucket-local.

    Bucket assignment is a (rows × dim) @ (dim × n_tables·n_planes)
    matrix product — the one vector op built-in expressions cannot
    express efficiently (n_tables·n_planes separate interpreted
    aggregate-folds per row, and a plan tree that large is itself
    seconds of Catalyst analysis). It runs as an Arrow-batched
    pandas_udf: one numpy matmul per batch, planes shipped once in the
    UDF closure. Sims/norms elsewhere stay in built-in folds (they are
    per-pair, DuckDB-oracle-checked, and small trees).
    """
    import random

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    rng = random.Random(seed)
    # same generation order as the per-plane form: table-major, then
    # plane, then component — seed compatibility with prior buckets
    planes = np.array(
        [
            [rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_tables * n_planes)
        ]
    )  # (n_tables*n_planes, dim)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def bucket_ids(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vs.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (m @ planes.T) >= 0.0  # (n, n_tables*n_planes)
        buckets = (
            bits.reshape(len(m), n_tables, n_planes).astype(np.int64)
            @ weights
        )  # (n, n_tables)
        return pd.Series(list(buckets))

    # posexplode_OUTER: identical rows (the array always has n_tables
    # entries) but no inferred size()>0 filter — Catalyst pushes that
    # filter below the repartition and re-runs the UDF once per row
    # (visible as a second ArrowEvalPython under the Exchange)
    return (
        spread(df)
        .withColumn("__buckets", bucket_ids(F.col(vec_col)))
        .select(
            "*",
            F.posexplode_outer("__buckets").alias("lsh_table", "lsh_bucket"),
        )
        .drop("__buckets")
    )


def ann_lsh(
    df: DataFrame,
    query_id: int,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate nearest neighbours: candidates = vectors sharing any
    LSH table bucket with the query (union over tables), then exact
    cosine re-rank of the candidate set only. Recall vs `cosine_topk`
    is tested at small scale (tests/test_extensions.py)."""
    # both the query probe and the candidate side read the bucketed
    # table — persist so the scan + bucket UDF run once, not twice
    bucketed = hyperplane_lsh_buckets(df, dim, n_planes).persist()
    q = bucketed.filter(F.col("vec_id") == query_id).select(
        _as_double(F.col("embedding")).alias("q_vec"),
        l2_norm(_as_double(F.col("embedding"))).alias("q_norm"),
        F.col("lsh_table").alias("q_table"),
        F.col("lsh_bucket").alias("q_bucket"),
    )
    cand = bucketed.filter(F.col("vec_id") != query_id)
    # bucket-local join, then collapse to distinct candidate ids before
    # the (expensive) exact re-rank; q_norm rides the broadcast so only
    # the candidate-side norm is computed per re-ranked row
    matches = (
        cand.join(
            F.broadcast(q),
            (cand.lsh_table == F.col("q_table"))
            & (cand.lsh_bucket == F.col("q_bucket")),
            "inner",
        )
        .select(
            F.col("vec_id"), F.col("embedding"), F.col("q_vec"), F.col("q_norm")
        )
        .distinct()
    )
    v = _as_double(F.col("embedding"))
    sim = dot(v, F.col("q_vec")) / (l2_norm(v) * F.col("q_norm"))
    return (
        matches.select(F.col("vec_id"), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


@F.pandas_udf(DoubleType())  # DataType instance: no session needed at import
def _unit_pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Row-wise dot product of two unit-vector columns — cosine
    similarity when both sides are pre-normalized. One numpy einsum per
    Arrow batch; O(pairs·dim) FLOPs with no interpreter in the loop."""
    if len(va) == 0:
        return pd.Series([], dtype=np.float64)
    a = np.stack(va.to_numpy()).astype(np.float64)
    b = np.stack(vb.to_numpy()).astype(np.float64)
    return pd.Series(np.einsum("ij,ij->i", a, b))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, exact form: every
    unordered pair (id_a < id_b) whose cosine similarity rounds to
    ≥ ``threshold``. The embedding-space analogue of the text-side
    `dedup.jaccard_pairs`.

    The `<` condition makes this a theta self-join (nested-loop) —
    O(n²/2) comparisons, the ground truth for recall checks. At 100 TB
    use `embedding_near_dup_lsh`: same output contract, but candidates
    are blocked into LSH buckets so the join is an equality shuffle on
    (table, bucket) and only bucket-local pairs are compared.
    """
    v = _normed_vectors(df, "vec_id", "embedding").persist()
    # ^ both self-join sides read it — cast + norm-fold once per vector
    a = _pair_side(v, "vec_id", "a")
    b = _pair_side(v, "vec_id", "b")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _pair_cos().alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def _lsh_candidate_cos(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
    left_side: Column | None = None,
    left_name: str = "id_a",
    right_name: str = "id_b",
) -> DataFrame:
    """``(left_name, right_name, cos)`` candidate pairs from
    OR-amplified hyperplane-LSH buckets with the exact 6-decimal
    cosine computed on candidates only (unit-vector Arrow kernel) —
    THE candidate block shared by every LSH pair tier (x17
    self-pairs, x83 bitext A×B, x86 train×eval), extracted so the
    bucketing/dedup/re-attach/rounding convention can't fork across
    near-copies (review r13; the _normed_vectors precedent).

    ``left_side`` None → unordered self-pairs (left id < right id
    over one stream). Otherwise a boolean Column over ``df``: True
    rows form the LEFT side, False rows the RIGHT — and the
    unit-vector re-attach is SIDE-SCOPED (each side joins only its
    own rows), so an id shared between the two sides can never
    attach the other side's vector (review r13: the bare-id
    re-attach silently scored cross-side vectors when the sides had
    independent id sequences, a failure mode the exact twins, which
    keep the sides separated by the boolean column, never had).

    Scale shape: candidate generation moves ONLY (id[, side], table,
    bucket) rows through the bucket join and the pair dedup; vectors
    are unit-normalized once per row (O(n) folds) and re-attached by
    id afterwards — shipping embedding arrays through the O(pairs)
    shuffle is the thing that does not survive a 100× scale-up. The
    bucketed table and the unit table each persist once (both feed
    two consumers). The per-pair dot runs as ONE Arrow-batched numpy
    kernel over the candidate batch — the interpreted
    zip_with/aggregate fold it replaced ran ~130 scalar ops per pair
    through the HOF interpreter and dominated the whole query
    (measured ~2 s of ~2.4 s at sf0.1)."""
    two_sided = left_side is not None
    if two_sided:
        # materialize the side ONCE — the original expression may
        # reference columns the narrowed projection no longer carries
        df = df.select(
            F.col(id_col), left_side.alias("__side"), F.col(vec_col)
        )
    side_cols = [F.col("__side")] if two_sided else []
    bucketed = hyperplane_lsh_buckets(
        df.select(F.col(id_col), *side_cols, F.col(vec_col)),
        dim,
        n_planes,
        n_tables,
        seed,
        vec_col,
    ).persist()
    ls = bucketed.filter(F.col("__side")) if two_sided else bucketed
    rs = bucketed.filter(~F.col("__side")) if two_sided else bucketed
    a = ls.select(
        F.col(id_col).alias(left_name), "lsh_table", "lsh_bucket"
    )
    b = rs.select(
        F.col(id_col).alias(right_name), "lsh_table", "lsh_bucket"
    )
    pairs = _bucket_join_pairs(
        a, b, left_name, right_name, ordered=not two_sided
    )
    unit = F.transform(F.col("__v"), lambda x: x / F.col("__n"))
    v = (
        _normed_vectors(df, id_col, vec_col, *side_cols)
        .select(
            F.col(id_col).alias("__id"),
            *([F.col("__side")] if two_sided else []),
            unit.alias("__u"),
        )
        .persist()
    )
    va = (v.filter(F.col("__side")) if two_sided else v).select(
        F.col("__id").alias(left_name), F.col("__u").alias("__ul")
    )
    vb = (v.filter(~F.col("__side")) if two_sided else v).select(
        F.col("__id").alias(right_name), F.col("__u").alias("__ur")
    )
    return _attach_unit_cos(pairs, va, vb, left_name, right_name)


def _bucket_join_pairs(
    a: DataFrame,
    b: DataFrame,
    left_name: str,
    right_name: str,
    ordered: bool = False,
) -> DataFrame:
    """Deduped candidate id pairs from two ``(id, lsh_table,
    lsh_bucket)`` frames — equality join on (table, bucket), one row
    per pair no matter how many tables collide. ``ordered`` adds the
    id< id constraint for unordered self-pairs. Extracted from
    `_lsh_candidate_cos` (review r15) so the artifact-probing ANN
    tier shares the join/dedup convention code-for-code."""
    b2 = b.select(
        F.col(right_name),
        F.col("lsh_table").alias("__tb"),
        F.col("lsh_bucket").alias("__bb"),
    )
    cond = (F.col("lsh_table") == F.col("__tb")) & (
        F.col("lsh_bucket") == F.col("__bb")
    )
    if ordered:
        cond = cond & (F.col(left_name) < F.col(right_name))
    return (
        a.join(b2, cond)
        .select(left_name, right_name)
        .dropDuplicates([left_name, right_name])
    )


def _attach_unit_cos(
    pairs: DataFrame,
    va: DataFrame,
    vb: DataFrame,
    left_name: str,
    right_name: str,
) -> DataFrame:
    """Re-attach per-side unit vectors by id onto a candidate pair
    table and fold the 6-decimal Arrow-batched cosine — the tail
    every LSH pair tier ends with (extracted with
    `_bucket_join_pairs`, review r15). ``va``/``vb`` carry
    (left_name, __ul) / (right_name, __ur).

    Join order is RIGHT side first, LEFT side last (r15 optimization,
    guide §2.4): the pair table leaves this tail hash-partitioned by
    ``left_name``, which is exactly the grain every downstream
    consumer keys on (the margin backgrounds and best-match of
    x82/x83 partition by id_a, the contamination verdict by id_t) —
    so the per-left-id aggregate above a PERSISTED pair table reads
    the cache without re-exchanging it. The old left-first order left
    the table partitioned by ``right_name`` and every left-keyed
    consumer paid one extra full pair-table exchange."""
    return (
        pairs.join(vb, right_name)
        .join(va, left_name)
        .select(
            left_name,
            right_name,
            F.round(
                _unit_pair_dot(F.col("__ul"), F.col("__ur")), 6
            ).alias("cos"),
        )
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
) -> DataFrame:
    """Scale path for embedding-cosine near-dedup: a pair is a candidate
    iff it shares an LSH bucket in at least one of 16 tables
    (OR-amplified sign-random-projection), then the exact cosine filter
    runs on candidates only (`_lsh_candidate_cos`, the shared block).

    The candidate join is an equality join on (lsh_table, lsh_bucket) —
    bucket-local, shuffle-partitionable, no all-pairs scan. Miss
    probability per true pair is (1 - (1 - θ/π)^4)^16;
    recall vs `embedding_near_dup_pairs` is asserted at small scale
    (tests/test_extensions.py). x16 keeps the interpreted fold: it is
    the DuckDB-comparable exact oracle; THIS is the scale path.
    """
    return (
        _lsh_candidate_cos(
            df, dim, 4, 16, 42, "vec_id", "embedding"
        )
        .select("id_a", "id_b", F.col("cos").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_index(
    df: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index: a seeded k-means coarse quantizer assigns
    every vector to one of ``n_lists`` cells. Returns
    ``(assigned, centers)`` — the input with a ``__cell`` column, and
    the tiny (n_lists)-row centroid table.

    At 100 TB this is the offline indexing pass (one scan + a broadcast
    of the centroid table); ``assigned`` is then persisted partitioned
    by cell (`io.write_partitioned(..., ("__cell",))`) so probes
    partition-prune to ~n_probe/n_lists of the lake — asserted in
    tests/test_plans.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.withColumn(
        "__vec", array_to_vector(_as_double(F.col("embedding")))
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__vec", predictionCol="__cell")
    model = km.fit(feats)
    assigned = model.transform(feats).drop("__vec")
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    centers_df = df.sparkSession.createDataFrame(
        centers, "cell int, centroid array<double>"
    )
    return assigned, centers_df


def assign_cells(df: DataFrame, centers_df: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (squared-euclidean
    argmin — the k-means assignment rule), WITHOUT re-running k-means:
    the n_lists-row centroid table broadcasts, distances compute in a
    JVM `zip_with` fold, and `min_by` on a (distance, cell) struct
    keeps the choice deterministic under exact ties. This is how new
    vectors join an EXISTING index — the incremental-maintenance half
    of the IVF lifecycle (`ivf_index` trains once per index build;
    this appends forever after).

    Plan shape: ZERO shuffle — the centroid table is index metadata
    (n_lists rows, bounded by construction, the same table
    `ivf_probe` collects to rank cells), so it is read once driver-side
    and inlined as literal arrays; assignment is then one narrow
    projection per input row (`array_min` over (distance, cell)
    structs — struct ordering gives the argmin with the cell-id
    tiebreak), entirely inside the scan stage."""
    centers = sorted(
        ((r["cell"], list(r["centroid"])) for r in centers_df.collect()),
        key=lambda t: t[0],
    )
    v = _as_double(F.col("embedding"))
    choices = []
    for cell, centroid in centers:
        lit_c = F.array(*[F.lit(float(x)) for x in centroid])
        sq_dist = F.aggregate(
            F.zip_with(v, lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
        choices.append(
            F.struct(
                sq_dist.alias("d"), F.lit(int(cell)).alias("cell")
            )
        )
    best = F.array_min(F.array(*choices))
    return df.withColumn("__cell", best["cell"])


def write_ivf_index(
    assigned: DataFrame,
    centers_df: DataFrame,
    path: str,
) -> None:
    """Materialize an `ivf_index` result to ``path/{cells,centroids}``
    — the once-per-index-build step of the ANN lifecycle (the vector
    analogue of `dedup.write_corpus_signatures`). ``cells`` is written
    partitioned by ``__cell`` so that `ivf_probe` over the read-back
    index prunes non-probed cells at the FILE LISTING — a query touches
    ~n_probe/n_lists of the lake, independent of corpus size (partition
    pruning asserted in tests/test_plans.py). ``centroids`` is the tiny
    n_lists-row table every query broadcasts.

    ``(n_lists, dim)`` is recorded in a meta sidecar under the
    `artifacts` release protocol: a rebuild dying between the cells
    and centroids writes would otherwise leave NEW assignments under
    STALE centroids — both halves complete-looking, every probe
    pruning the wrong cells silently."""
    spark = assigned.sparkSession
    # derive the identity stats BEFORE touching the artifact (review
    # r15, pass 5): a degenerate centroid table refuses here with
    # nothing overwritten, and no post-write Spark job can die
    # between the data writes and the meta restore
    stats = centers_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size("centroid")).alias("d"),
    ).first()
    if not stats["n"] or stats["d"] is None:
        raise ValueError(
            "refusing to write an IVF index with no centroids — "
            "nothing was touched; train centroids with ivf_index "
            "first"
        )
    artifacts.write_release(
        spark,
        path,
        {
            "cells": assigned.write.partitionBy("__cell"),
            "centroids": centers_df,
        },
        "n_lists int, dim int",
        (stats["n"], stats["d"]),
        "overwrite",
    )


def read_ivf_index(
    spark: "SparkSession", path: str
) -> tuple[DataFrame, DataFrame]:
    """Load a materialized `write_ivf_index` artifact as the
    ``(assigned, centers_df)`` pair `ivf_probe` takes. The partition
    column ``__cell`` comes back from the directory layout, so probe
    filters prune before any file is opened.

    A PRESENT-but-malformed meta sidecar (empty or null fields — the
    state a crashed `write_ivf_index` rebuild leaves behind) refuses
    loudly: the cells/centroids halves could be from DIFFERENT
    builds, and probing mixed releases prunes the wrong cells with
    no error anywhere. An ABSENT meta dir is tolerated — the
    streaming-maintained layout (`ivf_append_sink` bootstraps cells
    by appends against a hand-laid centroid table and has no rebuild,
    hence no crash window)."""
    artifacts.read_required_meta(
        spark,
        path,
        ("n_lists", "dim"),
        "IVF index",
        "write_ivf_index",
        required=False,
    )
    return (
        spark.read.parquet(f"{path}/cells"),
        spark.read.parquet(f"{path}/centroids"),
    )


def ivf_probe(
    assigned: DataFrame,
    centers_df: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Query side of IVF: rank centroids against the query vector,
    probe the ``n_probe`` closest cells, exact-rerank inside. The cell
    filter is a plain equality predicate on the index's partition
    column, so over a cell-partitioned index it prunes at the file
    listing — the scan never touches the other cells.
    """
    q = assigned.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_vec")
    )
    probe_cells = [
        r.cell
        for r in centers_df.crossJoin(F.broadcast(q))
        .select(
            "cell",
            cosine(F.col("centroid"), _as_double(F.col("q_vec"))).alias("sim"),
        )
        .orderBy(F.col("sim").desc())
        .limit(n_probe)
        .collect()
    ]

    cand = spread(
        assigned.filter(
            F.col("__cell").isin(probe_cells) & (F.col("vec_id") != query_id)
        )
    )
    # query norm rides the 1-row broadcast; only the candidate-side norm
    # is computed per re-ranked row
    qn = q.select(
        _as_double(F.col("q_vec")).alias("q_vec"),
        l2_norm(_as_double(F.col("q_vec"))).alias("q_norm"),
    )
    v = _as_double(F.col("embedding"))
    sim = dot(v, F.col("q_vec")) / (l2_norm(v) * F.col("q_norm"))
    return (
        cand.crossJoin(F.broadcast(qn))
        .select(F.col("vec_id"), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate nearest neighbours, index + probe in one call —
    the clustered alternative to hyperplane LSH. Recall/probe trade-off
    is tested against `cosine_topk` (tests/test_extensions.py); the
    split form (`ivf_index` offline / `ivf_probe` online) is the 100 TB
    deployment shape."""
    assigned, centers_df = ivf_index(df, n_lists)
    return ivf_probe(assigned, centers_df, query_id, k, n_probe)


def _pq_train(sample: np.ndarray, m: int, k: int, seed: int, iters: int = 10):
    """Per-subspace Lloyd k-means on a driver-side sample → codebooks of
    shape (m, k, dim/m). Codebook training is O(sample), an offline step
    even at 100 TB (train on a bounded sample, broadcast the codebooks);
    seeded numpy keeps it deterministic."""
    rng = np.random.RandomState(seed)
    n, dim = sample.shape
    dsub = dim // m
    books = np.empty((m, k, dsub))
    for j in range(m):
        x = sample[:, j * dsub : (j + 1) * dsub]
        cent = x[rng.choice(n, size=k, replace=n < k)]
        for _ in range(iters):
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                pts = x[assign == c]
                if len(pts):
                    cent[c] = pts.mean(axis=0)
        books[j] = cent
    return books


def pq_index(df: DataFrame):
    """Product-quantization index (Jégou et al., TPAMI 2011): split each
    vector into m=8 subvectors, k-means each subspace (k=16 centroids)
    on a bounded driver-side sample, store each vector as m small codes
    (m·log2(k) bits ≈ 4 B here vs 256 B raw — the compression that makes
    a 100 TB embedding corpus scannable from memory).

    Returns ``(codes_df, codebooks)``: the input ids with an
    ``array<int>`` code column (encoded distributed, one numpy argmin
    per Arrow batch, codebooks riding the UDF closure), and the numpy
    codebooks for query-side ADC.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    sample = np.array(
        [
            r[0]
            for r in df.select(_as_double(F.col("embedding")))
            .limit(2048)
            .collect()
        ]
    )
    books = _pq_train(sample, 8, 16, 42)
    dsub = sample.shape[1] // 8

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        codes = np.empty((len(x), 8), dtype=np.int32)
        for j in range(8):
            sub = x[:, j * dsub : (j + 1) * dsub]  # (n, dsub)
            d = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    codes_df = spread(df.select(F.col("vec_id"), F.col("embedding"))).select(
        F.col("vec_id"), encode(F.col("embedding")).alias("pq_code")
    )
    return codes_df, books


def write_pq_index(
    codes_df: DataFrame,
    books: "np.ndarray",
    path: str,
) -> None:
    """Materialize a `pq_index` result to ``path/{codes,codebooks}`` —
    the PQ member of the index-artifact family (`write_ivf_index`,
    `dedup.write_corpus_signatures`). ``codes`` is the per-vector
    m-byte code table (the thing the ADC scan reads — a ~64× narrower
    column than raw embeddings); ``codebooks`` is the tiny
    (m × n_centroids)-row centroid table every query rebuilds its ADC
    lookup from. Training (driver-side sampled k-means) happens once
    per index build; probes over the read-back artifact never touch
    raw vectors except for the shortlist re-rank.

    ``(m, n_centroids, dsub)`` is recorded in a meta sidecar under the
    `artifacts` release protocol: a rebuild dying between the codes
    and codebooks writes would otherwise leave NEW codes under STALE
    codebooks — both halves complete-looking, every ADC distance
    decoded against the wrong centroids silently."""
    m, n_c, dsub = books.shape
    spark = codes_df.sparkSession
    rows = [
        (j, c, [float(x) for x in books[j][c]])
        for j in range(m)
        for c in range(n_c)
    ]
    codebooks = spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    )
    artifacts.write_release(
        spark,
        path,
        {"codes": codes_df, "codebooks": codebooks},
        "m int, n_centroids int, dsub int",
        (m, n_c, dsub),
        "overwrite",
    )


def read_pq_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, "np.ndarray"]:
    """Load a materialized `write_pq_index` artifact as the
    ``(codes_df, books)`` pair `pq_probe` takes. The codebook read is a
    bounded m × n_centroids-row collect (index metadata, like
    `ivf_probe`'s centroid ranking). A missing or malformed meta
    sidecar — what a crashed `write_pq_index` leaves behind — refuses
    loudly: mixed-release codes/codebooks decode every ADC distance
    against the wrong centroids with no error anywhere."""
    artifacts.read_required_meta(
        spark,
        path,
        ("m", "n_centroids", "dsub"),
        "PQ index",
        "write_pq_index",
    )
    codes_df = spark.read.parquet(f"{path}/codes")
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["subspace"] for r in rows) + 1
    n_c = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    books = np.zeros((m, n_c, dsub))
    for r in rows:
        books[r["subspace"]][r["code"]] = r["centroid"]
    return codes_df, books


def pq_probe(
    codes_df: DataFrame,
    books: "np.ndarray",
    df: DataFrame,
    query_id: int,
    k: int = 10,
    rerank: int = 50,
) -> DataFrame:
    """Query side of PQ-ADC over an existing code table: build the
    (m × n_centroids) query→centroid distance table driver-side, scan
    ONLY the code column for approximate distances, exact-rerank the
    best ``rerank`` by cosine against raw vectors fetched by id. The
    split form of `pq_topk` — at 100 TB ``codes_df``/``books`` come
    from `read_pq_index` and the raw-vector table is touched for
    ``rerank`` rows per query, not per candidate."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    m = books.shape[0]
    q = np.array(
        df.filter(F.col("vec_id") == query_id)
        .select(_as_double(F.col("embedding")))
        .first()[0]
    )
    dsub = len(q) // m
    # ADC table: (m, k) squared L2 from each query subvector to each centroid
    table = np.stack(
        [
            ((books[j] - q[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(
                axis=1
            )
            for j in range(m)
        ]
    )

    @pandas_udf(DoubleType())
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=float)
        c = np.stack(codes.to_numpy())  # (n, m)
        return pd.Series(table[np.arange(m)[None, :], c].sum(axis=1))

    shortlist = (
        codes_df.filter(F.col("vec_id") != query_id)
        .select(F.col("vec_id"), adc(F.col("pq_code")).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(rerank)
        .select("vec_id")
    )
    # exact cosine re-rank of the shortlist only
    qn = (
        df.filter(F.col("vec_id") == query_id)
        .select(_as_double(F.col("embedding")).alias("q_vec"))
        .withColumn("q_norm", l2_norm(F.col("q_vec")))
    )
    cand = shortlist.join(
        df.select(F.col("vec_id"), F.col("embedding")), "vec_id"
    )
    v = _as_double(F.col("embedding"))
    sim = dot(v, F.col("q_vec")) / (l2_norm(v) * F.col("q_norm"))
    return (
        cand.crossJoin(F.broadcast(qn))
        .select(F.col("vec_id"), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def pq_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    rerank: int = 50,
) -> DataFrame:
    """PQ approximate nearest neighbours, index + probe in one call —
    see `pq_probe` for the ADC mechanics. The split form (`pq_index` +
    `write_pq_index` offline / `read_pq_index` + `pq_probe` online) is
    the 100 TB deployment shape: training and encoding happen once per
    index build, every query after that reads the m-byte code column
    plus ``rerank`` raw vectors."""
    codes_df, books = pq_index(df)
    return pq_probe(codes_df, books, df, query_id, k=k, rerank=rerank)


def semdedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by CLUSTER-SCOPED cosine pruning — k-means the
    embeddings (the same seeded coarse quantizer the IVF index uses),
    then inside each cluster drop every vector that has a LOWER-id
    neighbor with cosine ≥ ``threshold``. Returns the surviving rows
    of ``df``. The drop rule is deterministic given the assignment
    (lowest id in a mutually-similar group always survives), and the
    invariant it enforces — no two survivors in one cluster with
    cosine ≥ threshold — is recomputed independently in
    tests/test_extensions.py.

    Scale shape: the pair comparison is an EQUALITY self-join on the
    cluster id (shuffle-partitionable, like the LSH bucket joins —
    O(Σ n_c²) bucket-local work, never the O(n²) corpus scan); the
    drop set reduces to distinct ids before a hash-grain left-anti
    join, so full vectors cross the anti-join boundary only for
    surviving rows. k-means makes the assignment engine-specific →
    rows-only in the driver gate (same policy as x15/x17/x21), with
    the invariant + x16-agreement tests as the hard evidence.
    """
    assigned, _ = ivf_index(df, n_lists=n_clusters)
    v = (
        assigned.select(
            F.col("vec_id"),
            F.col("__cell"),
            _as_double(F.col("embedding")).alias("__v"),
        )
        .withColumn("__n", l2_norm(F.col("__v")))
        .persist()
    )
    a = v.select(
        F.col("vec_id").alias("id_a"),
        F.col("__cell").alias("__ca"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = v.select(
        F.col("vec_id").alias("id_b"),
        F.col("__cell").alias("__cb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sim = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
    )
    drops = (
        a.join(
            b,
            (F.col("__ca") == F.col("__cb")) & (F.col("id_a") < F.col("id_b")),
        )
        .filter(sim >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    # Materialize the (tiny, id-only) drop set eagerly so the cached
    # assigned-vector blocks can be unpersisted before returning —
    # otherwise every call pins the full embedding set for the life of
    # the session. The returned frame depends only on the checkpoint.
    drops = drops.localCheckpoint(eager=True)
    v.unpersist()
    return df.join(drops, "vec_id", "left_anti")


# --- kNN label propagation (auto-labeling) -------------------------------


def _knn_vote_tail(pairs: DataFrame, k: int) -> DataFrame:
    """Shared tail of the kNN label-propagation forms: per-query top-k
    by cosine (ties broken by labeled id — deterministic and oracle-
    replayable), then majority vote (ties broken by smaller label —
    no float enters the winner decision)."""
    from pyspark.sql import Window

    wk = Window.partitionBy("__qid").orderBy(
        F.col("__sim").desc(), F.col("__lid").asc()
    )
    top = pairs.withColumn("__rn", F.row_number().over(wk)).filter(
        F.col("__rn") <= k
    )
    votes = top.groupBy("__qid", "label").agg(
        F.count("*").cast("long").alias("votes")
    )
    ww = Window.partitionBy("__qid").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    win = (
        votes.withColumn("__wr", F.row_number().over(ww))
        .filter(F.col("__wr") == 1)
        .select(
            "__qid",
            F.col("label").alias("predicted_label"),
            "votes",
        )
    )
    mean_sim = top.groupBy("__qid").agg(
        F.round(F.avg("__sim"), 6).alias("mean_topk_sim")
    )
    return win.join(mean_sim, "__qid").select(
        F.col("__qid").alias("vec_id"),
        "predicted_label",
        "votes",
        "mean_topk_sim",
    )


def _pair_cosine_rounded() -> Column:
    """Per-pair cosine for the kNN forms, ROUNDED to 6 dp before any
    ranking: the raw dot runs as an Arrow-batched numpy einsum
    (pandas_udf) — the built-in zip_with+aggregate fold is a
    higher-order function OUTSIDE whole-stage codegen, and an
    interpreted 64-step fold per pair dominated the exact form
    (measured 18.3 s -> 4.9 s at sf0.1). Norms come from the per-ROW
    fold (O(n), off the hot path). Rounding BEFORE the top-k window is
    what keeps the ranking oracle-replayable: einsum and DuckDB's
    sequential list_dot_product differ in low-order bits, and an
    unrounded order-by could flip near-tied neighbours; at 6 dp both
    engines see identical sort keys (a flip would need a true sim
    within ~1e-13 of a rounding midpoint), and ties break by labeled
    id in both."""
    return F.round(
        _unit_pair_dot(F.col("__qv"), F.col("__lv"))
        / (F.col("__qn") * F.col("__ln")),
        6,
    ).alias("__sim")


def knn_label_propagation(emb: DataFrame, query_cond, k: int = 5) -> DataFrame:
    """Auto-labeling by exact k-nearest-neighbour vote: rows matching
    ``query_cond`` are treated as UNLABELED and receive the majority
    label of their k nearest labeled neighbours by cosine similarity
    (the semi-supervised step a training-data pipeline runs to extend
    a seed label set over a large embedded corpus). Returns
    ``(vec_id, predicted_label, votes, mean_topk_sim)``.

    This exact form is quadratic-by-design — it is the ORACLE (DuckDB
    replays it with list_dot_product; same policy as x7/x16's exact
    pair sources). The query side broadcasts, so the labeled side
    streams through one pass with no shuffle of vectors; the only
    exchange after the pair scan is the per-query top-k window at
    (qid, lid, sim) grain. The 100 TB path is
    :func:`knn_label_propagation_lsh` — identical vote tail over
    bucket-local candidates.
    """
    q = emb.filter(query_cond).select(
        F.col("vec_id").alias("__qid"),
        _as_double(F.col("embedding")).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    lab = emb.filter(~query_cond).select(
        F.col("vec_id").alias("__lid"),
        _as_double(F.col("embedding")).alias("__lv"),
        "label",
    ).withColumn("__ln", l2_norm(F.col("__lv")))
    pairs = lab.crossJoin(F.broadcast(q)).select(
        "__qid",
        "__lid",
        "label",
        _pair_cosine_rounded(),
    )
    return _knn_vote_tail(pairs, k)


def knn_label_propagation_lsh(
    emb: DataFrame,
    query_cond,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """The scale form of :func:`knn_label_propagation`: candidates come
    from hyperplane-LSH bucket collisions (OR-amplified across
    ``n_tables`` tables) instead of the all-pairs scan, then the
    IDENTICAL top-k + vote tail runs over the candidate set. A query
    whose buckets yield fewer than k labeled collisions votes over
    what it has (standard ANN-kNN behaviour).

    Scale shape: bucket assignment is one Arrow-batched matmul per
    side; the candidate join moves (id, table, bucket) rows only;
    vectors re-attach BY ID after the (qid, lid) dedup, so the
    O(candidates) shuffle never carries arrays. Rows-only in the
    driver gate (bucket membership is engine-specific); the hard
    evidence (tests/test_extensions.py) is three-fold: the vote tail
    fed the FULL candidate set reproduces the exact form EXACTLY
    (identity seam, :func:`knn_from_candidates`), candidate recall of
    strong neighbours (cosine ≥ 0.4, the fixture's planted pairs) is
    ≥ 0.9, and whole-set prediction agreement stays above an
    anti-regression floor — on the fixture's RANDOM background
    vectors top-5 margins are thin, so full agreement is not an
    achievable (or meaningful) bar below the LSH crossover."""
    bucketed = hyperplane_lsh_buckets(emb, dim, n_planes, n_tables).persist()
    qb = bucketed.filter(query_cond).select(
        F.col("vec_id").alias("__qid"), "lsh_table", "lsh_bucket"
    )
    lb = bucketed.filter(~query_cond).select(
        F.col("vec_id").alias("__lid"),
        F.col("lsh_table").alias("__t"),
        F.col("lsh_bucket").alias("__b"),
    )
    cand = (
        qb.join(
            lb,
            (F.col("lsh_table") == F.col("__t"))
            & (F.col("lsh_bucket") == F.col("__b")),
        )
        .select("__qid", "__lid")
        .distinct()
    )
    return knn_from_candidates(emb, cand, query_cond, k)


def knn_from_candidates(
    emb: DataFrame,
    cand: DataFrame,
    query_cond,
    k: int = 5,
) -> DataFrame:
    """Run the kNN vote over an explicit ``(__qid, __lid)`` candidate
    table — the shared back half of every approximate form (and the
    identity-test seam: feeding it the full query×labeled cross
    product must reproduce :func:`knn_label_propagation` exactly,
    asserted in tests). Vectors re-attach BY ID here, after candidate
    dedup, so the O(candidates) shuffle never carries arrays."""
    qv = emb.filter(query_cond).select(
        F.col("vec_id").alias("__qid"),
        _as_double(F.col("embedding")).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    lv = emb.filter(~query_cond).select(
        F.col("vec_id").alias("__lid"),
        _as_double(F.col("embedding")).alias("__lv"),
        "label",
    ).withColumn("__ln", l2_norm(F.col("__lv")))
    pairs = (
        cand.join(qv, "__qid")
        .join(lv, "__lid")
        .select(
            "__qid",
            "__lid",
            "label",
            _pair_cosine_rounded(),
        )
    )
    return _knn_vote_tail(pairs, k)


def bitext_margin_pairs(
    df: DataFrame,
    side: Column,
    k: int = 4,
    threshold: float = 1.05,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136 — the CCMatrix/LASER recipe): for every source
    vector, its best target by MARGIN — cosine divided by the mean of
    both directions' average-top-``k`` cosines — kept when the margin
    clears ``threshold``. Margin, not raw cosine, is what separates
    true translations from hubs: a vector that is "close to
    everything" has a high k-NN background, so its raw cosines are
    discounted; a pair that stands OUT of both backgrounds survives.
    Returns (id_a, id_b, cosine_sim, margin) — one best-target row
    per surviving source.

    ``side`` is a boolean Column over ``df`` (True = source language
    A, False = target B); the caller decides the split (language
    column, corpus tag, id rule).

    EXACT form — the A×B cosine matrix is materialized (the
    `embedding_near_dup_pairs` stance): this is the ground truth and
    the oracle-checkable twin; at 100 TB the pair source swaps to ANN
    candidates (x11/x15's bucketed tiers) with k-NN backgrounds
    estimated over the candidate set, exactly the x16 → x17 move.
    All ranking and averaging happens on the 6-decimal ROUNDED cosine
    so both engines order and average identical numbers.

    Plan economy within the exact stance: vectors are cast + normed
    ONCE per row (persisted diamond — the pair join and both
    background aggregates all read the same pair table), the pair
    table carries only (id_a, id_b, cos), and the two background
    averages are id-grain aggregates joined back at id grain."""
    pairs = _sided_pair_table(
        df, side, "vec_id", "embedding", "a", "b"
    ).persist()
    return bitext_margin_from_pairs(pairs, k, threshold)


def bitext_margin_from_pairs(
    pairs: DataFrame, k: int = 4, threshold: float = 1.05
) -> DataFrame:
    """The margin-scoring tail over a prepared ``(id_a, id_b, cos)``
    pair table — average-top-``k`` backgrounds per side, margin =
    cos / mean(bg_a, bg_b), best target per source at margin ≥
    ``threshold``. THE identity seam shared by the exact
    (`bitext_margin_pairs`, crossJoin source) and ANN
    (`bitext_margin_pairs_ann`, LSH-candidate source) forms: feeding
    the COMPLETE A×B pair table reproduces the exact form
    bit-for-bit (pinned in tests/test_extensions.py), so the ANN
    twin differs ONLY in its candidate generator — the x63/x67
    convention. Callers persist ``pairs``: three consumers (both
    background aggregates + the final join) read it."""
    from pyspark.sql import Window

    w_a = Window.partitionBy("id_a").orderBy(
        F.col("cos").desc(), F.col("id_b")
    )
    w_b = Window.partitionBy("id_b").orderBy(
        F.col("cos").desc(), F.col("id_a")
    )
    bg_a = (
        pairs.withColumn("__r", F.row_number().over(w_a))
        .filter(F.col("__r") <= k)
        .groupBy("id_a")
        .agg(F.avg("cos").alias("__bg_a"))
    )
    bg_b = (
        pairs.withColumn("__r", F.row_number().over(w_b))
        .filter(F.col("__r") <= k)
        .groupBy("id_b")
        .agg(F.avg("cos").alias("__bg_b"))
    )
    margin = F.round(
        F.col("cos") / ((F.col("__bg_a") + F.col("__bg_b")) / 2), 6
    )
    # Join order (r15 optimization, guide §2.4/§2.3): the id_b-keyed
    # background attaches FIRST and the id_a-keyed one LAST, so when
    # the backgrounds are corpus-sized (sort-merge, not broadcast) the
    # scored table comes out hash-partitioned by id_a — the exact
    # grain the best-match aggregate below needs, saving one full
    # pair-table exchange (measured 3 → 2 pair-grain exchanges in the
    # x83 tail at sf0.1). The old order (bg_a, then bg_b, then an
    # id_a window) re-exchanged the scored table a third time.
    scored = (
        pairs.join(bg_b, "id_b")
        .join(bg_a, "id_a")
        .select("id_a", "id_b", "cos", margin.alias("margin"))
    )
    # Best target per source as a MAP-SIDE-COMBINABLE aggregate, not a
    # row_number window (r15 optimization): only the argmax row
    # survives, so max_by ships one row per id_a through the partial
    # aggregate instead of sorting every candidate row per key. The
    # ordering key mirrors the old window exactly — margin DESC with
    # id_b ASC tie-break = max over (margin, -id_b); ties beyond that
    # are impossible because (id_a, id_b) pairs are deduped upstream.
    best = F.max_by(
        F.struct(F.col("id_b"), F.col("cos"), F.col("margin")),
        F.struct(F.col("margin"), (-F.col("id_b")).alias("__nb")),
    )
    return (
        scored.groupBy("id_a")
        .agg(best.alias("__best"))
        .filter(F.col("__best.margin") >= threshold)
        .select(
            "id_a",
            F.col("__best.id_b").alias("id_b"),
            F.col("__best.cos").alias("cosine_sim"),
            F.col("__best.margin").alias("margin"),
        )
    )


def contamination_from_pairs(
    pairs: DataFrame, threshold: float = 0.4
) -> DataFrame:
    """The verdict tail over a prepared ``(id_t, id_e, cos)``
    train×eval pair table: per training vector, the best eval match
    (cos desc, eval id asc tie-break) and the ≥ ``threshold`` flag.
    THE identity seam shared by the exact (`embedding_contamination`)
    and ANN (`embedding_contamination_ann`) forms — feeding the
    complete train×eval pair table reproduces the exact form
    bit-for-bit (tests/test_extensions.py), so the forms differ only
    in candidate generation. Returns (vec_id, nearest_eval_id,
    max_cosine, contaminated).

    The verdict is a MAP-SIDE-COMBINABLE max_by aggregate, not a
    row_number window (r15 optimization, guide §2.3): only the best
    eval match per training vector survives, so the partial aggregate
    ships one row per id_t instead of sorting every candidate row per
    key — and when the pair table arrives id_t-partitioned (the
    `_attach_unit_cos` join order leaves it so), the aggregate needs
    no exchange at all. Ordering mirrors the old window exactly: cos
    DESC, id_e ASC tie-break = max over (cos, -id_e); further ties
    are impossible because (id_t, id_e) pairs are deduped upstream."""
    best = F.max_by(
        F.struct(F.col("id_e"), F.col("cos")),
        F.struct(F.col("cos"), (-F.col("id_e")).alias("__ne")),
    )
    return (
        pairs.groupBy("id_t")
        .agg(best.alias("__best"))
        .select(
            F.col("id_t").alias("vec_id"),
            F.col("__best.id_e").alias("nearest_eval_id"),
            F.col("__best.cos").alias("max_cosine"),
            (F.col("__best.cos") >= threshold).alias("contaminated"),
        )
    )


def embedding_contamination(
    df: DataFrame,
    is_eval: Column,
    threshold: float = 0.4,
) -> DataFrame:
    """SEMANTIC train-test contamination — the embedding rung of the
    contamination family (n-gram x26, paragraph x52, exact-substring
    x84, THIS): per training vector, its nearest eval-set vector by
    cosine and a ≥ ``threshold`` flag. Catches the leakage the
    lexical rungs can't see — an eval document paraphrased,
    translated, or re-templated into the training set scores ~0 on
    token overlap but stays close in embedding space (the
    SemDeDup/x55 observation pointed across the split boundary).
    Every training id comes back (audit form, like x26): the flag is
    the gate, the max_cosine is the evidence.

    EXACT form — the train×eval cosine matrix materializes (the x16
    stance: ground truth and oracle twin); the ANN tier is
    `embedding_contamination_ann` (the x16 → x17 move). All ranking
    happens on the 6-decimal ROUNDED cosine so both engines order
    identical numbers."""
    pairs = _sided_pair_table(df, ~is_eval, "vec_id", "embedding", "t", "e")
    return contamination_from_pairs(pairs, threshold)


def embedding_contamination_ann(
    df: DataFrame,
    is_eval: Column,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """The 100 TB tier of semantic contamination — LSH-bucketed
    train×eval candidates (a pair is a candidate iff it shares a
    bucket in ≥1 of ``n_tables`` OR-amplified sign-random-projection
    tables), exact cosine on candidates only (unit-vector Arrow
    kernel), verdict tail shared code-for-code with the exact form
    (`contamination_from_pairs`). Training vectors with NO eval
    candidate are absent from the output — at sane LSH params that
    is itself the verdict (nothing in the eval set is even
    bucket-close); the recall + agreement floors are pinned in
    tests/test_extensions.py.

    Scale shape: `_lsh_candidate_cos`'s (the shared block — ids-only
    candidate exchanges, side-scoped unit-vector re-attach); the one
    per-train window runs over (id, id, cos) rows
    (shuffle-pinned)."""
    pairs = _lsh_candidate_cos(
        df,
        dim,
        n_planes,
        n_tables,
        seed,
        "vec_id",
        "embedding",
        left_side=~is_eval,
        left_name="id_t",
        right_name="id_e",
    )
    return contamination_from_pairs(pairs, threshold)


def _checked_unit_vectors(df: DataFrame, dim: int) -> DataFrame:
    """(vec_id, __v double[], __n) from the ``embedding`` column, with
    the vector WIDTH enforced inside the plan: a row whose array
    length ≠ ``dim`` fails the executing task with a descriptive error
    (`raise_error` in the projection — scan-stage, zero shuffle, no
    extra action) instead of silently zip_with-padding into null
    cosines and null verdicts. The embedding analogue of the substring family's k guards: ``dim`` is
    part of an embedding index's identity, and every lifecycle seam
    (build, merge, probe) routes its vectors through THIS check."""
    v = _normed_vectors(df, "vec_id", "embedding")
    guard = F.when(
        F.size("__v") == int(dim), F.col("__v")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "embedding index expects "
                    f"{int(dim)}-dimensional vectors; got length "
                ),
                F.size("__v").cast("string"),
                F.lit(" at id "),
                F.col("vec_id").cast("string"),
            )
        )
    )
    return v.withColumn("__v", guard)


#: The embedding index's meta schema (`write_embedding_index`,
#: `publish_embedding_index`).
_EMB_INDEX_META = "dim int"


def write_embedding_index(eval_df: DataFrame, path: str, dim: int) -> None:
    """Materialize an eval release's embeddings as a frozen
    ``path/{vectors, meta}`` artifact — the once-per-release step of
    the SEMANTIC decontamination lifecycle (the embedding sibling of
    `dedup.write_window_index`; reference scripts/transform.py keeps
    per-release artifacts the same way for prices). ``vectors`` holds
    (id, casted vector, precomputed L2 norm) so every later probe
    and merge skips the normalization pass; ``dim`` is part of the
    artifact's identity (a probe at another width computes null
    cosines — the silent no-flag failure), so it is recorded in a
    one-row meta table, enforced row-by-row at write time
    (`_checked_unit_vectors`), and `read_embedding_index` refuses a
    mismatch loudly.

    The artifact is (8 B id + dim×8 B + 8 B norm) per eval vector —
    eval sets are the SMALL side of decontamination by construction,
    and releases append (`merge_embedding_index`), so the probe side
    reads a frozen parquet scan exactly like the window index.
    Written as an in-place rebuild under the `artifacts` release
    protocol."""
    artifacts.write_release(
        eval_df.sparkSession,
        path,
        {"vectors": _checked_unit_vectors(eval_df, dim)},
        _EMB_INDEX_META,
        (dim,),
        "overwrite",
    )


def read_embedding_index(
    spark: SparkSession, path: str, dim: int | None = None
) -> tuple[DataFrame, int]:
    """Load a materialized `write_embedding_index` /
    `publish_embedding_index` artifact as the ``(eval_index, dim)``
    pair `embedding_contamination_incremental` takes. Passing ``dim``
    asserts the caller's width against the recorded one — a silent
    mismatch would verdict nothing, so it is a loud ValueError. A
    partially-written or corrupt artifact is ALSO a loud refusal
    (`artifacts.read_required_meta`)."""
    (built_dim,) = artifacts.read_required_meta(
        spark, path, ("dim",), "embedding index", "write_embedding_index"
    )
    if dim is not None and dim != built_dim:
        raise ValueError(
            f"embedding index at {path} was built with "
            f"dim={built_dim}, probe requested dim={dim} — cosines "
            "would be null and nothing would flag; rebuild the index "
            "or probe at its dim"
        )
    return spark.read.parquet(f"{path}/vectors"), built_dim


def merge_embedding_index(
    index: DataFrame,
    new_eval: DataFrame,
    built_dim: int,
    dim: int | None = None,
) -> DataFrame:
    """Fold a NEW eval release into an existing embedding index
    WITHOUT re-normalizing the indexed vectors — the incremental
    release step (the embedding sibling of
    `dedup.merge_window_index`): eval id spaces are disjoint across
    releases by contract, so the merge is a plain union of the index
    rows with the increment's checked/normalized vectors.
    ``merge_embedding_index(index, batch, built_dim, dim) ≡
    write-and-read of (release1 ∪ release2)`` is pinned in
    tests/test_extensions.py.

    ``built_dim`` is REQUIRED — pass `read_embedding_index`'s second
    element. Mandatory for the same reason `merge_window_index`'s
    built_k is: the caller merging at the wrong width is precisely
    the caller who doesn't know the artifact's width, and a
    mixed-width index nulls every later cosine. ``dim`` defaults to
    the artifact's width (unlike the window family's k, it has no
    independent meaning — review r15); passing it asserts the
    caller's expectation and a mismatch refuses loudly. The
    increment's rows are width-enforced in-plan
    (`_checked_unit_vectors`), so a wrong width fails the publish
    action loudly regardless.

    Scale shape: the new release pays one cast+norm pass over ITS
    vectors; the indexed releases contribute their stored rows —
    increment cost, no shuffle (union is partition-local)."""
    if dim is None:
        dim = built_dim
    if built_dim != dim:
        raise ValueError(
            f"embedding index was built with dim={built_dim}, merge "
            f"requested dim={dim} — a mixed-width index nulls every "
            "later cosine; rebuild the index or merge at its dim"
        )
    merged = index.unionByName(
        _checked_unit_vectors(new_eval, dim).select(
            F.col("vec_id"), F.col("__v"), F.col("__n")
        )
    )
    # provenance tag: the validated width travels WITH the result so
    # publish_embedding_index can refuse a contradicting built_dim
    return artifacts.tag_release(merged, "width", (dim,))


def publish_embedding_index(
    index: DataFrame, path: str, built_dim: int
) -> None:
    """Publish an index DATAFRAME — typically `merge_embedding_index`'s
    result — as a new embedding-index RELEASE at ``path``, with the
    same ``{vectors, meta}`` layout `write_embedding_index` produces
    and `read_embedding_index` validates: the write half of the
    multi-release SEMANTIC decontamination lifecycle
    (`dedup.publish_window_index`'s conventions, applied to vectors).

    ``path`` must be a NEW release directory: this is the
    write-once publish of the `artifacts` release protocol. A
    provenance-tagged index refuses a contradicting ``built_dim``
    before anything writes."""
    artifacts.write_release(
        index.sparkSession,
        path,
        {"vectors": index},
        _EMB_INDEX_META,
        (built_dim,),
        "error",
    )


def embedding_contamination_incremental(
    eval_index: DataFrame,
    train: DataFrame,
    threshold: float = 0.4,
    built_dim: int | None = None,
) -> DataFrame:
    """`embedding_contamination` probing a MATERIALIZED eval index
    (`read_embedding_index`'s first element) instead of deriving the
    eval side inline — the probe step of the multi-release lifecycle
    (the embedding sibling of
    `dedup.exact_substring_spans_incremental(corpus_index=…)`): eval
    vectors come back pre-normalized from the frozen artifact, so
    the probe pays ONE cast+norm pass over the training batch plus
    the pair table; eval embeddings never re-normalize. Feeding the
    read-back artifact of the same eval set reproduces
    `embedding_contamination` bit-for-bit (same `_pair_side` /
    `_pair_cos` / `contamination_from_pairs` code — identity pinned
    in tests/test_extensions.py).

    ``built_dim`` is REQUIRED — pass `read_embedding_index`'s pair.
    Train-side rows are width-enforced against it in-plan, so a
    mismatched batch fails its task loudly instead of flagging
    nothing through null cosines."""
    if built_dim is None:
        raise ValueError(
            "probing a prebuilt embedding index requires built_dim — "
            "pass the dim read_embedding_index returned; a width "
            "mismatch nulls every cosine and flags nothing"
        )
    t = _pair_side(
        _checked_unit_vectors(train, built_dim),
        "vec_id",
        "t",
    )
    e = _pair_side(eval_index, "vec_id", "e")
    pairs = t.crossJoin(e).select(
        "id_t", "id_e", _pair_cos("t", "e").alias("cos")
    )
    return contamination_from_pairs(pairs, threshold)


#: The LSH bucket index's meta schema (`write_lsh_buckets`,
#: `publish_lsh_buckets`): all four are the artifact's identity.
_LSH_BUCKETS_META = "dim int, n_planes int, n_tables int, seed int"


def write_lsh_buckets(
    eval_index: DataFrame,
    path: str,
    built_dim: int,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> None:
    """Materialize the LSH bucket assignments of a FROZEN embedding
    index (`read_embedding_index`'s first element) as a
    ``path/{buckets, meta}`` artifact — the candidate-generation half
    of the ANN decontamination lifecycle (the IVF `write_ivf_index`
    pattern applied to hyperplane LSH): after this, a streaming or
    batch probe pays bucketing for ITS OWN vectors only and joins the
    stored (id, lsh_table, lsh_bucket) rows — the eval side
    contributes ZERO per-probe compute, which is the shape that
    survives a 100× scale-up of probe traffic.

    All four LSH parameters are the artifact's identity (planes are
    seeded functions of (dim, n_planes, n_tables, seed); a probe
    bucketed under different planes lands in disjoint buckets and
    silently finds NO candidates — the ANN analogue of the substring
    family's k mismatch), so they are recorded in the meta sidecar
    and `read_lsh_buckets` returns them for the probe to reuse.
    Bucket rows derive from the index's STORED vectors, so the
    artifact pair (vectors, buckets) can never disagree."""
    bucketed = hyperplane_lsh_buckets(
        eval_index.select(F.col("vec_id"), F.col("__v")),
        int(built_dim),
        n_planes,
        n_tables,
        seed,
        vec_col="__v",
    ).select(F.col("vec_id"), "lsh_table", "lsh_bucket")
    artifacts.write_release(
        eval_index.sparkSession,
        path,
        {"buckets": bucketed},
        _LSH_BUCKETS_META,
        (built_dim, n_planes, n_tables, seed),
        "overwrite",
    )


def read_lsh_buckets(
    spark: SparkSession, path: str
) -> tuple[DataFrame, tuple[int, int, int, int]]:
    """Load a `write_lsh_buckets` / `publish_lsh_buckets` artifact as
    ``(buckets, (dim, n_planes, n_tables, seed))`` — the probe MUST
    reuse the returned parameters (they define the plane family; any
    other bucketing finds no candidates). Malformed meta refuses
    loudly (`artifacts.read_required_meta`)."""
    params = artifacts.read_required_meta(
        spark,
        path,
        ("dim", "n_planes", "n_tables", "seed"),
        "LSH bucket index",
        "write_lsh_buckets",
    )
    return spark.read.parquet(f"{path}/buckets"), params


def merge_lsh_buckets(
    buckets: DataFrame,
    new_eval_index: DataFrame,
    built_params: tuple[int, int, int, int],
) -> DataFrame:
    """Fold a NEW eval release's bucket assignments into an existing
    bucket index WITHOUT re-bucketing the indexed releases — the
    increment step (the `merge_embedding_index` contract applied to
    buckets): eval id spaces are disjoint across releases, bucket
    assignment is a pure per-row function of the seeded plane family,
    so the merge is the stored rows ∪ the increment's assignments
    under the SAME ``built_params`` (pass `read_lsh_buckets`'
    second element — the parameters are not optional precisely
    because a caller guessing them produces disjoint-bucket rows that
    silently never match). ``new_eval_index`` is the new release's
    slice of the VECTOR artifact (or `_checked_unit_vectors` output),
    so width enforcement rides in from that seam."""
    dim, n_planes, n_tables, seed = (int(x) for x in built_params)
    new_rows = hyperplane_lsh_buckets(
        new_eval_index.select(F.col("vec_id"), F.col("__v")),
        dim,
        n_planes,
        n_tables,
        seed,
        vec_col="__v",
    ).select(F.col("vec_id"), "lsh_table", "lsh_bucket")
    return artifacts.tag_release(
        buckets.unionByName(new_rows),
        "LSH params",
        (dim, n_planes, n_tables, seed),
    )


def publish_lsh_buckets(
    buckets: DataFrame,
    path: str,
    built_params: tuple[int, int, int, int],
) -> None:
    """Publish a bucket-index DATAFRAME — typically
    `merge_lsh_buckets`' result — as a new write-once release at
    ``path`` (the `publish_embedding_index` conventions: the
    write-once publish of the `artifacts` release protocol, provenance
    tag refused on contradiction)."""
    artifacts.write_release(
        buckets.sparkSession,
        path,
        {"buckets": buckets},
        _LSH_BUCKETS_META,
        built_params,
        "error",
    )


def embedding_contamination_ann_incremental(
    eval_index: DataFrame,
    eval_buckets: DataFrame,
    train: DataFrame,
    built_params: tuple[int, int, int, int],
    threshold: float = 0.4,
    persist_train: bool = True,
) -> DataFrame:
    """The ANN tier probing MATERIALIZED artifacts — the 100 TB form
    of the multi-release semantic-decontamination lifecycle: eval
    vectors come from the frozen VECTOR artifact
    (`read_embedding_index`, pre-normalized) and eval candidates from
    the frozen BUCKET artifact (`read_lsh_buckets`), so per probe the
    eval side is two parquet scans and ZERO compute; the training
    batch pays its own bucketing (one Arrow matmul pass) + one
    cast/norm pass, candidates move as id rows through the
    (table, bucket) equality join, and the verdict tail is
    `contamination_from_pairs` — shared code-for-code with x85/x86.
    With the same parameters this is BIT-IDENTICAL to
    `embedding_contamination_ann` over the union (pinned in
    tests/test_extensions.py), so the x86 evidence chain (identity
    seam + recall + agreement vs the exact form) carries over.

    ``built_params`` is `read_lsh_buckets`' second element and is
    REQUIRED: the plane family is a pure function of it, and a probe
    bucketed under any other family lands in disjoint buckets and
    silently flags nothing — the loud-seam rule every artifact in
    this family follows.

    ``persist_train`` caches the checked/normalized train side for
    its two consumers (bucketing + unit re-attach). It defaults on
    for one-shot batch probes; per-micro-batch callers
    (`embedding_gate_sink`) pass False — a persist per batch is a
    block leak over a stream's lifetime, and the batch-sized
    recomputation is cheaper than the cleanup plumbing (review
    r15)."""
    dim, n_planes, n_tables, seed = (int(x) for x in built_params)
    tv = _checked_unit_vectors(train, dim)
    if persist_train:
        tv = tv.persist()
    train_buckets = hyperplane_lsh_buckets(
        tv.select(F.col("vec_id"), F.col("__v")),
        dim,
        n_planes,
        n_tables,
        seed,
        vec_col="__v",
    ).select(F.col("vec_id").alias("id_t"), "lsh_table", "lsh_bucket")
    pairs = _bucket_join_pairs(
        train_buckets,
        eval_buckets.select(
            F.col("vec_id").alias("id_e"), "lsh_table", "lsh_bucket"
        ),
        "id_t",
        "id_e",
    )
    unit = F.transform(F.col("__v"), lambda x: x / F.col("__n"))
    va = tv.select(
        F.col("vec_id").alias("id_t"), unit.alias("__ul")
    )
    vb = eval_index.select(
        F.col("vec_id").alias("id_e"), unit.alias("__ur")
    )
    return contamination_from_pairs(
        _attach_unit_cos(pairs, va, vb, "id_t", "id_e"), threshold
    )


def bitext_margin_pairs_ann(
    df: DataFrame,
    side: Column,
    dim: int,
    k: int = 4,
    threshold: float = 1.05,
    n_planes: int = 4,
    n_tables: int = 16,
) -> DataFrame:
    """The 100 TB tier of margin-based bitext mining — the x16 → x17
    move applied to `bitext_margin_pairs`: candidate pairs come from
    OR-amplified sign-random-projection LSH (an A-vector and a
    B-vector are candidates iff they share a bucket in ≥1 of
    ``n_tables`` tables), the exact cosine runs on candidates only
    (one Arrow numpy kernel over unit vectors), and the avg-top-``k``
    k-NN backgrounds are estimated OVER THE CANDIDATE SET — LSH
    surfaces each vector's highest-cosine neighbours first, which is
    exactly the set the top-``k`` background average is made of, so
    the estimate converges to the exact background as recall does
    (recall + agreement floors pinned in tests/test_extensions.py;
    the scoring tail is `bitext_margin_from_pairs`, shared
    code-for-code with the exact form).

    Scale shape: `_lsh_candidate_cos`'s (the shared block — ids-only
    candidate exchanges, side-scoped unit-vector re-attach, the
    A-side as LEFT); the pair table persists because the margin
    tail's three consumers all read it (shuffle-pinned in
    tests/test_bench_contract.py). No stage is quadratic in corpus
    size: cost is bucket-local pairs, the regime every other LSH
    tier in the package (x17/x35/x63/x67) already operates in."""
    pairs = _lsh_candidate_cos(
        df,
        dim,
        n_planes,
        n_tables,
        42,
        "vec_id",
        "embedding",
        left_side=side,
    ).persist()
    return bitext_margin_from_pairs(pairs, k, threshold)
