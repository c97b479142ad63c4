"""Deterministic sampling, splitting, packing, and quota operators for
training-data pipelines (SURVEY §2.O extension surface).

Every operator here is hash- or window-deterministic — no RNG, no
dependence on partitioning or cluster size. That is the property a
100 TB dataset build needs: the same document lands in the same
split/shard/bin on every re-run and on any cluster, so incremental
rebuilds, cross-team reproduction, and train/test contamination audits
all stay exact. Spark's randomized `df.sample`/`sampleBy` trade that
away (seeded per-partition RNG changes assignment when the partitioning
changes) for nothing these pipelines need.

The shared primitive is an md5-prefix uniform hash: the first 4 hex
chars of md5(id || salt) are uniform over [0, 0xffff] and compare
identically (lowercase-hex lexicographic = numeric) in Spark and ANSI
SQL — so every operator doubles as a DuckDB-checkable oracle query.

Reference parity note: the reference has no sampling surface at all
(no `sample`/`train_test_split` anywhere under /root/reference/scripts)
— this module is part of the driver-mandated LLM-pipeline extension,
not a port.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F


def _hash_prefix(id_col: Column, salt: str = "") -> Column:
    """First 4 hex chars of md5(id || salt) — a deterministic uniform
    draw from 65 536 buckets, engine-portable (same bytes, same hex, in
    Spark / DuckDB / Python hashlib)."""
    return F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(salt))), 1, 4)


def _hex_threshold(fraction: float) -> str:
    """Cumulative fraction → comparison threshold for the 4-hex-char
    prefix. Fraction 1.0 must dominate EVERY prefix: format(65536)
    would be the 5-char '10000', which sorts lexicographically BELOW
    'ffff' (by first char) and would silently keep ~6% instead of all —
    so saturation returns 'g', one past the hex alphabet."""
    n = int(fraction * 65536)
    if n >= 65536:
        return "g"
    return format(n, "04x")


def deterministic_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by hash of
    its id — stable under re-runs, repartitioning, and data growth
    (a given id keeps its split when new rows arrive, unlike
    `randomSplit`). Split granularity is 1/65536.

    ``weights`` map split name → fraction; fractions must sum to ~1.
    ``salt`` decorrelates this draw from other hash-based operators
    (use a different salt for sampling vs splitting).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    prefix = _hash_prefix(F.col(id_col), salt)
    cum = 0.0
    expr = None
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = prefix < F.lit(_hex_threshold(cum))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = F.lit(names[0]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a hash-selected
    ``fractions[stratum]`` of each stratum (language rebalancing, domain
    mixing). A narrow filter over the scan — no shuffle, no RNG; the
    kept set is reproducible and monotone in the fraction (raising a
    stratum's fraction only ever *adds* documents, so dataset-mix
    ablations nest instead of resampling)."""
    prefix = _hash_prefix(F.col("doc_id"), salt)
    thr = F.lit(_hex_threshold(default_fraction))
    for stratum, frac in fractions.items():
        thr = F.when(
            F.col("lang") == stratum, F.lit(_hex_threshold(frac))
        ).otherwise(thr)
    return df.filter(prefix < thr)


def leakage_safe_split(
    df: DataFrame,
    weights: dict[str, float],
    clusters: DataFrame,
    salt: str = "",
) -> DataFrame:
    """`deterministic_split` at NEAR-DUP-CLUSTER grain: every document
    in a near-duplicate cluster draws its split from the cluster
    representative's hash, singletons from their own id — so two
    near-identical documents can never straddle train and test, the
    leakage a doc-grain split cannot rule out (and the reason to split
    AFTER near-dup detection, not before).

    ``clusters`` is `dedup.near_dup_clusters` output
    (``(id, cluster_rep)``; absent ids are singletons). The split key
    is ``coalesce(cluster_rep, id)`` via an id-grain left join — the
    one shuffle this adds; the hash draw itself stays a narrow
    projection. At 100 TB the clusters table is the (much smaller)
    pair-participant set, and the join key is the same id the pair
    pipeline already partitions by."""
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id"))
    grouped = (
        df.join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("__split_key", rep)
        .drop("cluster_rep")
    )
    out = deterministic_split(
        grouped, weights, id_col="__split_key", salt=salt
    )
    return out.drop("__split_key")


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    strata_col: str = "source",
    salt: str = "",
) -> DataFrame:
    """Temperature-weighted source rebalancing — the standard LLM
    data-mixture move: sample stratum ``s`` with probability
    ∝ n_s^alpha (alpha < 1 flattens the source distribution toward
    uniform; alpha = 1 keeps it; alpha = 0 is fully uniform). The
    per-document keep rate is ``(n_s / n_min)^(alpha-1)`` — the
    smallest source keeps everything, larger sources are hash-
    downsampled toward it — realized as the same md5-prefix draw as
    `stratified_sample`, so the kept set is deterministic and monotone
    in alpha.

    Unlike `stratified_sample` the fractions are DATA-DERIVED: one
    stratum-grain count aggregate (map-side combinable; output rows =
    #sources) feeds per-stratum thresholds joined back onto the scan.
    No broadcast hint on that join — source vocabularies can be
    web-scale (domains), AQE broadcasts when measured-small, exactly
    the x33 vocabulary-join rule.

    NULL strata are a real stratum: the threshold join is null-SAFE
    (`<=>`), so docs with a missing ``strata_col`` are counted,
    thresholded, and sampled like any other group — at web scale a
    null `source` column must not silently vanish from the mixture
    (groupBy already buckets NULLs together; a plain equi-join would
    then drop them at re-attach). The DuckDB oracles mirror this with
    ``IS NOT DISTINCT FROM``."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    n_min = counts.agg(F.min("__n").alias("__n_min"))
    keep = F.pow(
        F.col("__n") / F.col("__n_min"), F.lit(float(alpha) - 1.0)
    )
    # floor, not cast: Spark's double→long cast truncates but DuckDB's
    # rounds — an explicit floor keeps the two oracle sides identical
    thr = F.when(keep >= 1.0, F.lit("g")).otherwise(
        F.lower(
            F.lpad(F.hex(F.floor(keep * 65536).cast("long")), 4, "0")
        )
    )
    q = counts.crossJoin(F.broadcast(n_min)).select(
        F.col(strata_col).alias("__stratum"), thr.alias("__thr")
    )
    return (
        df.join(q, F.col(strata_col).eqNullSafe(F.col("__stratum")))
        .filter(_hash_prefix(F.col("doc_id"), salt) < F.col("__thr"))
        .select(*df.columns)
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    chunk_width: int = 1024,
) -> DataFrame:
    """Pack documents into contiguous token-budget bins (context-window
    packing for LLM pretraining): within each ``lang`` partition,
    documents are taken in ``doc_id`` order and a new bin starts
    whenever the running size crosses a multiple of ``budget``.

    bin = floor(exclusive-prefix-sum(size) / budget), deterministic and
    order-exact. True first-fit bin packing is inherently sequential
    (each placement depends on all prior bins); this contiguous form is
    the standard scalable approximation: each bin overshoots ``budget``
    by at most one document, and no driver-side loop or stateful pass
    is needed.

    The prefix sum is computed in two phases rather than one
    ``Window.partitionBy("lang")`` — the naive window funnels every
    row of a stratum into ONE task (a 20 TB 'en' stratum = one hot
    executor; the classic window-skew failure). Phase 1 cumsums within
    (stratum, chunk) where chunk = floor(order / chunk_width) — an
    order-monotone, purely arithmetic sub-key, so no dependence on
    physical partition ids or range-sampler boundaries (both of which
    would make correctness hostage to two shuffles agreeing). Phase 2
    closes the gap with a per-(stratum, chunk) totals table —
    map-side-combined to O(strata × chunks) rows, window-scanned at
    that tiny size, broadcast back. Bin assignment is bit-identical to
    the naive form (long addition is associative) while the widest
    task holds one chunk, set by ``chunk_width``, not one stratum.
    """
    chunk = (F.col("doc_id") / F.lit(chunk_width)).cast("long")
    d = df.withColumn("__chunk", chunk)
    w_local = (
        Window.partitionBy("lang", "__chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = d.withColumn(
        "__local", F.coalesce(F.sum("n_chars").over(w_local), F.lit(0))
    )
    offsets = (
        d.groupBy("lang", "__chunk")
        .agg(F.sum("n_chars").alias("__tot"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__tot").over(
                    Window.partitionBy("lang")
                    .orderBy("__chunk")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("lang", "__chunk", "__offset")
    )
    # eqNullSafe: a NULL stratum is a legitimate group (groupBy and the
    # naive window both treat it as one) — a plain equi-join would
    # silently drop those rows
    off = offsets.select(
        F.col("lang").alias("__p2"),
        F.col("__chunk").alias("__c2"),
        "__offset",
    )
    cum_excl = F.col("__local") + F.col("__offset")
    return (
        local.join(
            F.broadcast(off),
            F.col("lang").eqNullSafe(F.col("__p2"))
            & F.col("__chunk").eqNullSafe(F.col("__c2")),
        )
        .withColumn("bin_id", F.floor(cum_excl / F.lit(budget)).cast("long"))
        .drop("__chunk", "__local", "__offset", "__p2", "__c2")
    )


def quota_cap(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    chunk_width: int = 1024,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically by
    ``order_col`` (domain balancing: stop any one source from dominating
    the mix).

    The ranking window is pre-pruned so it never ranks a whole skewed
    group in one task: per-(group, order-chunk) counts (map-side
    combined, O(groups × chunks) rows) locate each group's cutoff chunk
    — the first whose cumulative count reaches ``cap`` — and chunks
    past it are dropped *before* the `row_number` window. Rows excluded
    this way all rank > cap (every row of an earlier chunk precedes
    them), so the result is identical to the naive grouped ranking
    while the per-group window input is bounded by
    cap + rows-in-cutoff-chunk instead of the group's full size.

    A NULL order key maps to the Long.MIN sentinel chunk so those rows
    rank first — exactly where the naive ranking puts them (Spark's
    default ORDER BY is NULLS FIRST), instead of NULL failing the
    cutoff comparison and silently dropping the row."""
    chunk = F.coalesce(
        (F.col(order_col) / F.lit(chunk_width)).cast("long"),
        F.lit(-(1 << 63)).cast("long"),
    )
    d = df.withColumn("__chunk", chunk)
    cum = F.sum("__n").over(
        Window.partitionBy(group_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cutoffs = (
        d.groupBy(group_col, "__chunk")
        .agg(F.count("*").alias("__n"))
        .withColumn("__cum", cum)
        # first chunk reaching cap; groups under cap keep all chunks
        .groupBy(group_col)
        .agg(
            F.coalesce(
                F.min(F.when(F.col("__cum") >= cap, F.col("__chunk"))),
                F.max("__chunk"),
            ).alias("__cutoff")
        )
    )
    # eqNullSafe keeps the NULL group (capped like any other) instead
    # of silently dropping it in the equi-join
    cut = cutoffs.select(F.col(group_col).alias("__g2"), "__cutoff")
    survivors = d.join(
        F.broadcast(cut), F.col(group_col).eqNullSafe(F.col("__g2"))
    ).filter(F.col("__chunk") <= F.col("__cutoff"))
    w = Window.partitionBy(group_col).orderBy(order_col)
    return (
        survivors.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .select(*df.columns)  # original columns only (drops helpers)
    )


def deterministic_shuffle(df: DataFrame, salt: str = "epoch-0") -> DataFrame:
    """Epoch-keyed global shuffle order for pretraining: every row gets
    a dense 1-based position in the order of md5(id || salt) — a new
    salt is a new, fully reshuffled but exactly reproducible epoch
    permutation (any worker can re-derive it; no RNG state to ship).

    A naive ``row_number() OVER (ORDER BY hash)`` is a GLOBAL window —
    one task ranks the whole dataset. Here the hash's first two hex
    chars give 256 order-contiguous chunks (the hash is uniform, so
    chunks are balanced *by construction* — no sampling step): rank
    within chunk in parallel, then add per-chunk offsets from a
    256-row count table. Dense, gap-free, and identical to the naive
    form; the same two-phase shape as `pack_sequences`.
    """
    # coalesce: a NULL id still deserves a defined position (md5 of
    # NULL is NULL → NULL chunk → the row would fall out of the join)
    h = F.md5(
        F.concat(
            F.coalesce(F.col("doc_id").cast("string"), F.lit("<null-id>")),
            F.lit(salt),
        )
    )
    d = df.withColumn("__h", h).withColumn(
        "__chunk", F.substring(F.col("__h"), 1, 2)
    )
    w_local = Window.partitionBy("__chunk").orderBy("__h", "doc_id")
    local = d.withColumn("__local", F.row_number().over(w_local))
    offsets = (
        d.groupBy("__chunk")
        .agg(F.count("*").alias("__n"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__chunk").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__chunk", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__chunk")
        .withColumn(
            "shuffle_pos", (F.col("__local") + F.col("__offset")).cast("long")
        )
        .select(*df.columns, "shuffle_pos")
    )


def shard_assignment(
    df: DataFrame,
    rows_per_shard: int,
    salt: str = "epoch-0",
) -> DataFrame:
    """Deterministic training-shard layout: shard
    ``floor((pos-1)/rows_per_shard)`` over the epoch-keyed global
    shuffle order — every shard except the last holds exactly
    ``rows_per_shard`` documents, in shuffled order, and the
    document→shard mapping is a pure function of (id, salt,
    rows_per_shard): independent of partitioning, cluster size, and
    re-runs. A new salt re-shards a new epoch; data loaders can
    address any shard without coordination."""
    if rows_per_shard <= 0:
        raise ValueError(f"rows_per_shard must be positive: {rows_per_shard}")
    out = deterministic_shuffle(df, salt=salt)
    return out.withColumn(
        "shard_id",
        F.floor((F.col("shuffle_pos") - 1) / rows_per_shard).cast("long"),
    )


def write_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    salt: str = "epoch-0",
) -> None:
    """Materialize `shard_assignment` as one directory per shard
    (``path/shard_id=K/``), rows inside each shard sorted by their
    shuffle position — the export format a training job consumes
    (sequential reads inside a shard ARE the shuffled order; shard
    set per worker is a directory listing). `repartition(shard_col)`
    co-locates each shard into one task so each directory holds one
    sorted file per shard, not one fragment per upstream partition;
    shard size is the operator's knob, so executor memory bounds it,
    not data volume."""
    sharded = shard_assignment(df, rows_per_shard, salt=salt)
    (
        sharded.repartition(F.col("shard_id"))
        .sortWithinPartitions("shard_id", "shuffle_pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def epoch_repeat(
    df: DataFrame,
    factors: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "repeat",
) -> DataFrame:
    """Materialize a data recipe's per-stratum repeat factors — the
    UPSAMPLING dual of ``temperature_sample``: a row whose stratum
    carries factor ``f`` appears ``floor(f)`` times, plus one more
    copy iff its md5-prefix draw lands below ``frac(f)`` (the same
    1/65536-grain deterministic draw every sampling operator here
    uses, so a given id's copy count is stable under re-runs,
    repartitioning, and corpus growth). ``f < 1`` degenerates to a
    plain keep/drop downsample; ``f = 0`` drops the stratum. Output
    rows carry ``n_copies`` (the row's total) and ``copy_idx``
    (1-based copy index — the epoch-distinct key downstream shuffles
    and shard layouts key on, cf. x27/x44).

    Scale shape: entirely scan-local — the factor lookup is a literal
    when-chain, the draw is a hash of the row's own id, and the copy
    fan-out is explode(sequence(1, n)); NO shuffle at any point
    (plan-asserted zero-Exchange like x51). The materialized fan-out
    multiplies downstream bytes by design; pipelines that only need
    the count can stop before the explode.
    """
    # factors are literals, so the per-stratum copy base and the
    # fractional draw threshold are computed in PYTHON at the same
    # 1/65536 grain every sampling operator uses — both engines then
    # compare against identical hex literals (cf. x42's oracle note)
    base_expr = None
    thr_expr = None
    for name, f in factors.items():
        if f < 0:
            raise ValueError(f"negative repeat factor for {name!r}: {f}")
        cond = F.col(strata_col) == name
        nb, th = int(math.floor(f)), _hex_threshold(f - math.floor(f))
        base_expr = (
            F.when(cond, F.lit(nb))
            if base_expr is None
            else base_expr.when(cond, F.lit(nb))
        )
        thr_expr = (
            F.when(cond, F.lit(th))
            if thr_expr is None
            else thr_expr.when(cond, F.lit(th))
        )
    dnb = 1
    dth = _hex_threshold(0.0)
    base = (
        F.lit(dnb) if base_expr is None else base_expr.otherwise(F.lit(dnb))
    )
    thr = F.lit(dth) if thr_expr is None else thr_expr.otherwise(F.lit(dth))
    extra = (_hash_prefix(F.col(id_col), salt) < thr).cast("int")
    n = (base + extra).alias("n_copies")
    counted = df.select("*", n).filter(F.col("n_copies") > 0)
    return counted.select(
        "*",
        F.explode(
            F.sequence(F.lit(1), F.col("n_copies"), F.lit(1))
        ).alias("copy_idx"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES, PODS'06): each row draws a uniform
    ``u`` from the same md5 hash family as every sampling op here
    (engine-portable, replayable) and ranks by the A-ES key — written
    as ``w / -ln(u)`` (order-isomorphic to the paper's ``u^(1/w)``,
    but O(w)-scaled so 6-dp rounding keeps resolution) — then keeps
    the top ``k``. Inclusion probability is proportional-to-weight
    without replacement, and the draw is a pure function of
    (id, salt): re-runs, retries, and the DuckDB oracle (catalog x68)
    reproduce the identical sample. Keys round to 6 dp BEFORE ranking
    with an id tiebreak (the x62 rounded-before-ranking rule —
    cross-engine ``ln`` may differ in the last ulp; the boundary must
    not depend on it). Scale shape: key computation is scan-local
    expressions; top-k compiles to TakeOrderedAndProject (per-
    partition heaps, no global sort — g3's economy at corpus scale).

    Weights must be strictly positive; ``u ∈ (0,1)`` by construction
    (integer+0.5 over 2^32), so the key is always finite.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    key = F.round(F.col(weight_col).cast("double") / -F.log(u), 6)
    return (
        df.withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(k)
    )
