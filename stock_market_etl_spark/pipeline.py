"""Pipeline lifecycle (SURVEY §2.L, §3.1-3.2): backfill and incremental
runs over a partitioned parquet lake, restructured Spark-first.

The reference's three-stage hourly job (ingest → transform → load,
`dags/hourly_dag.py:27-48`) — three processes, three ThreadPool(10)
loops over hand-built S3 keys — collapses into one Spark job graph per
run: partition-pruned scan → window transforms → quality gate →
dynamic-partition-overwrite write. Thread pools and key templating
disappear into task scheduling.

Scale stance (100 TB): the lake is Hive-partitioned on (year, ticker) so
incremental runs touch only the partitions present in the new batch;
merges are key-local anti-joins (no global shuffle of the lake); the
serving watermark table is tiny and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from stock_market_etl_spark.io import with_year, write_partitioned
from stock_market_etl_spark.operators.windows import compute_stock_metrics
from stock_market_etl_spark.quality import validate

KEYS = ("ticker", "date")


def enrich(raw: DataFrame) -> DataFrame:
    """Transform stage: raw OHLCV bars → metrics frame (F1+F2 windows),
    mirroring the reference's LazyFrame plan (`scripts/transform.py:65-79`).
    One shuffle on ticker; both windows reuse that partitioning."""
    return compute_stock_metrics(raw)


def merge_increment(
    existing: DataFrame, new: DataFrame, keys: tuple[str, ...] = KEYS
) -> DataFrame:
    """L2: idempotent same-key replace-then-append — keep every existing
    row whose key is NOT being re-delivered, then append the new batch
    (reference read-merge-write `scripts/ingest_hourly.py:117-131`,
    generalized from date-equality to key anti-join).

    The anti-join shuffles only on the merge keys; with both sides
    partitioned on ticker the exchange is one hash repartition of the
    touched partitions, never the whole lake.
    """
    survivors = existing.join(
        new.select(*keys).distinct(), list(keys), "left_anti"
    )
    return survivors.unionByName(new)


def merge_agg_state(
    existing: DataFrame,
    increment: DataFrame,
    keys: tuple[str, ...],
    counts: tuple[str, ...] = (),
    sums: tuple[str, ...] = (),
    mins: tuple[str, ...] = (),
    maxs: tuple[str, ...] = (),
) -> DataFrame:
    """L superset: incremental-view-maintenance merge for MERGEABLE
    aggregate state — combine a materialized rollup with an increment
    batch's rollup by key, WITHOUT re-reading the raw history (the L2
    replace-then-append move lifted from row grain to aggregate
    grain). count/sum add (a side absent contributes nothing);
    min/max take least/greatest (Spark's least/greatest skip NULLs, so
    a one-sided key passes through). avg/stddev derive at read time
    from (count, sum[, sum_sq]) — never materialize non-mergeable
    state. One full-outer join on the state keys: the exchange
    carries STATE rows (keys-sized), never raw history — at 100 TB
    the increment's raw scan is the only data-sized cost, exactly the
    continuous-aggregate contract (catalog l6 proves merged ≡ full
    recompute)."""
    a, b = existing.alias("__a"), increment.alias("__b")
    joined = a.join(b, list(keys), "full_outer")
    cols = [F.col(k) for k in keys]
    for c in counts:
        cols.append(
            (
                F.coalesce(F.col(f"__a.{c}"), F.lit(0))
                + F.coalesce(F.col(f"__b.{c}"), F.lit(0))
            ).alias(c)
        )
    for c in sums:
        cols.append(
            F.coalesce(
                F.col(f"__a.{c}") + F.col(f"__b.{c}"),
                F.col(f"__a.{c}"),
                F.col(f"__b.{c}"),
            ).alias(c)
        )
    for c in mins:
        cols.append(F.least(F.col(f"__a.{c}"), F.col(f"__b.{c}")).alias(c))
    for c in maxs:
        cols.append(F.greatest(F.col(f"__a.{c}"), F.col(f"__b.{c}")).alias(c))
    return joined.select(*cols)


def newer_than_watermark(
    batch: DataFrame, watermarks: DataFrame
) -> DataFrame:
    """L3/D1+C4+E6: cross-store dedup before serving load — broadcast
    the per-ticker watermark table, keep rows strictly newer than the
    watermark (or for tickers never loaded), dedup on the key
    (reference `scripts/load_stock_metrics.py:76-88`).

    ``watermarks`` has columns (ticker, latest_date); ≤~503 rows in the
    reference → always a broadcast hash join, fact side never moves.
    """
    joined = batch.join(F.broadcast(watermarks), "ticker", "left")
    fresh = joined.filter(
        F.col("latest_date").isNull() | (F.col("date") > F.col("latest_date"))
    ).drop("latest_date")
    return fresh.dropDuplicates(list(KEYS))


def serving_watermarks(serving: DataFrame) -> DataFrame:
    """E3: per-ticker MAX(date) watermark table
    (reference `scripts/load_stock_metrics.py:40-49`)."""
    return serving.groupBy("ticker").agg(F.max("date").alias("latest_date"))


def latest_year(serving: DataFrame) -> int | None:
    """E2/L4: watermark year for year-range resume
    (reference `scripts/transform.py:39-44`)."""
    row = serving.agg(
        F.year(F.max("date")).cast("int").alias("y")
    ).collect()[0]
    return row.y


def pruned_history(
    spark: SparkSession, lake_path: str, new_raw: DataFrame
) -> DataFrame:
    """Read only the lake partitions whose ticker appears in the new
    batch: broadcast left-semi join against the batch's distinct keys.
    No driver-side collect — the prune holds at arbitrary key
    cardinality, and the broadcast side drives dynamic partition
    pruning on a ticker=-partitioned lake."""
    touched = new_raw.select("ticker").distinct()
    return (
        spark.read.parquet(lake_path)
        .join(F.broadcast(touched), "ticker", "left_semi")
        .select(*new_raw.columns)
    )


def backfill(raw: DataFrame, lake_path: str) -> DataFrame:
    """§3.2: full-history backfill — enrich, gate, write the whole lake
    partitioned on (year, ticker) (B1, reference
    `scripts/ingest_backfill_raw.py:49-78` + `scripts/transform.py:113-125`).
    """
    metrics = validate(enrich(raw))
    write_partitioned(with_year(metrics), lake_path)
    return metrics


def run_increment(
    spark: SparkSession, lake_path: str, new_raw: DataFrame
) -> DataFrame:
    """§3.1: one hourly micro-batch — merge the new bars into only the
    lake partitions they touch, re-enrich those series, gate, rewrite.

    Window metrics need each series' trailing history, so the re-read is
    pruned to the touched tickers via a broadcast left-semi join against
    the batch's distinct keys — no driver round-trip, so the prune holds
    at arbitrary key cardinality, and on the ticker=-partitioned lake
    the broadcast side drives dynamic partition pruning (at 100 TB this
    is the difference between scanning ~500 partitions and the whole
    lake). Dynamic partition overwrite (session conf) makes the rewrite
    idempotent — re-running the same batch converges to the same lake
    state (O7).
    """
    existing = pruned_history(spark, lake_path, new_raw)
    merged = merge_increment(existing, new_raw)
    metrics = validate(enrich(merged))
    # The rewrite targets the same path the merge reads, so the plan's
    # lineage back to the lake must be severed before the overwrite
    # (SURVEY §7: upsert without a table format). localCheckpoint
    # materializes the merged partitions; a production deployment on a
    # table format (Delta/Iceberg MERGE) gets this atomicity natively.
    metrics = metrics.localCheckpoint(eager=True)
    write_partitioned(with_year(metrics), lake_path)
    return metrics


def load_serving(
    batch: DataFrame, serving: DataFrame | None
) -> DataFrame:
    """§3.1 stage 3: append-only serving load with cross-store dedup —
    new serving state = old ∪ strictly-newer deduped rows (L3,
    reference `scripts/load_stock_metrics.py:76-89`)."""
    if serving is None:
        return batch.dropDuplicates(list(KEYS))
    fresh = newer_than_watermark(batch, serving_watermarks(serving))
    return serving.unionByName(fresh)


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: tuple[str, ...],
) -> DataFrame:
    """L superset: slowly-changing-dimension TYPE 2 merge — apply one
    update batch to a versioned dimension, preserving history. The
    reference reloads its ticker dimension wholesale (delete-today +
    insert, `scripts/load_stock_metrics.py:40-66`), which forgets
    every prior attribute value; SCD2 is the warehouse-lifecycle form
    that keeps them: a changed attribute CLOSES the open row
    (``valid_to`` = effective date) and INSERTS a new open version;
    an unchanged update is a no-op; a brand-new key inserts its first
    version.

    Contract: ``current`` rows carry (key, *attrs, valid_from,
    valid_to) with exactly one OPEN row (valid_to IS NULL) per key;
    ``updates`` carries (key, *attrs, eff_date) with at most one row
    per key per batch (pre-aggregate with e4's max_by if not — the
    same one-version-per-batch rule every MERGE-based SCD2 has).
    Closed history rows pass through untouched.

    NULL key values never match (SQL join semantics — the same
    contract as ``upsert_snapshot``): a NULL-keyed open row passes
    through untouched and a NULL-keyed update row INSERTS as a new
    open version; callers merging on nullable keys should surrogate
    them first. Routed around the join explicitly below — inside a
    full outer join a NULL key is indistinguishable from "no match",
    which would otherwise fabricate all-NULL dimension rows.

    Scale shape: ONE key-grain equi-join of the open slice against
    the update batch decides changed/unchanged/new (batch side is
    the small side in steady state — AQE broadcasts it); closed rows
    never join at all. No window, no global sort; output is
    unioned branches of that single join, so the dimension shuffles
    at most once regardless of history depth."""
    ucols = [F.col(f"u.{a}") for a in attrs]
    ccols = [F.col(f"c.{a}") for a in attrs]
    open_all = current.filter(F.col("valid_to").isNull())
    null_key_open = open_all.filter(F.col(key).isNull()).select(
        key, *attrs, "valid_from", "valid_to"
    )
    open_rows = open_all.filter(F.col(key).isNotNull()).alias("c")
    closed_rows = current.filter(F.col("valid_to").isNotNull())
    null_key_new = updates.filter(F.col(key).isNull()).select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col("eff_date").alias("valid_from"),
        F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
    )
    u = updates.filter(F.col(key).isNotNull()).alias("u")

    j = open_rows.join(u, F.col(f"c.{key}") == F.col(f"u.{key}"), "full")
    # null-safe: a NULL attribute on either side must still compare
    # (plain != returns NULL and silently drops the row from BOTH the
    # changed and unchanged branches)
    changed = ~F.struct(*ucols).eqNullSafe(F.struct(*ccols))
    matched = F.col(f"c.{key}").isNotNull() & F.col(f"u.{key}").isNotNull()

    # open rows: unmatched keep their row; matched-but-unchanged keep
    # theirs; matched-and-changed close at the update's effective date
    kept_open = j.filter(F.col(f"u.{key}").isNull()).select(
        F.col(f"c.{key}").alias(key),
        *[c.alias(a) for c, a in zip(ccols, attrs)],
        F.col("c.valid_from").alias("valid_from"),
        F.col("c.valid_to").alias("valid_to"),
    )
    unchanged = j.filter(matched & ~changed).select(
        F.col(f"c.{key}").alias(key),
        *[c.alias(a) for c, a in zip(ccols, attrs)],
        F.col("c.valid_from").alias("valid_from"),
        F.col("c.valid_to").alias("valid_to"),
    )
    closed_out = j.filter(matched & changed).select(
        F.col(f"c.{key}").alias(key),
        *[c.alias(a) for c, a in zip(ccols, attrs)],
        F.col("c.valid_from").alias("valid_from"),
        F.col("u.eff_date").alias("valid_to"),
    )
    # new versions: changed rows AND first-seen keys open at eff_date
    new_open = j.filter(
        F.col(f"u.{key}").isNotNull()
        & (F.col(f"c.{key}").isNull() | changed)
    ).select(
        F.col(f"u.{key}").alias(key),
        *[c.alias(a) for c, a in zip(ucols, attrs)],
        F.col("u.eff_date").alias("valid_from"),
        F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
    )
    return (
        closed_rows.select(
            key, *attrs, "valid_from", "valid_to"
        )
        .unionAll(kept_open)
        .unionAll(unchanged)
        .unionAll(closed_out)
        .unionAll(new_open)
        .unionAll(null_key_open)
        .unionAll(null_key_new)
    )
