"""SURVEY §2.A — source operators as named queries.

A1 (parquet scan) underlies every other catalog query; here the custom
ingestion surface: the Python Data Source (A3), the HTML dimension parse
(A4), and the literal source (A5). A4/A5 are deterministic → DuckDB
VALUES oracles; A3's generated bars are engine-side → rows-only plus
property tests (tests/test_sources.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from stock_market_etl_spark.catalog import _scratch, registry
from stock_market_etl_spark.sources.dimension import (
    SAMPLE_HTML,
    SP500_SCHEMA,
    literal_dimension,
    parse_constituents,
    sp500_companies,
)
from stock_market_etl_spark.sources.market_source import MarketDataSource

QUERIES, ORACLES, _q = registry()


@_q("a3_python_datasource")
def a3_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: custom Python Data Source scan — one input partition per
    ticker (the Spark-native form of the reference's yfinance batch
    download + thread-pool fan-out). Generated bars → rows-only;
    determinism and partitioning are property-tested."""
    spark.dataSource.register(MarketDataSource)
    return (
        spark.read.format("market_bars")
        .option("tickers", "AAPL,MSFT,GOOG,BRK-B")
        .option("days", "45")
        .load()
    )


def _values_sql(rows: list[tuple]) -> str:
    vals = ", ".join(
        "(" + ", ".join("'" + v.replace("'", "''") + "'" for v in r) + ")"
        for r in rows
    )
    return (
        "SELECT * FROM (VALUES "
        + vals
        + ") AS t(ticker_symbol, security_name, gics_sector, gics_sub_industry)"
    )


@_q("a4_html_dimension_parse", _values_sql(parse_constituents(SAMPLE_HTML)))
def a4_html_dimension_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: HTML constituents table → parsed + ticker-normalized
    dimension frame (reference `scripts/config.py:7-32`; BRK.B → BRK-B
    per `scripts/config.py:24`)."""
    return sp500_companies(spark)


_A5_ROWS = [
    ("AAPL", "Apple Inc.", "Information Technology", "Hardware"),
    ("MSFT", "Microsoft", "Information Technology", "Software"),
]


@_q("a5_literal_source", _values_sql(_A5_ROWS))
def a5_literal_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: literal rows + declared schema (reference
    `scripts/ingest_backfill_sp500.py:29-32`)."""
    return literal_dimension(spark, _A5_ROWS, SP500_SCHEMA)


@_q(
    "a2_jdbc_scan",
    """SELECT s_suppkey, s_name, s_nationkey,
              round(s_acctbal, 6) AS s_acctbal
       FROM supplier""",
)
def a2_jdbc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: relational scan over JDBC, partition-parallel — the
    reference's warehouse read (`scripts/app.py:31-44`,
    `scripts/load_stock_metrics.py:40-49`: SQL pushed to Postgres)
    against embedded Derby, the pure-Java RDBMS on Spark's own
    classpath; production swaps only URL/driver. The fixture's
    supplier dimension is loaded over JDBC (B4 writer), then read
    back with ``partitionColumn`` + bounds so the scan splits into
    parallel range queries — N connections each streaming a key
    range, the 100 TB shape — and compared against the parquet truth
    (full hash oracle: the round-trip must be lossless). Derby folds
    unquoted identifiers upper, so the pushed SQL quotes the writer's
    case-preserved columns; DOUBLE is rounded on BOTH sides."""
    import os

    from stock_market_etl_spark.io import load_jdbc, load_table
    from stock_market_etl_spark.sinks import jdbc_overwrite

    work = _scratch.fresh_dir("a2_jdbc_scan")
    url = f"jdbc:derby:{os.path.join(work, 'dimdb')};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round("s_acctbal", 6).alias("s_acctbal"),
    )
    hi = sup.agg(F.max("s_suppkey")).collect()[0][0]
    jdbc_overwrite(sup, url, "supplier_dim", props)
    return load_jdbc(
        spark,
        url,
        'SELECT "s_suppkey", "s_name", "s_nationkey", "s_acctbal" '
        "FROM supplier_dim",
        partition_column='"s_suppkey"',
        num_partitions=4,
        lower_bound=1,
        upper_bound=int(hi) + 1,
        properties=props,
    )


@_q(
    "a1_parquet_scan",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem""",
)
def a1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the parquet scan itself (reference reads one hand-built S3
    key per partition, `scripts/transform.py:46-60`; Spark's scan node
    handles listing, pruning, and vectorized decode)."""
    from stock_market_etl_spark.io import load_table

    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@_q(
    "b1_partitioned_write_roundtrip",
    """SELECT CAST(year(ts) AS INT) AS year, user_id, event_id,
              round(value, 6) AS value
       FROM events""",
)
def b1_partitioned_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: Hive-partitioned lake write, read back through partition
    discovery (reference's per-(year,ticker) S3 PUT loop,
    `scripts/ingest_backfill_raw.py:49-78`). The oracle checks the round
    trip is lossless including the derived partition column."""
    from stock_market_etl_spark.io import load_table, write_partitioned

    ev = load_table(spark, sf_dir, "events").select(
        F.year("ts").alias("year"),
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        "ts",
    )
    path = _scratch.fresh_dir("lake_b1")
    write_partitioned(ev, path, partition_cols=("year", "user_id"))
    back = spark.read.parquet(path)
    return back.select(
        F.col("year").cast("int").alias("year"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_id",
        "value",
    )


@_q(
    "b2_upsert_merge",
    """SELECT event_id, user_id, ts, round(value, 6) AS value
       FROM events""",
)
def b2_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2/L2: read-merge-write upsert — the lake's old half anti-joined
    against a re-delivered overlapping batch, then unioned (reference
    merge core `scripts/ingest_hourly.py:117-131`). Merging an
    overlapping split must reconstruct exactly the full table, which is
    what the oracle checks."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.pipeline import merge_increment

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value")
    )
    mid = ev.approxQuantile("event_id", [0.6], 0.001)[0]
    existing = ev.filter(F.col("event_id") <= mid)
    new = ev.filter(F.col("event_id") > mid * 0.5)  # overlaps existing
    return merge_increment(existing, new, keys=("event_id",))


@_q(
    "b7_csv_roundtrip",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events""",
)
def b7_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6/A (superset): CSV write + schema-declared read back (the
    reference's dormant dimension-snapshot path,
    `scripts/ingest_backfill_sp500.py:35-39`, made lossless). CSV has
    no types, so the read declares an explicit schema instead of
    double-scanning with inferSchema — the only scale-sane way to read
    text formats."""
    from stock_market_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    path = _scratch.fresh_dir("lake_b7")
    ev.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).option("header", True).csv(path)
    return back


@_q(
    "b8_json_roundtrip",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events""",
)
def b8_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B (superset): JSON-lines write + schema-declared read back —
    the interchange format the reference's REST sources (A3) would
    land as. Same explicit-schema discipline as b7 (schema inference
    on JSON is a full extra pass at 100 TB)."""
    from stock_market_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    path = _scratch.fresh_dir("lake_b8")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(path)
    return back


@_q(
    "b9_schema_evolution_read",
    """SELECT l_orderkey, l_linenumber, l_quantity,
              CASE WHEN l_orderkey % 2 = 0 THEN NULL
                   ELSE round(l_extendedprice, 6) END AS price_v2
       FROM lineitem""",
)
def b9_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B/A (superset): schema-evolution lake read (`io.load_evolving`).
    Two file generations land in one lake directory — v1 files without
    `price_v2`, v2 files with it — and the merged read must surface the
    late-added column as NULL for v1 rows while conforming to the v2
    contract schema. The steady state of a long-lived 100 TB lake:
    columns are added across releases, old files are never rewritten.
    Footer merging is metadata-only; the oracle reproduces the merge
    from the generation rule itself."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from stock_market_etl_spark.io import load_evolving, load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    path = _scratch.fresh_dir("lake_b9")
    li.filter(F.col("l_orderkey") % 2 == 0).drop(
        "l_extendedprice"
    ).write.mode("append").parquet(path)
    li.filter(F.col("l_orderkey") % 2 == 1).withColumn(
        "price_v2", F.round("l_extendedprice", 6)
    ).drop("l_extendedprice").write.mode("append").parquet(path)
    contract = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("price_v2", DoubleType()),
        ]
    )
    return load_evolving(spark, path, expected=contract)


@_q(
    "b10_orc_roundtrip",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events""",
)
def b10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B (superset): ORC write + read back — the third columnar
    interchange format after parquet (A1/B1) and the row formats
    (b7/b8). Spark's ORC source carries the same scan machinery as
    parquet (vectorized decode, predicate pushdown, column pruning),
    so a lake standardized on ORC loses nothing; the roundtrip proves
    the engine's sources aren't parquet-shaped by accident."""
    from stock_market_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    path = _scratch.fresh_dir("lake_b10")
    ev.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@_q(
    "b11_bucketed_colocated_join",
    """SELECT o.o_orderkey, o.o_custkey,
              CAST(count(*) AS BIGINT) AS n_lines,
              round(sum(l.l_extendedprice), 6) AS revenue
       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       GROUP BY o.o_orderkey, o.o_custkey""",
)
def b11_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B (superset): Hive-bucketed tables + the shuffle-FREE big⋈big
    join they buy. orders and lineitem are written `bucketBy(8,
    join key)` + `sortBy` once; every later join on that key reads
    both sides pre-partitioned — NO Exchange on either side of the
    SortMergeJoin (plan-asserted in tests/test_plans.py). THE
    100 TB repeated-join move: a fact table joined on the same key
    nightly pays the partitioning once at write time instead of
    shuffling 100 TB per run. Build-once per (process, sf) via
    _scratch; the MERGE hint pins SMJ so the demonstration can't be
    silently replaced by an AQE broadcast at small sf."""
    from stock_market_etl_spark.io import load_table, write_bucketed

    path, built = _scratch.cached_dir("bucketed", sf_dir)
    suffix = abs(hash(path)) % 10**8
    o_name, l_name = f"orders_bkt_{suffix}", f"lineitem_bkt_{suffix}"
    if not built:
        write_bucketed(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            o_name, ("o_orderkey",), 8, ("o_orderkey",),
            path=f"{path}/{o_name}",
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice"
            ),
            l_name, ("l_orderkey",), 8, ("l_orderkey",),
            path=f"{path}/{l_name}",
        )
        _scratch.mark_built(path)
    o = spark.table(o_name).hint("merge")
    l = spark.table(l_name)
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 6).alias("revenue"),
        )
    )


@_q(
    "b12_clustered_scan_prune",
    """SELECT event_id, user_id, ts, round(value, 6) AS value
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
         AND ts <  TIMESTAMP '2024-01-06 00:00:00'""",
)
def b12_clustered_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B (superset): range-clustered lake layout + the file-skipping
    scan it buys (``io.write_clustered`` — the 1-D Z-order move).
    events is written once range-partitioned + sorted on ts, so each
    parquet file's footer carries a narrow ts band; the one-day range
    read then prunes to the ~1/30 of files whose band intersects,
    before decoding a row. The oracle proves the clustered layout is
    LOSSLESS under the pruned read (same rows as filtering the
    original table); footer-band disjointness and the pushed filter
    are asserted in tests/test_sinks.py and tests/test_plans.py.
    Build-once per (process, sf) via _scratch, like b11's buckets."""
    from stock_market_etl_spark.io import load_table, write_clustered

    path, built = _scratch.cached_dir("clustered_events", sf_dir)
    lake = f"{path}/events_by_ts"
    if not built:
        write_clustered(
            load_table(spark, sf_dir, "events").select(
                "event_id", "user_id", "ts", "value"
            ),
            lake,
            ("ts",),
            num_files=16,
        )
        _scratch.mark_built(path)
    lo = F.lit("2024-01-05 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-06 00:00:00").cast("timestamp")
    return (
        spark.read.parquet(lake)
        .filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        .select(
            "event_id", "user_id", "ts", F.round("value", 6).alias("value")
        )
    )


@_q(
    "b13_zorder_scan_prune",
    """SELECT event_id, user_id, ts, round(value, 6) AS value
       FROM events
       WHERE user_id BETWEEN 40 AND 80
         AND ts >= TIMESTAMP '2024-01-05 00:00:00'
         AND ts <  TIMESTAMP '2024-01-12 00:00:00'""",
)
def b13_zorder_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B (superset): Z-order lake layout + the 2-D box scan it buys
    (``io.write_zordered`` — the Delta/Iceberg OPTIMIZE ZORDER move
    on open parquet). b12's 1-D range clustering serves ts ranges but
    leaves user_id spans full-width in every file; the Morton-key
    layout gives each file a narrow footer BOX in both columns, so a
    (user range x week) dashboard query skips every file whose box
    misses it — on either axis — before decoding a row. The oracle
    proves the layout lossless under the box read; box-intersection
    file skipping is asserted from the real footers in
    tests/test_sinks.py and the pushed filter in tests/test_plans.py.
    Build-once per (process, sf) via _scratch, like b12."""
    from stock_market_etl_spark.io import load_table, write_zordered

    path, built = _scratch.cached_dir("zordered_events", sf_dir)
    lake = f"{path}/events_by_user_ts"
    if not built:
        write_zordered(
            load_table(spark, sf_dir, "events").select(
                "event_id", "user_id", "ts", "value"
            ),
            lake,
            "user_id",
            "ts",
            num_files=16,
        )
        _scratch.mark_built(path)
    lo = F.lit("2024-01-05 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-12 00:00:00").cast("timestamp")
    return (
        spark.read.parquet(lake)
        .filter(
            F.col("user_id").between(40, 80)
            & (F.col("ts") >= lo)
            & (F.col("ts") < hi)
        )
        .select(
            "event_id", "user_id", "ts", F.round("value", 6).alias("value")
        )
    )


@_q(
    "b14_stream_lake_sink",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value,
              CAST(ts AS DATE) AS event_date
       FROM events""",
)
def b14_stream_lake_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: exactly-once streaming → partitioned lake drained
    end-to-end — a REAL Structured Streaming run (file source →
    foreachBatch per-batch-directory OVERWRITE write, date-partitioned
    inside each batch dir), then the lake read back. A redelivered
    batch replaces its own ``batch_id=N`` directory byte-for-byte, so
    at-least-once delivery yields exactly-once lake state with no
    lake-wide read-modify-write (the bulk append-only ingest shape;
    contrast b2/L2's anti-join merge). Single-file source ⇒ one batch
    ⇒ the lake equals the source projection — full hash oracle;
    redelivery idempotence is asserted in tests/test_streaming.py."""
    import os

    from stock_market_etl_spark.streaming import core

    work = _scratch.fresh_dir("stream_lake")
    lake = os.path.join(work, "lake")
    core.lake_batch_sink(
        core.stream_events(spark, sf_dir), lake, os.path.join(work, "ckpt")
    )
    return spark.read.parquet(lake).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 6).alias("value"),
        "event_date",
    )


@_q(
    "b15_python_datasource_sink",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events""",
)
def b15_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: custom Python Data Source WRITER
    (sources/audit_sink.py JsonlAuditSink) — events written through
    the Arrow-batched JSONL sink's real two-phase task commit (tmp
    file per task → driver rename + atomic manifest publish), then
    read back trusting only the manifest. The sink-side twin of A3's
    custom reader: failed/speculative task output is never visible,
    which is the property the roundtrip oracle certifies; the
    crashed-job and abort paths are separately tested in
    tests/test_sources.py."""
    import os

    from pyspark.sql import types as T

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.sources.audit_sink import (
        JsonlAuditSink,
        read_jsonl_audit,
    )

    spark.dataSource.register(JsonlAuditSink)
    out = os.path.join(_scratch.fresh_dir("audit_sink"), "events")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
        )
        .write.format("jsonl_audit")
        .option("path", out)
        .mode("append")
        .save()
    )
    return read_jsonl_audit(spark, out, schema)


@_q(
    "b16_compaction_roundtrip",
    """SELECT event_id, user_id, ts, round(value, 6) AS value
       FROM events""",
)
def b16_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: after-the-fact small-file compaction — the lake
    maintenance job that undoes what an over-parallel writer did
    (reference's per-hour S3 PUT loop `scripts/ingest_hourly.py:89-113`
    emits one object per hour per ticker; a year of that is the classic
    small-files lake). A deliberately fragmented copy of events (64
    writer tasks for ~10 MB of data) is re-read and rewritten through
    io.write_compacted's AQE REBALANCE hint, so the output file count
    tracks DATA VOLUME (advisoryPartitionSizeInBytes) instead of the
    upstream task count — at 100 TB the same plan compacts each
    partition with as many tasks as its bytes need, no driver-side file
    listing loop. The oracle checks the double round trip is lossless;
    the file-count collapse itself (64 task files → a handful) is
    asserted in
    tests/test_sinks.py::test_write_compacted_bounds_file_count."""
    import os

    from stock_market_etl_spark.io import load_table, write_compacted

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value")
    )
    frag = os.path.join(_scratch.fresh_dir("compact_b16"), "frag")
    ev.repartition(64).write.parquet(frag)
    dst = os.path.join(os.path.dirname(frag), "compacted")
    write_compacted(spark.read.parquet(frag), dst)
    return spark.read.parquet(dst)


@_q(
    "b17_corrupt_record_audit",
    """SELECT CAST(count(*) AS BIGINT) AS n_clean,
              CAST(sum(CASE WHEN event_id % 500 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_corrupt,
              round(sum(value), 6) AS clean_value_sum
       FROM events""",
)
def b17_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: malformed-record ingestion audit — the robustness
    half of the CSV path (b7 proves the lossless roundtrip; b17 proves
    the engine's behaviour when the feed is DIRTY, which at 100 TB it
    always eventually is). One clean CSV line per event, PLUS a
    deliberately malformed twin (value column replaced by a non-number)
    for every event_id divisible by 500 — the read declares the schema
    with a ``_corrupt`` column and ``mode=PERMISSIVE``, so bad lines
    surface as quarantine rows instead of killing the job (or silently
    vanishing: DROPMALFORMED) and the audit counts both streams. The
    oracle derives the same counts from the fixture (the corruption
    rule is data-derived, not a pinned literal). Scale shape: parse +
    quarantine happen in the scan stage; the audit is one global
    aggregate (partial-combined, 1-row exchange)."""
    from stock_market_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    lines = ev.select(
        F.concat_ws(",", "event_id", "user_id", "value").alias("value")
    )
    bad = ev.filter(F.col("event_id") % 500 == 0).select(
        F.concat_ws(
            ",", "event_id", "user_id", F.lit("NOT_A_NUMBER")
        ).alias("value")
    )
    path = _scratch.fresh_dir("lake_b17")
    lines.unionAll(bad).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "event_id long, user_id long, value double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    clean = F.col("_corrupt").isNull()
    return back.agg(
        F.sum(clean.cast("long")).alias("n_clean"),
        F.sum((~clean).cast("long")).alias("n_corrupt"),
        F.round(F.sum(F.when(clean, F.col("value"))), 6).alias(
            "clean_value_sum"
        ),
    )


@_q(
    "b18_snapshot_time_travel",
    """SELECT event_id, user_id, round(value, 6) AS value
       FROM events WHERE event_id % 2 = 0""",
)
def b18_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: manifest-versioned TIME TRAVEL (io.commit_snapshot /
    io.read_snapshot — the Iceberg/Delta snapshot model reduced to
    parquet + atomic manifest renames). Two commits land on the same
    table (the even half, then the odd half); the query reads AS OF
    version 1 and must see ONLY v1's files even though v2's bytes sit
    in the same directory — the reproducible-release property a
    training-data pipeline pins dataset versions with (and the b15
    commit discipline: a crashed commit leaves no manifest, so it
    reads as an error, never as partial data). Version-2
    completeness and crash-visibility semantics are pinned in
    tests/test_sinks.py."""
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        load_table,
        read_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    table = os.path.join(_scratch.fresh_dir("b18"), "table")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 1))
    return read_snapshot(spark, table, version=1)


@_q(
    "b19_snapshot_increment_read",
    """SELECT event_id, user_id, round(value, 6) AS value
       FROM events WHERE event_id % 2 = 1""",
)
def b19_snapshot_increment_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: CDC-style INCREMENTAL read between snapshots
    (io.read_increment over b18's manifest-versioned table) — the
    downstream-consumer half of the snapshot story: a job pins the
    last version it processed (here v1, the even half) and reads
    exactly the files v2 added (the odd half), never rescanning the
    table. Exact by construction: commits are append-only and files
    never rewritten, so the file-set difference IS the row increment
    (L1's watermark move at snapshot grain — no timestamp column
    needed). The bootstrap case (from_version=0 ≡ full snapshot) and
    empty-increment refusal are pinned in tests/test_sinks.py."""
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        load_table,
        read_increment,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    table = os.path.join(_scratch.fresh_dir("b19"), "table")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 1))
    return read_increment(spark, table, from_version=1, to_version=2)


@_q(
    "b20_cow_delete",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events WHERE event_type <> 'error'""",
)
def b20_cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: COPY-ON-WRITE DELETE on the manifest-versioned lake
    (io.delete_where_snapshot over b18's table) — the lake-side
    mutation story B5's JDBC predicate delete covers for warehouses:
    the delete commits a NEW snapshot rewriting only match-bearing
    files (untouched files carry over by reference; footer stats can
    skip clean files before any row decodes), prior snapshots stay
    readable as-was (audit + time travel across the delete), and
    NULL predicate results are non-matching on both sides of the
    split. Reads back the post-delete snapshot; the oracle is the
    fixture minus the predicate. File-level pruning (clean files NOT
    rewritten) and pre-delete version stability are pinned in
    tests/test_sinks.py."""
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        delete_where_snapshot,
        load_table,
        read_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    table = os.path.join(_scratch.fresh_dir("b20"), "table")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 1))
    v = delete_where_snapshot(
        spark, table, F.col("event_type") == "error"
    )
    return read_snapshot(spark, table, version=v)


@_q(
    "b21_cow_upsert",
    """SELECT event_id, user_id, event_type,
              round(CASE WHEN event_type = 'purchase'
                         THEN value * 2 ELSE value END, 6) AS value
       FROM events""",
)
def b21_cow_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset: copy-on-write MERGE on the manifest-versioned lake
    (io.upsert_snapshot) — B2/L2's replace-then-append at snapshot
    grain, atomic through the single manifest rename: keyed rows in
    the update batch replace their lake versions (here every
    'purchase' re-lands with a restated value), new keys would
    append, only match-bearing files rewrite, and the pre-merge
    snapshot stays readable (restatement audits read the version
    BEFORE the correction — the reference's read-merge-write ingest
    `scripts/ingest_hourly.py:117-131` with history kept). The oracle
    states the merge's net effect over the fixture. Idempotence
    (re-merging the same batch), new-key appends, file pruning, and
    crash atomicity are pinned in tests/test_sinks.py."""
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        load_table,
        read_snapshot,
        upsert_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    table = os.path.join(_scratch.fresh_dir("b21"), "table")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 1))
    restated = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.round(F.col("value") * 2, 6)
    )
    v = upsert_snapshot(spark, table, restated, keys=("event_id",))
    return read_snapshot(spark, table, version=v)


@_q(
    "b22_lake_lifecycle",
    """WITH base AS (
         SELECT event_id, user_id, event_type,
                round(value, 6) AS value
         FROM events),
       merged AS (
         SELECT event_id, user_id,
                round(CASE WHEN event_type = 'purchase'
                           THEN value * 2 ELSE value END, 6) AS value
         FROM base)
       SELECT read_point, n_rows, n_users, value_sum FROM (
         SELECT 'increment_v1_v2' AS read_point, count(*) AS n_rows,
                count(DISTINCT user_id) AS n_users,
                round(sum(value), 6) AS value_sum
         FROM base WHERE event_id % 2 = 1
         UNION ALL
         SELECT 'pre_merge_v2', count(*), count(DISTINCT user_id),
                round(sum(value), 6)
         FROM base
         UNION ALL
         SELECT 'post_merge_v3', count(*), count(DISTINCT user_id),
                round(sum(value), 6)
         FROM merged
         UNION ALL
         SELECT 'post_compaction_v4', count(*), count(DISTINCT user_id),
                round(sum(value), 6)
         FROM merged)
       ORDER BY read_point""",
)
def b22_lake_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B superset COMPOSED FLAGSHIP: the complete lakehouse table
    lifecycle on ONE manifest-versioned table, every read point
    oracle-checked in a single result (VERDICT r08 task 5) — the
    b2/L2 idempotent-ingest discipline lifted to the snapshot lake
    (reference semantics `scripts/ingest_hourly.py:117-131` +
    `scripts/load_stock_metrics.py:57-89`, with history kept):

    1. append v1 (even half) → 2. append v2 (odd half) →
    3. copy-on-write MERGE v3 (every 'purchase' restated ×2, only
    match-bearing files rewrite) → 4. COMPACTION v4 (the whole
    content refolded into few right-sized files — io.compact_snapshot,
    content-preserving by construction).

    The returned frame carries one fingerprint row (count, distinct
    users, value sum) per read point: the v1→v2 CDC increment (file-
    set difference IS the odd half), the v2 time-travel read ACROSS
    the later merge+compaction (pre-merge values — restatement audits
    depend on this), the post-merge state, and the post-compaction
    state (must equal post-merge — a compaction that loses or
    duplicates a row breaks this row's hash). Crash paths, file-level
    pruning, and concurrent-commit refusal are pinned in
    tests/test_sinks.py.

    Scale shape: each step is O(files-touched) metadata + the minimal
    data motion (appends move new bytes, the merge rewrites only
    match-bearing files, compaction pays one content pass — the cost
    every compactor pays); no step rewrites manifest history, and
    readers never block."""
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        compact_snapshot,
        load_table,
        read_increment,
        read_snapshot,
        upsert_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    table = os.path.join(_scratch.fresh_dir("b22"), "table")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 1))
    restated = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.round(F.col("value") * 2, 6)
    )
    v3 = upsert_snapshot(spark, table, restated, keys=("event_id",))
    v4 = compact_snapshot(spark, table, num_files=4)

    def _fingerprint(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        ).select(
            F.lit(tag).alias("read_point"), "n_rows", "n_users", "value_sum"
        )

    return (
        _fingerprint(
            read_increment(spark, table, from_version=1, to_version=2),
            "increment_v1_v2",
        )
        .unionAll(
            _fingerprint(read_snapshot(spark, table, 2), "pre_merge_v2")
        )
        .unionAll(
            _fingerprint(read_snapshot(spark, table, v3), "post_merge_v3")
        )
        .unionAll(
            _fingerprint(
                read_snapshot(spark, table, v4), "post_compaction_v4"
            )
        )
        .orderBy("read_point")
    )


@_q(
    "b23_snapshot_skipping_read",
    """WITH b AS (SELECT CAST(max(event_id) AS BIGINT) AS n FROM events)
       SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events, b
       WHERE event_id BETWEEN (n // 4) + 1 AND n // 2
       ORDER BY event_id""",
)
def b23_snapshot_skipping_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B superset: MANIFEST-LEVEL DATA SKIPPING on the snapshot lake
    (VERDICT r09 task 2 — the one missing lakehouse piece): committing
    with ``stat_columns`` records each file's parquet-footer min/max
    in the manifest (Iceberg's lower/upper bounds), and
    ``read_snapshot(predicate=...)`` prunes files whose bands cannot
    match BEFORE Spark plans the scan — the manual key-range pruning
    of the reference's transform step
    (`/root/reference/scripts/transform.py:48-49`) lifted from
    hand-written filters into table metadata. Four range-sliced
    appends give every file a narrow event_id band; the mid-range
    predicate then reads ONLY the second slice's files (file-pruning
    asserted in tests/test_sinks.py and tests/test_plans.py), while
    the residual filter keeps results stats-independent.

    Scale shape: the prune is a driver-side band check over file-grain
    metadata (zero tasks, O(files) not O(rows)); survivors still get
    parquet row-group skipping inside the scan. At 100 TB a selective
    read touches O(matching files) — partition pruning without
    directory partitioning, composing with time travel (every version
    keeps its own bands)."""
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        load_table,
        read_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    # bounded scalar (watermark convention) — the slice boundaries
    n = ev.agg(F.max("event_id")).collect()[0][0]
    qs = [0, n // 4, n // 2, (3 * n) // 4, n]
    table = os.path.join(_scratch.fresh_dir("b23"), "table")
    version = 0
    for lo, hi in zip(qs, qs[1:]):
        version = commit_snapshot(
            spark,
            table,
            ev.filter(
                (F.col("event_id") > lo) & (F.col("event_id") <= hi)
            ),
            stat_columns=["event_id"],
        )
    return read_snapshot(
        spark,
        table,
        version,
        predicate=[("event_id", "between", (qs[1] + 1, qs[2]))],
    ).orderBy("event_id")


@_q(
    "b24_snapshot_schema_evolution",
    """WITH base AS (
         SELECT event_id, round(value, 6) AS value FROM events)
       SELECT read_point, n_rows, n_source_null, n_feed_b, value_sum
       FROM (
         SELECT 'v1_under_v2_contract' AS read_point,
                count(*) AS n_rows,
                count(*) AS n_source_null,
                count(CASE WHEN FALSE THEN 1 END) AS n_feed_b,
                round(sum(value), 6) AS value_sum
         FROM base WHERE event_id % 2 = 0
         UNION ALL
         SELECT 'latest_merged',
                count(*),
                count(CASE WHEN event_id % 2 = 0 THEN 1 END),
                count(CASE WHEN event_id % 2 = 1 THEN 1 END),
                round(sum(value), 6)
         FROM base)
       ORDER BY read_point""",
)
def b24_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B superset: SCHEMA EVOLUTION on the snapshot lake (VERDICT r09
    task 6 — b9's evolving-lake contract composed with b18's versioned
    reads): v1 commits without ``source``, v2 appends WITH it, and
    `io.read_snapshot_evolving` serves both faces — v1 re-read under
    the v2 contract comes back in the v2 SHAPE with ``source`` as
    typed NULLs (schema time travel without data time travel), and the
    latest version merges both generations' footers so v1-era rows
    carry NULL and v2-era rows their value. The fingerprints pin both
    read points; the TYPE-drift refusal (a v3 that retypes ``value``
    must raise, never cast silently) is tested in tests/test_sinks.py.

    Scale shape: footer merging is metadata-only over the manifest's
    file list; both read points remain column-pruned, filter-pushed
    scans — no data rewrite ever accompanies a schema change (the
    100 TB requirement: adding a column to a petabyte table is a
    metadata act)."""
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        load_table,
        read_snapshot_evolving,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    table = os.path.join(_scratch.fresh_dir("b24"), "table")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    gen2 = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "source", F.lit("feed_b")
    )
    v2 = commit_snapshot(spark, table, gen2)
    contract = gen2.schema

    def _fp(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("source")).alias("n_source_null"),
            F.count(
                F.when(F.col("source") == "feed_b", 1)
            ).alias("n_feed_b"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        ).select(
            F.lit(tag).alias("read_point"),
            "n_rows",
            "n_source_null",
            "n_feed_b",
            "value_sum",
        )

    return (
        _fp(
            read_snapshot_evolving(spark, table, 1, expected=contract),
            "v1_under_v2_contract",
        )
        .unionAll(
            _fp(
                read_snapshot_evolving(spark, table, v2, expected=contract),
                "latest_merged",
            )
        )
        .orderBy("read_point")
    )


@_q(
    "b25_window_index_lifecycle",
    # Identical result contract to x74: the materialized index is an
    # implementation detail the oracle cannot (and must not) see.
    """WITH d AS (
         SELECT doc_id,
                string_split_regex(trim(text), '\\s+') AS toks
         FROM documents),
       b AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
       g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                    unhex(md5(array_to_string(toks[i:i+7], ' '))) AS h
             FROM b, unnest(range(1, len(toks) - 6)) AS t(i)),
       f AS (SELECT h FROM (
               SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h)
             WHERE nd >= 2),
       hits AS (SELECT doc_id, pos FROM g
                WHERE doc_id % 4 = 0
                  AND h IN (SELECT h FROM f)),
       marked AS (SELECT doc_id, pos,
                    CASE WHEN lag(pos) OVER w IS NULL
                           OR pos > lag(pos) OVER w + 8
                         THEN 1 ELSE 0 END AS brk
                  FROM hits
                  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       grp AS (SELECT doc_id, pos,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                        AS gid
               FROM marked)
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
              CAST(max(pos) + 7 AS BIGINT) AS span_end
       FROM grp GROUP BY doc_id, gid""",
)
def b25_window_index_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The substring-dedup index LIFECYCLE (VERDICT r10 task 4 —
    x74's production form): `dedup.write_window_index` materializes
    the corpus's (window digest, doc count) table to the lake once
    per release, `read_window_index` loads it back (refusing a
    window-width mismatch loudly — k is part of the artifact's
    identity), and the arriving batch (doc_id % 4 == 0) is flagged
    through `exact_substring_spans_incremental(corpus_index=...)`
    WITHOUT the corpus ever re-hashing — the x40/x43 probe-the-
    artifact pattern lifted from ANN cells to window hashes. The
    oracle is x74's: probing the written artifact must equal the
    inline derivation bit-for-bit (probe ≡ inline is also
    identity-tested in tests/test_extensions.py).

    Scale shape: the artifact is (16 B + 8 B) per distinct window;
    each batch pays its own windows + one hash-grain join against
    the read-back parquet (filters/pruning reach that scan as with
    any lake table)."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    work = _scratch.fresh_dir("b25_window_index")
    path = os.path.join(work, "substring_index")
    dedup.write_window_index(corpus, path, k=8)
    index, built_k = dedup.read_window_index(spark, path, k=8)
    return dedup.exact_substring_spans_incremental(
        None,
        batch,
        k=built_k,
        min_docs=2,
        text_col="text",
        id_col="doc_id",
        corpus_index=index,
        built_k=built_k,
    )


@_q("b26_window_index_release_lifecycle")
def b26_window_index_release_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MULTI-RELEASE window-index lifecycle as one driver-provable
    query (r14, VERDICT r13 task 7's depth direction — b25's artifact
    pattern carried across a release boundary): eval release 1
    (doc_id % 10 == 8) materializes with `dedup.write_window_index`;
    eval release 2 (doc_id % 10 == 9) arrives later and folds into
    the read-back release-1 artifact at INCREMENT cost
    (`merge_window_index` — release 1 contributes only its (16 B,
    8 B) rows, its text never re-hashes); the merged index publishes
    WRITE-ONCE as the release-2 artifact (`publish_window_index`,
    width provenance checked); and the training split scrubs against
    the published artifact through
    `contaminated_spans(reference_index=…)` + `cut_spans`. By the
    merged ≡ rebuilt identity (pinned in tests at both the DataFrame
    and streaming seams), the result is bit-identical to x84's
    single-release scrub against the union — so the oracle BINDS
    x84's string below: the whole artifact lifecycle is an
    implementation detail the oracle cannot (and must not) see, the
    b25 stance.

    Scale shape: release N+1 pays its own windows + one hash-grain
    map-side-combined sum; the probe pays the batch's windows + one
    hash-grain semi-join against the published parquet. Stays out of
    BENCH like b25/a2 — artifact writers whose cost is the side
    effect; x84 already times the probe shape."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    eval_r1 = docs.filter(F.col("doc_id") % 10 == 8)
    eval_r2 = docs.filter(F.col("doc_id") % 10 == 9)
    work = _scratch.fresh_dir("b26_release_lifecycle")
    p1 = os.path.join(work, "eval_idx_r1")
    dedup.write_window_index(eval_r1, p1, k=8)
    idx1, built_k = dedup.read_window_index(spark, p1)
    merged = dedup.merge_window_index(idx1, eval_r2, built_k, k=built_k)
    p2 = os.path.join(work, "eval_idx_r2")
    dedup.publish_window_index(merged, p2, built_k)
    idx2, k2 = dedup.read_window_index(spark, p2)
    spans = dedup.contaminated_spans(
        None,
        train,
        k=k2,
        min_ref_docs=1,
        text_col="text",
        id_col="doc_id",
        reference_index=idx2,
        built_k=k2,
    )
    return dedup.cut_spans(
        train, spans, text_col="text", id_col="doc_id"
    ).orderBy("doc_id")


@_q("b27_embedding_index_release_lifecycle")
def b27_embedding_index_release_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MULTI-RELEASE lifecycle for the SEMANTIC decontamination
    tier (r15, VERDICT r14 task 4 — b26's embedding sibling, closing
    the lifecycle symmetry: every contamination rung now has a frozen
    per-release artifact path): eval release 1 (vec_id % 10 == 0)
    materializes with `similarity.write_embedding_index` (vectors
    cast + normed ONCE, dim recorded as the artifact's identity);
    eval release 2 (vec_id % 10 == 5) arrives later and folds into
    the read-back release-1 artifact at INCREMENT cost
    (`merge_embedding_index` — release 1 contributes only its stored
    (id, vector, norm) rows, never re-normalizing); the merged index
    publishes WRITE-ONCE as the release-2 artifact
    (`publish_embedding_index`, dim provenance checked, data before
    meta); and the training split probes the published artifact
    through `embedding_contamination_incremental`. By the merged ≡
    rebuilt identity (pinned in tests/test_extensions.py), the result
    is bit-identical to x85's single-derivation contamination over
    the union eval set — so the oracle BINDS x85's string below: the
    artifact lifecycle is an implementation detail the oracle cannot
    (and must not) see (the b25/b26 stance).

    Scale shape: release N+1 pays one cast+norm pass over its own
    vectors; the probe pays the training batch's pass + the pair
    table (exact tier — the oracle twin; x86's LSH tier is the
    100 TB candidate path). Stays out of BENCH like b25/b26 —
    artifact writers; x85 already times the probe shape."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 5 != 0)
    eval_r1 = emb.filter(F.col("vec_id") % 10 == 0)
    eval_r2 = emb.filter(F.col("vec_id") % 10 == 5)
    work = _scratch.fresh_dir("b27_embedding_release")
    p1 = os.path.join(work, "eval_emb_r1")
    similarity.write_embedding_index(eval_r1, p1, dim=64)
    idx1, built_dim = similarity.read_embedding_index(spark, p1)
    merged = similarity.merge_embedding_index(idx1, eval_r2, built_dim)
    p2 = os.path.join(work, "eval_emb_r2")
    similarity.publish_embedding_index(merged, p2, built_dim)
    idx2, dim2 = similarity.read_embedding_index(spark, p2)
    return similarity.embedding_contamination_incremental(
        idx2, train, threshold=0.4, built_dim=dim2
    )


@_q("b28_embedding_ann_release_lifecycle")
def b28_embedding_ann_release_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB probe shape of b27's lifecycle (r15): the frozen
    VECTOR artifact (b27) is joined by a frozen BUCKET artifact
    (`similarity.write_lsh_buckets` — the eval releases' hyperplane-
    LSH assignments materialized once, from the artifact's own stored
    vectors so the pair can never disagree; all four LSH parameters
    recorded as the artifact's identity), release 2 folds into BOTH
    at increment cost (`merge_embedding_index` /
    `merge_lsh_buckets`), both publish write-once, and the training
    split probes through
    `embedding_contamination_ann_incremental`: per probe the eval
    side is TWO PARQUET SCANS AND ZERO COMPUTE — no normalization, no
    bucketing, no matmul — while the training batch pays its own
    bucketing and candidates move as id rows through the
    (table, bucket) equality join.

    Rows-only by documented design (LSH bucketing is
    engine-specific, the x86 stance) with the evidence chain in
    tests/test_extensions.py: bit-for-bit identity with x86's inline
    ANN form at the same parameters (which itself carries the
    seam ≡ x85 + recall ≥ 0.9 + agreement evidence), merged ≡
    rebuilt at both artifact seams, and loud refusals at every
    width/params/corruption seam. Stays out of BENCH like b25–b27
    (artifact writers; x86 times the probe's candidate shape)."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 5 != 0)
    eval_r1 = emb.filter(F.col("vec_id") % 10 == 0)
    eval_r2 = emb.filter(F.col("vec_id") % 10 == 5)
    work = _scratch.fresh_dir("b28_embedding_ann_release")
    v1 = os.path.join(work, "vec_r1")
    similarity.write_embedding_index(eval_r1, v1, dim=64)
    idx1, built_dim = similarity.read_embedding_index(spark, v1)
    b1 = os.path.join(work, "bkt_r1")
    similarity.write_lsh_buckets(
        idx1, b1, built_dim, n_planes=4, n_tables=16, seed=42
    )
    bk1, params = similarity.read_lsh_buckets(spark, b1)
    # release 2 folds into BOTH artifacts at increment cost
    merged_v = similarity.merge_embedding_index(
        idx1, eval_r2, built_dim
    )
    v2 = os.path.join(work, "vec_r2")
    similarity.publish_embedding_index(merged_v, v2, built_dim)
    idx2, dim2 = similarity.read_embedding_index(spark, v2)
    r2_vecs = similarity._checked_unit_vectors(eval_r2, dim2)
    merged_b = similarity.merge_lsh_buckets(bk1, r2_vecs, params)
    b2 = os.path.join(work, "bkt_r2")
    similarity.publish_lsh_buckets(merged_b, b2, params)
    bk2, params2 = similarity.read_lsh_buckets(spark, b2)
    return similarity.embedding_contamination_ann_incremental(
        idx2, bk2, train, params2, threshold=0.4
    )


@_q("b29_bloom_index_release_lifecycle")
def b29_bloom_index_release_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BLOOM rung of the multi-release lifecycle (r15 — the
    persistence step the memory-bounded tier lacked; every other
    index in the family already freezes: window hashes b25/b26,
    vectors b27, buckets b28): eval release 1 (doc_id % 10 == 8)
    builds a window Bloom filter ONCE (`dedup.build_window_bloom`)
    and freezes it (`write_bloom_index` — chunked bitmap + an
    (m, j, n, k) meta sidecar, all four validated on read as the
    filter's identity); release 2 (doc_id % 10 == 9) folds into the
    READ-BACK artifact at increment cost (`merge_window_bloom` —
    bit positions are a pure function of (hash, m, j), so the merge
    is bit-identical to a filter built over the union at the same
    geometry; the filtered corpus never re-hashes); the merged
    filter publishes write-once as the NEXT frozen release
    (`publish_bloom_index` — bitmap before meta, crash-retry
    cleanup, the b26/b27 contract); and the training split flags
    through `bloom_contaminated_spans` against the published
    release.

    Rows-only by documented design (the x88 stance — bloom flags are
    conservative: ⊇ the exact x84 flags by construction, so no SQL
    oracle can bind them); evidence chain in tests/test_extensions.py:
    write/read roundtrip is tuple-identical, merged ≡
    rebuilt-at-geometry bit-for-bit, probe-through-artifact ≡
    probe-in-memory, and every width/geometry/corruption seam
    refuses loudly. Scale shape: the artifact is m/8 bytes total —
    ~1.2 bytes (≈9.6 bits) per reference window at 1% FPR — and a
    probe session loads it
    instead of re-hashing the eval corpus; driver traffic stays the
    IVF-centroid bounded class. Stays out of BENCH like b25–b28
    (artifact writers; x88 times the probe shape)."""
    import os
    import warnings as _warnings

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    eval_r1 = docs.filter(F.col("doc_id") % 10 == 8)
    eval_r2 = docs.filter(F.col("doc_id") % 10 == 9)
    work = _scratch.fresh_dir("b29_bloom_release")
    p1 = os.path.join(work, "bloom_r1")
    dedup.write_bloom_index(
        dedup.build_window_bloom(eval_r1, k=8), spark, p1
    )
    bloom1 = dedup.read_bloom_index(spark, p1, k=8)
    with _warnings.catch_warnings():
        # doubling the window count past the r1 sizing legitimately
        # warns (the rebuild-to-restore-FPR pointer) — the catalog
        # query IS the documented over-growth scenario
        _warnings.simplefilter("ignore", RuntimeWarning)
        merged = dedup.merge_window_bloom(
            bloom1, eval_r2, built_k=bloom1[4]
        )
    p2 = os.path.join(work, "bloom_r2")
    dedup.publish_bloom_index(merged, spark, p2)
    bloom2 = dedup.read_bloom_index(spark, p2)
    return dedup.bloom_contaminated_spans(
        bloom2, train, k=bloom2[4]
    ).orderBy("doc_id", "span_start")


# b26's landed result must equal x84's single-release scrub against
# the union (merged ≡ rebuilt) — bind the SAME oracle string so the
# identity can't silently stop being tested (the n21 convention).
from stock_market_etl_spark.catalog import extensions as _ext  # noqa: E402

ORACLES["b26_window_index_release_lifecycle"] = _ext.ORACLES[
    "x84_substring_decontamination"
]
# b27 likewise: probing the published two-release embedding artifact
# must equal x85's single derivation over the union eval set.
ORACLES["b27_embedding_index_release_lifecycle"] = _ext.ORACLES[
    "x85_embedding_contamination"
]
