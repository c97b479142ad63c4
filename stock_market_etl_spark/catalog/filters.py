"""SURVEY §2 C (projection/filter/predicate), I (scalar expressions) and
J (reshape) operators as named oracle-checked queries.

Reference citations are on each query. Filters and projections are
expressed declaratively so Catalyst pushes them into the parquet scan
(PushedFilters / ReadSchema — verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from stock_market_etl_spark.catalog import registry
from stock_market_etl_spark.io import load_table

QUERIES, ORACLES, _q = registry()


# --- C. projections / filters ------------------------------------------------


@_q(
    "c1_projection",
    "SELECT ts, user_id, value FROM events",
)
def c1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: column projection (reference `scripts/app.py:34-40` selects
    date, ticker, close...). Column-pruned at the scan."""
    return load_table(spark, sf_dir, "events").select("ts", "user_id", "value")


@_q(
    "c2_conjunctive_eq_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE EXTRACT(year FROM l_shipdate) = 1997 AND l_returnflag = 'R'""",
)
def c2_conjunctive_eq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: conjunctive equality filter — the reference's manual partition
    pruning (`scripts/ingest_backfill_raw.py:71-73`) expressed as a
    predicate Catalyst prunes with."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.year("l_shipdate") == 1997) & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@_q(
    "c3_inequality_filter",
    """SELECT event_id, ts, user_id, event_type, value, props FROM events
       WHERE CAST(ts AS DATE) <> DATE '2024-01-15'""",
)
def c3_inequality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: evict same-day rows, `date != today`
    (reference `scripts/ingest_hourly.py:129`)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.to_date("ts") != F.lit("2024-01-15"))


@_q(
    "c4_watermark_filter",
    """WITH wm AS (
         SELECT o_custkey AS wm_custkey, max(o_orderdate) AS latest_date
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
       )
       SELECT o_orderkey, o_custkey, o_orderdate, latest_date
       FROM orders LEFT JOIN wm ON o_custkey = wm_custkey
       WHERE latest_date IS NULL OR o_orderdate > latest_date""",
)
def c4_watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: null-tolerant watermark predicate after a left join
    (reference `scripts/load_stock_metrics.py:76-80`): keep rows strictly
    newer than the per-key watermark, or with no watermark at all."""
    orders = load_table(spark, sf_dir, "orders")
    wm = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("wm_custkey"))
        .agg(F.max("o_orderdate").alias("latest_date"))
    )
    return (
        orders.join(
            F.broadcast(wm), orders.o_custkey == wm.wm_custkey, "left"
        )
        .filter(
            F.col("latest_date").isNull()
            | (F.col("o_orderdate") > F.col("latest_date"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "latest_date")
    )


@_q(
    "c5_in_between_filter",
    """SELECT event_id, ts, user_id, event_type, value FROM events
       WHERE event_type IN ('purchase', 'signup')
         AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-20'""",
)
def c5_in_between_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: IN-list + BETWEEN range predicate
    (reference `scripts/app.py:36-38`)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("purchase", "signup")
        & F.col("ts").between("2024-01-05", "2024-01-20")
    ).select("event_id", "ts", "user_id", "event_type", "value")


@_q(
    "c6_single_eq_filter",
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'en'",
)
def c6_single_eq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: single-value equality selection (reference
    `scripts/app.py:69-70,139-142` sector/ticker filters)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("lang") == "en").select(
        "doc_id", "lang", "source", "n_chars"
    )


@_q(
    "c8_empty_guard",
    "SELECT event_id, value FROM events WHERE value < 0",
)
def c8_empty_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: empty-input short-circuit (reference `scripts/transform.py:63`)
    — a predicate with zero matches; engine paths must handle 0-row
    frames without error (pipeline uses df.isEmpty())."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("value") < 0).select("event_id", "value")


# --- I. scalar expressions ---------------------------------------------------


@_q(
    "i1_cast",
    """SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS quantity_int,
              CAST(l_linenumber AS DOUBLE) AS linenumber_dbl
       FROM lineitem""",
)
def i1_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: explicit casts (reference volume→Int64,
    `scripts/transform.py:58`)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("quantity_int"),
        F.col("l_linenumber").cast("double").alias("linenumber_dbl"),
    )


@_q(
    "i2_year_extract",
    """SELECT o_orderkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year
       FROM orders""",
)
def i2_year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: date-part extraction (reference `dt.year()`,
    `scripts/ingest_backfill_raw.py:65`)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", F.year("o_orderdate").alias("order_year")
    )


@_q(
    "i3_ingest_ts_stamp",
    """SELECT event_id, TIMESTAMP '2026-01-01 00:00:00' AS ingest_ts
       FROM events""",
)
def i3_ingest_ts_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: batch ingest timestamp stamped on every row (reference
    `scripts/ingest_hourly.py:68`). Parameterized, not
    current_timestamp(), for determinism — the pipeline passes `now`."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ingest_ts")
    )


@_q(
    "i4_null_fill",
    """SELECT event_id, coalesce(dr, 0.0) AS daily_return_filled FROM (
         SELECT event_id,
           round(value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1, 6) AS dr
         FROM events)""",
)
def i4_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: null coalesce/fill (reference fillna(0),
    `scripts/app.py:48`) applied to first-row-per-partition nulls."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dr = F.round(F.col("value") / F.lag("value", 1).over(w) - 1, 6)
    return ev.select(
        "event_id", F.coalesce(dr, F.lit(0.0)).alias("daily_return_filled")
    )


@_q(
    "i5_arithmetic_chain",
    """SELECT l_orderkey, l_linenumber,
              round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
       FROM lineitem""",
)
def i5_arithmetic_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: arithmetic expression chains (reference `scripts/app.py:49-72`)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax")),
            6,
        ).alias("charged"),
    )


@_q(
    "i6_string_normalize",
    """SELECT p_partkey, replace(trim(p_name), ' ', '-') AS norm_name
       FROM part""",
)
def i6_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: string normalization — the reference's ticker
    `replace('.', '-')` + strip (`scripts/config.py:24-27`)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_replace(F.trim(F.col("p_name")), " ", "-").alias("norm_name"),
    )


@_q(
    "i7_rename_all_columns",
    """SELECT r_regionkey AS R_REGIONKEY, r_name AS R_NAME FROM region""",
)
def i7_rename_all_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7: rename-all (reference lowercases every yfinance column,
    `scripts/ingest_hourly.py:64`) — here uppercased to exercise it."""
    region = load_table(spark, sf_dir, "region")
    return region.toDF(*[c.upper() for c in region.columns])


@_q(
    "i8_timezone_convert",
    """SELECT event_id,
              ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS ts_eastern,
              strftime(ts, '%Y-%m-%d %H:%M') AS ts_display
       FROM events""",
)
def i8_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: timezone conversion + display format (reference UTC →
    US/Eastern, `scripts/app.py:212-214`, `scripts/config.py:46`)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_utc_timestamp("ts", "America/New_York").alias("ts_eastern"),
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("ts_display"),
    )


@_q(
    "i9_conditional_format",
    """SELECT event_id,
              CASE WHEN dr > 0 THEN 'UP'
                   WHEN dr < 0 THEN 'DOWN'
                   ELSE 'FLAT' END AS direction
       FROM (
         SELECT event_id,
           round(value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1, 6) AS dr
         FROM events)""",
)
def i9_conditional_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I9: conditional sign formatting (reference ⬆/⬇/— arrows,
    `scripts/app.py:121-124`) — natively with when/otherwise, no UDF."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dr = F.round(F.col("value") / F.lag("value", 1).over(w) - 1, 6)
    return ev.select(
        "event_id",
        F.when(dr > 0, "UP").when(dr < 0, "DOWN").otherwise("FLAT").alias("direction"),
    )


# --- J. reshape --------------------------------------------------------------


@_q(
    "j1_unpivot",
    """SELECT l_orderkey, l_linenumber, metric, val
       FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount FROM lineitem)
             ON l_quantity, l_extendedprice, l_discount
             INTO NAME metric VALUE val)""",
)
def j1_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: wide→long unpivot (reference stacks yfinance's
    (field × ticker) wide frame, `scripts/ingest_backfill_raw.py:41-42`)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )


@_q(
    "j2_rename_columns",
    """SELECT o_orderkey AS order_key, o_orderdate AS order_date,
              o_totalprice AS total_price
       FROM orders""",
)
def j2_rename_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: column renames (reference rename_axis/reset_index,
    `scripts/ingest_backfill_raw.py:41`)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_orderdate", "o_totalprice").withColumnsRenamed(
        {
            "o_orderkey": "order_key",
            "o_orderdate": "order_date",
            "o_totalprice": "total_price",
        }
    )


@_q(
    "c7_filter_on_window_result",
    """SELECT user_id, ts, event_id, rn FROM (
         SELECT user_id, ts, event_id,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       WHERE rn <= 3""",
)
def c7_filter_on_window_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: predicate over a window result — ``WHERE row_num <= k`` after
    a ranking window (reference latest-row CTE `scripts/app.py:89-91`;
    generalized to k=3 so the filter keeps, not just picks, rows)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@_q(
    "g2_presentation_sort",
    """SELECT ts, user_id, event_type, round(value, 6) AS value
       FROM events ORDER BY ts, user_id""",
)
def g2_presentation_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: presentation ORDER BY (reference `scripts/app.py:39,92`) — a
    global range-partitioned sort; the driver's hash check is
    order-insensitive but the sort node is the point."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "ts", "user_id", "event_type", F.round("value", 6).alias("value")
    ).orderBy("ts", "user_id")


@_q(
    "i10_json_extract",
    """SELECT event_id,
              CAST(json_extract(props, '$.k') AS BIGINT) AS k,
              CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket
       FROM events""",
)
def i10_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I10 (superset): semi-structured payload extraction — the events
    ``props`` JSON column parsed with a declared schema (from_json stays
    JVM-side/codegen'd; the FIXTURES.md 'JSON-ish payload' exercise)."""
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(
        "props", T.StructType([T.StructField("k", T.LongType())])
    )
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k"),
        (parsed.getField("k") % 10).alias("k_bucket"),
    )


@_q(
    "i11_map_entries",
    """SELECT k AS key, count(*) AS n_entries,
              CAST(sum(CAST(json_extract(e.props, '$.' || k) AS INT))
                   AS BIGINT) AS sum_value
       FROM events e, unnest(json_keys(e.props)) AS t(k)
       GROUP BY 1""",
)
def i11_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I (superset): MapType surface — semi-structured props parsed to
    map<string,int>, exploded to (key, value) entries, aggregated per
    key. The map-column idiom for sparse/ragged attributes at scale
    (schema stays fixed while keys vary per row); the only nested type
    the reference lacks entirely."""
    ev = load_table(spark, sf_dir, "events")
    entries = ev.select(
        F.explode(F.from_json("props", "map<string,int>")).alias(
            "key", "value"
        )
    )
    return entries.groupBy("key").agg(
        F.count("*").alias("n_entries"),
        F.sum("value").cast("long").alias("sum_value"),
    )
