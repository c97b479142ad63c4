"""SURVEY §2 D (joins) + H (set ops) as named oracle-checked queries.

Broadcast hints are applied where the reference's cardinalities imply a
small build side (≤503-row dims / per-key watermark tables) — at 100 TB
the fact side never shuffles for these joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from stock_market_etl_spark.catalog import registry
from stock_market_etl_spark.io import load_table
from stock_market_etl_spark.operators import skew
from stock_market_etl_spark.operators.asof import (
    asof_join,
    asof_join_directional,
    interpolation_join,
)
from stock_market_etl_spark.operators.range_join import binned_range_join

QUERIES, ORACLES, _q = registry()


@_q(
    "d1_broadcast_left_join",
    """WITH wm AS (
         SELECT user_id AS wm_user, max(ts) AS latest_signup
         FROM events WHERE event_type = 'signup' GROUP BY user_id
       )
       SELECT event_id, user_id, ts, latest_signup
       FROM events LEFT JOIN wm ON user_id = wm_user""",
)
def d1_broadcast_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: left equi-join with a small broadcast build side — fact ⟕
    per-key watermark table (reference `scripts/load_stock_metrics.py:77`,
    ≤503-row build side → broadcast hash join, fact side never moves)."""
    ev = load_table(spark, sf_dir, "events")
    wm = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").alias("wm_user"))
        .agg(F.max("ts").alias("latest_signup"))
    )
    return ev.join(F.broadcast(wm), ev.user_id == wm.wm_user, "left").select(
        "event_id", "user_id", "ts", "latest_signup"
    )


@_q(
    "d2_dim_fact_inner_join",
    """SELECT c_custkey, c_name, n_name, r_name
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey""",
)
def d2_dim_fact_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: dim ⋈ fact inner equi-join (reference sp500_companies ⋈
    stock_metrics, `scripts/app.py:85-86`); both dims broadcast."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@_q(
    "d3_self_join_time_align",
    """WITH a AS (
         SELECT CAST(ts AS DATE) AS day, round(avg(value), 6) AS base_value
         FROM events WHERE user_id = 1 GROUP BY 1
       ), b AS (
         SELECT CAST(ts AS DATE) AS day, round(avg(value), 6) AS comp_value
         FROM events WHERE user_id = 2 GROUP BY 1
       )
       SELECT a.day AS day, base_value, comp_value,
              round(100 * (base_value - comp_value), 6) AS rel_diff
       FROM a JOIN b ON a.day = b.day""",
)
def d3_self_join_time_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: self-join on the time axis aligning two series (reference
    base-vs-comparison ticker merge on date, `scripts/app.py:68-73`)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "user_id"
    ).agg(F.round(F.avg("value"), 6).alias("avg_value"))
    a = daily.filter(F.col("user_id") == 1).select(
        "day", F.col("avg_value").alias("base_value")
    )
    b = daily.filter(F.col("user_id") == 2).select(
        F.col("day").alias("day_b"), F.col("avg_value").alias("comp_value")
    )
    return a.join(b, a.day == b.day_b).select(
        "day",
        "base_value",
        "comp_value",
        F.round(100 * (F.col("base_value") - F.col("comp_value")), 6).alias(
            "rel_diff"
        ),
    )


@_q(
    "d4_left_anti_join",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
       WHERE NOT EXISTS (
         SELECT 1 FROM lineitem
         WHERE l_orderkey = o.o_orderkey AND l_quantity >= 45
       )""",
)
def d4_left_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: left-anti join — the direct form of the reference's
    "rows not already loaded" pattern (`scripts/load_stock_metrics.py:76-80`,
    SURVEY L2/L3): orders with no high-quantity lineitem."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@_q(
    "d5_left_semi_join",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
       WHERE EXISTS (
         SELECT 1 FROM lineitem
         WHERE l_orderkey = o.o_orderkey AND l_quantity >= 45
       )""",
)
def d5_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (superset): left-semi join, the dual of D4 (SURVEY §2.D note)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@_q(
    "d6_cross_join",
    """SELECT r_name, n_name FROM region CROSS JOIN nation""",
)
def d6_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 (superset): cross join over two tiny dims."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@_q(
    "d7_full_outer_join",
    """WITH s AS (
         SELECT s_nationkey AS nk, count(*) AS n_suppliers
         FROM supplier GROUP BY s_nationkey
       ), c AS (
         SELECT c_nationkey AS nk, count(*) AS n_customers
         FROM customer GROUP BY c_nationkey
       )
       SELECT coalesce(s.nk, c.nk) AS nationkey, n_suppliers, n_customers
       FROM s FULL OUTER JOIN c ON s.nk = c.nk""",
)
def d7_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 (superset): full outer join of per-nation supplier and
    customer counts (each side missing some nations)."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    s = supplier.groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count("*").alias("n_suppliers")
    )
    c = customer.groupBy(F.col("c_nationkey").alias("nk_c")).agg(
        F.count("*").alias("n_customers")
    )
    return s.join(c, s.nk_s == c.nk_c, "full_outer").select(
        F.coalesce("nk_s", "nk_c").alias("nationkey"),
        "n_suppliers",
        "n_customers",
    )


@_q(
    "d8_asof_join",
    """SELECT p.event_id, p.user_id, p.ts, p.value,
              s.ts AS ts_right, s.value AS value_right
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
         ON p.user_id = s.user_id AND p.ts >= s.ts""",
)
def d8_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 (custom operator): as-of join — each purchase matched to the
    user's most recent signup at-or-before it. Spark lacks a native
    as-of join; implemented as union + last-non-null window
    (operators/asof.py), one shuffle, no UDFs."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    return asof_join(left, right, on="ts", key="user_id")


# --- H. set operations -------------------------------------------------------


@_q(
    "h1_union_all",
    """SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'
       UNION ALL
       SELECT event_id, user_id, event_type FROM events WHERE event_type = 'view'""",
)
def h1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: vertical concat / UNION ALL by column name (reference
    `pl.concat`, `scripts/ingest_hourly.py:130`)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    return clicks.unionByName(views)


@_q(
    "h2_intersect",
    """SELECT user_id FROM events WHERE event_type = 'purchase'
       INTERSECT
       SELECT user_id FROM events WHERE event_type = 'error'""",
)
def h2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 (superset): INTERSECT — users with both purchases and errors."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@_q(
    "h3_except",
    """SELECT DISTINCT o_custkey FROM orders
       EXCEPT
       SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def h3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 (superset): EXCEPT — customers with orders but none finished."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_custkey").distinct()
    b = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
    )
    return a.exceptAll(b)


@_q(
    "d9_star_join_revenue",
    """SELECT n_name, r_name,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
              count(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE o_orderstatus <> 'F'
       GROUP BY n_name, r_name""",
)
def d9_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 (superset, TPC-H Q5 shape): the join-heavy bench query —
    revenue by nation/region over the full star schema.

    Scale plan: lineitem⋈orders is the only shuffle join (both sides
    large, co-partitioned on the order key); customer/nation/region are
    broadcast so the fact side moves at most once. Aggregation is
    partial (map-side) before the final group shuffle on the tiny
    (nation, region) key space.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "F"
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum(revenue), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_q(
    "d10_range_join_pairs",
    """SELECT a.event_id AS id_a, b.event_id AS id_b,
              round((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0, 6) AS dt_s
       FROM events a JOIN events b
         ON a.event_id < b.event_id
        AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 30 * 1000000""",
)
def d10_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 (superset): range/interval self-join — all event pairs within
    30 s of each other. The reference has no range joins (SURVEY §2.D
    note); the oracle is the naive inequality join DuckDB can afford at
    sf0.01, while the engine runs `binned_range_join` — bin-equality
    shuffle join, never a cartesian (asserted in tests/test_plans.py)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(F.col("event_id").alias("id_a"), F.col("ts").alias("ts_a"))
    b = ev.select(F.col("event_id").alias("id_b"), F.col("ts").alias("ts_b"))
    dt_s = (F.unix_micros("ts_b") - F.unix_micros("ts_a")) / F.lit(1000000.0)
    return (
        binned_range_join(a, b, "ts_a", "ts_b", 30.0)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dt_s, 6).alias("dt_s"))
    )


_D11_SESS_SQL = """
         SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
                min(ts) AS sess_start, max(ts) AS sess_end
         FROM (
           SELECT user_id, ts, event_id,
                  sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS sess_id
           FROM (
             SELECT user_id, ts, event_id,
                    CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS new_sess
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           )
         ) GROUP BY user_id, sess_id
"""


@_q(
    "d11_interval_overlap_pairs",
    f"""WITH sess AS ({_D11_SESS_SQL})
        SELECT a.user_id AS a_user_id, a.sess_id AS a_sess_id,
               b.user_id AS b_user_id, b.sess_id AS b_sess_id,
               date_diff('microseconds',
                         greatest(a.sess_start, b.sess_start),
                         least(a.sess_end, b.sess_end)) AS overlap_us
        FROM sess a JOIN sess b
          ON (a.user_id * 1000000 + a.sess_id)
             < (b.user_id * 1000000 + b.sess_id)
         AND a.sess_start <= b.sess_end AND b.sess_start <= a.sess_end""",
)
def d11_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 (superset): interval-overlap self-join — all pairs of
    concurrent user sessions (f8's gaps-and-islands intervals; same-
    user sessions are disjoint by construction, so every pair is
    cross-user concurrency). The oracle is the naive inequality join
    DuckDB can afford at sf0.01; the engine runs
    `interval_overlap_pairs` — intervals exploded onto 1-hour time
    bins, bin-equality shuffle join, anchor-bin dedup (each pair
    emitted only in the bin of the LATER start) — never a cartesian,
    asserted in tests/test_plans.py."""
    from stock_market_etl_spark.catalog.windows import f8_sessionize
    from stock_market_etl_spark.operators.range_join import (
        interval_overlap_pairs,
    )

    sess = f8_sessionize(spark, sf_dir).select(
        "user_id",
        "sess_id",
        "sess_start",
        "sess_end",
        (F.col("user_id") * 1_000_000 + F.col("sess_id")).alias("iv_id"),
    )
    out = interval_overlap_pairs(
        sess, "iv_id", "sess_start", "sess_end", bin_s=3600.0
    )
    return out.select(
        "a_user_id",
        "a_sess_id",
        "b_user_id",
        "b_sess_id",
        "overlap_us",
    )


@_q(
    "d12_asof_forward_tolerance",
    """WITH l AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'view'),
         r AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         j AS (SELECT l.event_id, l.user_id, l.ts,
                      r.ts AS rts, r.value AS rv
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts <= r.ts)
       SELECT event_id, user_id, ts,
              CASE WHEN rts - ts <= INTERVAL 3 DAY THEN rts END
                AS ts_right,
              round(CASE WHEN rts - ts <= INTERVAL 3 DAY THEN rv END, 6)
                AS value_right
       FROM j""",
)
def d12_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D superset (custom operator): FORWARD as-of join with a
    tolerance — each view matched to the user's next purchase, but
    only within 3 days (the time-to-conversion attachment; e17 counts
    conversions, d12 dates them). pandas merge_asof(direction=
    'forward', tolerance=...) parity via asof_join_directional
    (operators/asof.py): same union + ignore-nulls-window form as d8
    with the sort reversed — one shuffle on user_id, no range join,
    no Python. The oracle is DuckDB's native ASOF with the
    inequality flipped plus an interval guard."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join_directional(
        left,
        right,
        on="ts",
        key="user_id",
        direction="forward",
        tolerance=3 * 24 * 3600.0,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "ts_right",
        F.round("value_right", 6).alias("value_right"),
    )


@_q(
    "d13_asof_nearest",
    """WITH l AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'view'),
         r AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         b AS (SELECT l.event_id, r.ts AS bts, r.value AS bv
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts >= r.ts),
         f AS (SELECT l.event_id, r.ts AS fts, r.value AS fv
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts <= r.ts)
       SELECT l.event_id, l.user_id, l.ts,
              CASE WHEN bts IS NOT NULL
                        AND (fts IS NULL OR l.ts - bts <= fts - l.ts)
                   THEN bts ELSE fts END AS ts_right,
              round(CASE WHEN bts IS NOT NULL
                              AND (fts IS NULL OR l.ts - bts <= fts - l.ts)
                         THEN bv ELSE fv END, 6) AS value_right
       FROM l
       LEFT JOIN b ON l.event_id = b.event_id
       LEFT JOIN f ON l.event_id = f.event_id""",
)
def d13_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D superset (custom operator): NEAREST as-of join — each view
    matched to the user's temporally closest purchase on either side,
    exact ties resolving backward (documented; pandas leaves it
    unspecified). Both direction passes share ONE user_id exchange
    (opposite sort orders → two sorts, one partitioning —
    plan-asserted); the oracle composes DuckDB's two native ASOF
    directions with the same tie rule."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join_directional(
        left, right, on="ts", key="user_id", direction="nearest"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "ts_right",
        F.round("value_right", 6).alias("value_right"),
    )


@_q(
    "d14_salted_join",
    """WITH profile AS (
         SELECT user_id, round(avg(value), 6) AS user_avg
         FROM events GROUP BY user_id)
       SELECT e.event_id, e.user_id,
              round(e.value - p.user_avg, 6) AS dev_from_avg
       FROM events e JOIN profile p USING (user_id)""",
)
def d14_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D superset: SALTED join (operators/skew.py salted_join) — the
    manual skew-mitigation move for a heavy fact ⋈ per-key profile
    join where the profile is too large to broadcast and one key
    dominates the fact: the fact side spreads each key over 8 salt
    sub-keys, the profile replicates per salt, and no reducer ever
    sees a hot key's full row set. The oracle is the PLAIN join —
    salting must be row-identical to it by construction (it changes
    where rows meet, never which rows match); the salt fan-out and
    two-key shuffle join are plan-asserted."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    profile = ev.groupBy("user_id").agg(
        F.round(F.avg("value"), 6).alias("user_avg")
    )
    joined = skew.salted_join(ev, profile, on="user_id", n_salts=8)
    return joined.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.col("user_avg"), 6).alias("dev_from_avg"),
    )


@_q(
    "d15_interpolation_join",
    """WITH l AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'view'),
         r AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         b AS (SELECT l.event_id, r.ts AS bts, r.value AS bv
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts >= r.ts),
         f AS (SELECT l.event_id, r.ts AS fts, r.value AS fv
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts <= r.ts)
       SELECT l.event_id, l.user_id, l.ts,
              bts AS ts_prev, fts AS ts_next,
              round(CASE WHEN bts IS NOT NULL AND fts IS NOT NULL THEN
                      CASE WHEN bts = fts THEN bv
                           ELSE bv + (fv - bv)
                                * (CAST(epoch_us(l.ts) - epoch_us(bts)
                                        AS DOUBLE)
                                   / CAST(epoch_us(fts) - epoch_us(bts)
                                          AS DOUBLE)) END
                    END, 6) AS value_interp
       FROM l
       LEFT JOIN b ON l.event_id = b.event_id
       LEFT JOIN f ON l.event_id = f.event_id""",
)
def d15_interpolation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D superset (custom operator): linear time-INTERPOLATION join
    (operators/asof.py interpolation_join) — each view gets the user's
    purchase value linearly interpolated at the view timestamp from
    the bracketing purchases (exact hit wins as-is; no extrapolation
    past either series end — strict interior rule, both mirrored by
    the oracle). The series-alignment step for joining irregular tick
    series onto a reference clock — d8/d12/d13 attach the matched
    ROW, d15 blends the matched VALUE. Same one-exchange two-sort
    shape as d13 (plan-asserted); the blend ratio runs on exact int64
    unix_micros so both engines compute the identical IEEE double.
    The oracle composes DuckDB's two native ASOF directions with the
    same blend arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = interpolation_join(
        left, right, on="ts", key="user_id", value_col="value"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "ts_prev",
        "ts_next",
        F.round("value_interp", 6).alias("value_interp"),
    )


@_q(
    "h4_union_by_name",
    """SELECT event_id, user_id, value, event_type FROM (
         SELECT event_id, user_id, value,
                CAST(NULL AS VARCHAR) AS event_type
         FROM events WHERE event_type = 'purchase'
         UNION ALL BY NAME
         SELECT event_type, user_id, event_id,
                CAST(value AS DOUBLE) AS value
         FROM events WHERE event_type = 'error')""",
)
def h4_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H superset: schema-drift union — unionByName with
    allowMissingColumns, the append that survives two producers
    emitting the same logical table with different column ORDER and a
    column one side doesn't have yet (the b9 schema-evolution story
    at the DataFrame level: positional unionAll would silently pair
    event_id with event_type here). The missing column null-fills;
    the oracle replays it with DuckDB's UNION ALL BY NAME."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    b = ev.filter(F.col("event_type") == "error").select(
        "event_type", "user_id", "event_id", "value"
    )
    return a.unionByName(b, allowMissingColumns=True).select(
        "event_id", "user_id", "value", "event_type"
    )


@_q(
    "d16_point_in_time_join",
    """WITH v AS (
         SELECT user_id, ts AS valid_from, value AS tier,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  AS valid_to
         FROM events WHERE event_type = 'signup'),
       p AS (SELECT event_id, user_id, ts FROM events
             WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id, p.ts,
              v.valid_from AS version_start,
              round(v.tier, 6) AS tier
       FROM p LEFT JOIN v
         ON p.user_id = v.user_id
        AND p.ts >= v.valid_from
        AND (v.valid_to IS NULL OR p.ts < v.valid_to)""",
)
def d16_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D superset: POINT-IN-TIME join — each fact row joined to the
    dimension VERSION that was valid at the fact's own timestamp (the
    feature-store / training-data correctness join: label rows must
    see attribute values as-of label time, never future leakage;
    l5's SCD2 merge WRITES such versions, d16 READS against them).
    Versions here derive from signup events (valid_from = signup ts,
    attribute = its value, half-open until the next signup). The
    scale-correct implementation is the as-of join on valid_from —
    version intervals are half-open and contiguous per key by
    construction, so "valid at ts" ≡ "latest version with
    valid_from <= ts" and the whole PIT join costs asof_join's ONE
    key exchange (no range join, no interval explode); the oracle is
    the naive interval LEFT range join with an explicit lead()
    valid_to, which must agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    versions = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("tier")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, versions, on="ts", key="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("version_start"),
        F.round("tier_right", 6).alias("tier"),
    )
