"""SURVEY §2 E (aggregations) as named oracle-checked queries, plus the
zero-cost Spark superset representatives (cube / rollup / grouping sets
/ pivot / approx_count_distinct — SURVEY §2.E note).

All grouped aggregations get map-side partial aggregation from Catalyst
for free; sums over doubles are rounded on both sides to absorb
accumulation-order ULP drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from stock_market_etl_spark.catalog import registry
from stock_market_etl_spark.io import load_table

QUERIES, ORACLES, _q = registry()


@_q("e1_global_max_watermark", "SELECT max(ts) AS watermark FROM events")
def e1_global_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: global scalar aggregate — the high-watermark read
    (reference `scripts/ingest_hourly.py:48-53`)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.max("ts").alias("watermark"))


@_q(
    "e2_scalar_fn_agg",
    "SELECT CAST(EXTRACT(year FROM max(o_orderdate)) AS INT) AS latest_year FROM orders",
)
def e2_scalar_fn_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: scalar fn over scalar agg — EXTRACT(YEAR FROM MAX(date))
    (reference `scripts/transform.py:39-44`)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(F.year(F.max("o_orderdate")).alias("latest_year"))


@_q(
    "e3_grouped_max",
    "SELECT user_id, max(ts) AS latest_date FROM events GROUP BY user_id",
)
def e3_grouped_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: grouped max — per-key watermark table
    (reference `scripts/load_stock_metrics.py:40-49`)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(F.max("ts").alias("latest_date"))


@_q(
    "e4_grouped_last_max_by",
    """SELECT user_id,
              round(arg_max(value, ts), 6) AS final_value,
              max(ts) AS latest_ts
       FROM events GROUP BY user_id""",
)
def e4_grouped_last_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: grouped "last on ordered frame" (reference
    `scripts/app.py:54-66`). Spark's `last` is order-sensitive, so the
    deterministic `max_by` form is used (SURVEY §2.E4 note);
    (user_id, ts) is unique so ties cannot occur."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.max_by("value", "ts"), 6).alias("final_value"),
        F.max("ts").alias("latest_ts"),
    )


@_q(
    "e5_distinct_years",
    "SELECT DISTINCT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year FROM lineitem",
)
def e5_distinct_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: distinct years present in a batch
    (reference `scripts/ingest_backfill_raw.py:65`)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(F.year("l_shipdate").alias("ship_year")).distinct()


@_q(
    "e6_dedup_on_keys",
    """SELECT event_id, user_id, day, value FROM (
         SELECT event_id, user_id, CAST(ts AS DATE) AS day, value,
                row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id) AS rn
         FROM events)
       WHERE rn = 1""",
)
def e6_dedup_on_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: dedup on key subset (reference `unique(subset=["ticker","date"])`,
    `scripts/load_stock_metrics.py:88`). `dropDuplicates` keeps an
    arbitrary row; the engine's deterministic form keeps the first by
    (ts, event_id) via row_number — same semantics, reproducible."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    return (
        ev.select("event_id", "user_id", day, "value", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "day", "value")
    )


@_q(
    "e7_null_count_audit",
    """SELECT CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,
              CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ts,
              CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value
       FROM events""",
)
def e7_null_count_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: null-count audit per critical column — the quality gate's
    key-null check (reference `scripts/transform.py:104-109`)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
            for c in ("user_id", "ts", "value")
        ]
    )


@_q(
    "e8_distinct_list",
    "SELECT DISTINCT c_mktsegment AS segment FROM customer",
)
def e8_distinct_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: distinct values for UI filters
    (reference `scripts/app.py:136`)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(F.col("c_mktsegment").alias("segment")).distinct()


@_q(
    "e9_cube",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 6) AS sum_qty, count(*) AS n_rows
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def e9_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 (superset): CUBE over the classic returnflag/linestatus pair."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


@_q(
    "e10_rollup",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
              o_orderstatus,
              round(sum(o_totalprice), 4) AS total, count(*) AS n_orders
       FROM orders
       GROUP BY ROLLUP (CAST(EXTRACT(year FROM o_orderdate) AS INT), o_orderstatus)""",
)
def e10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 (superset): ROLLUP year → status hierarchy."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup(
        F.year("o_orderdate").alias("order_year"), "o_orderstatus"
    ).agg(
        F.round(F.sum("o_totalprice"), 4).alias("total"),
        F.count("*").alias("n_orders"),
    )


@_q(
    "e11_grouping_sets",
    """SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 4) AS revenue
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
)
def e11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 (superset): explicit GROUPING SETS via Spark SQL."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  round(sum(l_extendedprice), 4) AS revenue
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""
    )


@_q(
    "e12_pivot",
    """SELECT l_returnflag,
              round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 6) AS F,
              round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 6) AS O
       FROM lineitem GROUP BY l_returnflag""",
)
def e12_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 (superset): pivot — grouped agg spread across columns."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 6))
    )
    return piv


@_q("e13_approx_count_distinct")  # no oracle: HLL++ estimate is engine-specific
def e13_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 (superset): approx_count_distinct (HLL++). Estimates differ
    across engines, so no value oracle; the bounded-error gate vs the
    exact twin (e13b) is tests/test_catalog_oracle.py::
    test_approx_count_distinct_bounded_error, and e13b gives the
    operator row its hash-checked entry."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
    )


@_q(
    "e13b_exact_count_distinct",
    """SELECT count(DISTINCT l_orderkey) AS n_orders,
              count(DISTINCT l_partkey) AS n_parts
       FROM lineitem""",
)
def e13b_exact_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 exact twin: count(distinct) with a hash oracle — the ground
    truth e13's HLL++ sketch approximates (and the bounded-error gate's
    reference). At 100 TB the exact form is the expensive path (distinct
    expands before it contracts); e13 is the one-pass mergeable
    sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@_q(
    "e14_avg_min_max_count",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 6) AS sum_qty,
              round(sum(l_extendedprice), 4) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
              round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
              round(avg(l_quantity), 6) AS avg_qty,
              round(avg(l_extendedprice), 6) AS avg_price,
              round(avg(l_discount), 6) AS avg_disc,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2001-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def e14_avg_min_max_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 (superset, TPC-H Q1 shape): grouped multi-aggregate pricing
    summary — the engine's agg-heavy bench query."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias(
                "sum_charge"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "e15_percentiles",
    """SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
              round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
       FROM lineitem GROUP BY l_returnflag""",
)
def e15_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 (superset): exact interpolated percentiles per group.
    Spark's `percentile` and DuckDB's `quantile_cont` both linearly
    interpolate, so this hash-matches exactly — unlike
    `approx_percentile` (t-digest, engine-specific; the scale path for
    when a full sort-by-group is too expensive)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias(
            "p90_price"
        ),
    )


@_q("e16_approx_percentiles")
def e16_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 (superset): sketch-based percentiles per group — the scale
    path paired with e15's exact form, as x17 is to x16. Spark's
    `approx_percentile` (KLL/GK-style summary, `accuracy=10000`) gives
    bounded rank error with one partial-aggregable pass: at 100 TB the
    exact interpolated percentile needs the full value multiset per
    group (a sort-by-group), while the sketch merges map-side like any
    other agg. Engine-specific sketch → rows-only for the driver;
    bounded error vs e15 is asserted in tests/test_catalog_oracle.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)), 6
        ).alias("median_qty"),
        F.round(
            F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)),
            6,
        ).alias("p90_price"),
    )


# ---------------------------------------------------------------------------
# E superset: event-sequence analytics (funnel / cohort retention).
# The reference's dashboard aggregates per-symbol trends
# (scripts/app.py:31-97); these are the two sequence-grain aggregates a
# trading-events surface grows next ("how many users who viewed a symbol
# went on to trade it", "how long do signup cohorts stay active").

_FUNNEL_PREV = """PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"""


@_q(
    "e17_funnel_stages",
    f"""WITH s1 AS (
          SELECT user_id, ts, event_id, event_type,
                 min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER ({_FUNNEL_PREV}) AS rv
          FROM events
        ), s2 AS (
          SELECT user_id, ts, event_id, event_type, rv,
                 CASE WHEN event_type = 'click' AND rv IS NOT NULL
                      THEN ts END AS q2ts
          FROM s1
        ), s3 AS (
          SELECT user_id, event_type, rv,
                 min(q2ts) OVER ({_FUNNEL_PREV}) AS rq2
          FROM s2
        ), per_user AS (
          SELECT user_id,
                 max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1f,
                 max(CASE WHEN event_type = 'click' AND rv IS NOT NULL
                          THEN 1 ELSE 0 END) AS s2f,
                 max(CASE WHEN event_type = 'purchase' AND rq2 IS NOT NULL
                          THEN 1 ELSE 0 END) AS s3f
          FROM s3 GROUP BY user_id
        )
        SELECT CAST(sum(s1f) AS BIGINT) AS viewed,
               CAST(sum(s2f) AS BIGINT) AS clicked_after_view,
               CAST(sum(s3f) AS BIGINT) AS purchased_after_click
        FROM per_user""",
)
def e17_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E superset: strict ordered funnel (view → click → purchase).

    A user advances a stage only by an event that happens strictly
    AFTER some event completing the previous stage, so the classic
    per-stage self-join (events ⋈ events ⋈ events on user_id + ts
    ranges — quadratic per user) is replaced by running mins over the
    row-order frame `UNBOUNDED PRECEDING .. 1 PRECEDING`: `rv` = first
    view before this row, `rq2` = first view-qualified click before
    this row. Both window passes share one (partition, order) spec, so
    Catalyst plans ONE exchange + ONE sort with stacked Window nodes;
    the per-user flag agg reuses the same hash partitioning (no second
    exchange) and the final single-row sum is map-side partial. Total
    ordering is (ts, event_id) — event_id is unique, so "strictly
    before" is deterministic even under ts ties. At 100 TB: state per
    row is two running scalars; nothing buffers the partition."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s1 = ev.withColumn(
        "rv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wprev),
    )
    s2 = s1.withColumn(
        "q2ts",
        F.when(
            (F.col("event_type") == "click") & F.col("rv").isNotNull(),
            F.col("ts"),
        ),
    )
    s3 = s2.withColumn("rq2", F.min("q2ts").over(wprev))
    per_user = s3.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("s1f"),
        F.max(
            F.when(
                (F.col("event_type") == "click") & F.col("rv").isNotNull(), 1
            ).otherwise(0)
        ).alias("s2f"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("rq2").isNotNull(),
                1,
            ).otherwise(0)
        ).alias("s3f"),
    )
    return per_user.agg(
        F.sum("s1f").cast("long").alias("viewed"),
        F.sum("s2f").cast("long").alias("clicked_after_view"),
        F.sum("s3f").cast("long").alias("purchased_after_click"),
    )


@_q(
    "e18_retention_cohorts",
    """WITH per_user AS (
         SELECT user_id,
                min(CAST(ts AS DATE)) AS cohort_day,
                list(DISTINCT CAST(ts AS DATE)) AS days
         FROM events GROUP BY user_id
       )
       SELECT cohort_day,
              CAST(datediff('day', cohort_day, d.day) AS BIGINT)
                AS day_offset,
              CAST(count(*) AS BIGINT) AS active_users
       FROM per_user, unnest(days) AS d(day)
       GROUP BY 1, 2""",
)
def e18_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E superset: day-grain cohort retention — for each first-seen
    day (cohort), how many of its users were active N days later.

    One user-keyed aggregation carries BOTH the cohort assignment
    (min day) and the user's distinct active-day set, so the whole
    query costs two exchanges: by user_id (map-side combine folds each
    partition's days first) and the final tiny (cohort_day, offset)
    rollup. The collect_set state is bounded by the retention horizon
    (≤ #days in the observation window — 31 here), NOT by the user's
    event count, which is what makes this safe at 100 TB where the
    alternative distinct-(user, day) + join-back plan re-shuffles the
    fact table twice on different keys. count(*) (not count distinct)
    is exact because (user, day) pairs are unique after the set
    explode."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("cohort_day"),
        F.collect_set("day").alias("days"),
    )
    exploded = per_user.select(
        "cohort_day", F.explode("days").alias("day")
    )
    return exploded.groupBy(
        "cohort_day",
        F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
    ).agg(F.count("*").cast("long").alias("active_users"))


@_q(
    "e19_hourly_rollup_merge",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 6) AS sum_value,
              round(min(value), 6) AS min_value,
              round(max(value), 6) AS max_value
       FROM events GROUP BY 1, 2""",
)
def e19_hourly_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E superset: continuous-aggregate rollup — daily stats derived by
    MERGING hourly partial aggregates, never re-reading raw rows (the
    timescale/hypertable rollup pattern). count/sum/min/max are
    decomposable, so re-aggregating (sum of counts, sum of sums, min
    of mins, max of maxes) equals the direct daily aggregate — which
    is exactly what the oracle computes from raw events, making the
    merge step itself the thing under test.

    The 100 TB shape: at scale the hourly grain is a MATERIALIZED
    incremental table (refreshed per micro-batch or per partition
    load); daily/weekly/monthly reads then cost |hours| rows, not
    |events|. Inline, the plan is two exchanges — but only the FIRST
    carries event-derived rows (map-side-combined hourly partials);
    the second re-shuffles the hourly grain itself, |users|×|hours|
    rows regardless of event volume (plan-asserted in
    tests/test_plans.py)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "user_id"
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return hourly.groupBy(
        F.to_date("hour").alias("day"), "user_id"
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(F.sum("s"), 6).alias("sum_value"),
        F.round(F.min("mn"), 6).alias("min_value"),
        F.round(F.max("mx"), 6).alias("max_value"),
    )


@_q("e20_hll_sketch_rollup")  # no oracle: HLL estimates are engine-specific
def e20_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E superset: RE-AGGREGATABLE distinct counting — hourly HLL
    sketches (`hll_sketch_agg`) merged into daily distinct-user
    estimates (`hll_union_agg` → `hll_sketch_estimate`), the sketch
    analog of e19's rollup-from-partials. count(DISTINCT) cannot be
    re-aggregated from partial counts; sketches can — register-wise
    max is EXACTLY the sketch of the union, so a materialized hourly
    sketch table rolls up to any coarser grain without re-reading raw
    rows (the 100 TB distinct-counting pattern).

    Rows-only in the driver gate (estimates are engine-specific, same
    policy as e13/e16); the hard evidence is two-fold in
    tests/test_catalog_oracle.py: the merged-from-hourly estimate
    EQUALS the direct daily sketch estimate exactly (the merge
    property), and both sit within bounded error of the exact twin."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        hourly.groupBy(F.to_date("hour").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("approx_users")
        )
        .orderBy("day")
    )


@_q(
    "e21_market_beta",
    """WITH daily AS (
         SELECT user_id, CAST(ts AS DATE) AS day, avg(value) AS px
         FROM events GROUP BY user_id, CAST(ts AS DATE)),
       ret AS (
         SELECT user_id, day,
                px / lag(px) OVER (PARTITION BY user_id ORDER BY day) - 1
                  AS r
         FROM daily),
       ret2 AS (SELECT user_id, day, r FROM ret WHERE r IS NOT NULL),
       mkt AS (SELECT day, avg(r) AS rm FROM ret2 GROUP BY day)
       SELECT r.user_id,
              CAST(count(*) AS BIGINT) AS n_days,
              round(CASE WHEN var_pop(m.rm) > 0
                    THEN covar_pop(r.r, m.rm) / var_pop(m.rm) END, 6)
                AS beta,
              round(CASE WHEN var_pop(m.rm) > 0 AND var_pop(r.r) > 0
                    THEN corr(r.r, m.rm) END, 6) AS corr_mkt
       FROM ret2 r JOIN mkt m USING (day)
       GROUP BY r.user_id""",
)
def e21_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E superset: per-ticker market beta + correlation — the
    cross-sectional risk statistic a stock dashboard derives from the
    reference's per-ticker daily metrics (`scripts/transform.py:65-79`
    computes per-ticker returns; beta regresses them against the
    equal-weight market return). Daily price = avg(value) per
    (user, day); daily return = px/lag(px)−1; market return = the
    equal-weight cross-ticker mean (index INCLUDES the ticker itself,
    the classic index convention, same in the oracle); beta =
    covar_pop/var_pop, corr = Pearson — both NULL-guarded for
    zero-variance windows exactly as in the oracle SQL.

    Scale shape: the only event-volume exchange carries map-side
    partial (user, day) aggregates (Catalyst's partial HashAggregate
    — raw events never shuffle); everything downstream is
    |users|×|days| grain. The market frame is |days| rows, so its
    join broadcasts; covar/corr/var are single-pass JVM aggregates."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("px")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    ret = daily.select(
        "user_id",
        "day",
        (F.col("px") / F.lag("px").over(w) - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    mkt = ret.groupBy("day").agg(F.avg("r").alias("rm"))
    j = ret.join(F.broadcast(mkt), "day")
    var_rm = F.var_pop("rm")
    return j.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.when(var_rm > 0, F.covar_pop("r", "rm") / var_rm), 6
        ).alias("beta"),
        F.round(
            F.when((var_rm > 0) & (F.var_pop("r") > 0), F.corr("r", "rm")),
            6,
        ).alias("corr_mkt"),
    )
