"""SURVEY §2 F (window functions) + G (sorts/limits/top-k) as named
oracle-checked queries.

All windows partition on the series key, so each query costs exactly one
hash shuffle; top-k compiles to TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from stock_market_etl_spark.catalog import registry
from stock_market_etl_spark.io import load_table
from stock_market_etl_spark.operators.windows import latest_row_per_key

QUERIES, ORACLES, _q = registry()


# shared: per-user daily_return over events (F1, the reference's
# pct_change at scripts/transform.py:67-70)
def _with_daily_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value", 1).over(w)
    return ev.withColumn("daily_return", (F.col("value") - prev) / prev)


_DR_SQL = """
  SELECT event_id, ts, user_id, value,
    (value - lag(value) OVER w) / lag(value) OVER w AS daily_return
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@_q(
    "f1_lag_pct_change",
    f"""SELECT event_id, user_id, round(daily_return, 6) AS daily_return
        FROM ({_DR_SQL})""",
)
def f1_lag_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: lag-based % change per partition, null on first row
    (reference `scripts/transform.py:67-70`)."""
    return _with_daily_return(spark, sf_dir).select(
        "event_id", "user_id", F.round("daily_return", 6).alias("daily_return")
    )


@_q(
    "f3_cumulative_return",
    f"""SELECT event_id, user_id,
         round(exp(sum(ln(1 + coalesce(daily_return, 0))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS cumulative_return
        FROM ({_DR_SQL})""",
)
def f3_cumulative_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: cumulative product per partition — the growth curve
    (reference cumprod, `scripts/app.py:46-52`). Implemented as
    exp(sum(log1p(r))) over a running frame, valid since every factor is
    positive (value > 0); DuckDB oracle uses its product() window."""
    df = _with_daily_return(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.exp(F.sum(F.log1p(F.coalesce("daily_return", F.lit(0.0)))).over(w))
    return df.select(
        "event_id", "user_id", F.round(cum, 6).alias("cumulative_return")
    )


@_q(
    "f4_latest_row_per_key",
    """SELECT event_id, user_id, ts, value FROM (
         SELECT event_id, user_id, ts, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       WHERE rn = 1""",
)
def f4_latest_row_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+C7: latest row per key via descending row_number
    (reference latest-per-ticker CTE, `scripts/app.py:78-92`)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@_q(
    "f5_scale_by_scalar",
    f"""SELECT event_id, user_id,
         round(10000 * exp(sum(ln(1 + coalesce(daily_return, 0))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) AS abs_return
        FROM ({_DR_SQL})""",
)
def f5_scale_by_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: scale window result by a scalar — investment value curve
    (reference `abs_return = init_investment * cumulative_return`,
    `scripts/app.py:51`)."""
    df = _with_daily_return(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.exp(F.sum(F.log1p(F.coalesce("daily_return", F.lit(0.0)))).over(w))
    return df.select(
        "event_id", "user_id", F.round(10000 * cum, 4).alias("abs_return")
    )


@_q(
    "f6_rank_functions",
    """SELECT event_id, user_id,
              rank() OVER w AS rnk,
              dense_rank() OVER w AS drnk,
              ntile(4) OVER w AS quartile,
              round(percent_rank() OVER w, 6) AS pct_rank
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)""",
)
def f6_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (superset): rank family over per-key value ordering."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@_q(
    "f7_range_frame",
    """SELECT event_id, user_id,
              round(sum(value) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS sum_1h
       FROM events""",
)
def f7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (superset): RANGE frame — trailing 1-hour sum per key, a
    time-based frame the reference's row-count windows cannot express
    (SURVEY §2.F note: rangeBetween comes free)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("sum_1h"),
    )


# --- G. sorts / top-k --------------------------------------------------------


@_q(
    "g1_multikey_sort",
    """SELECT user_id, ts, event_id, value FROM events
       ORDER BY user_id, ts, event_id""",
)
def g1_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G2: multi-key sort (reference `sort(["ticker","date"])`,
    `scripts/transform.py:67`). The oracle hash is order-insensitive;
    determinism is guaranteed by the unique key suffix."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "ts", "event_id", "value").orderBy(
        "user_id", "ts", "event_id"
    )


@_q(
    "g3_top_k",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def g3_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: top-k (reference top gainers, `scripts/app.py:144-148`).
    Catalyst compiles sort+limit to TakeOrderedAndProject — per-partition
    heaps, no global sort (verified in tests/test_plans.py)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@_q(
    "g4_bottom_k",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice ASC, o_orderkey LIMIT 10""",
)
def g4_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 (losers side): bottom-k ascending (reference
    `scripts/app.py:148`)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").asc(), "o_orderkey")
        .limit(10)
    )


@_q(
    "f8_sessionize",
    """WITH flagged AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), numbered AS (
         SELECT user_id, ts, event_id, value,
                sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS sess_id
         FROM flagged
       )
       SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
              min(ts) AS sess_start, max(ts) AS sess_end,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 6) AS sum_value
       FROM numbered GROUP BY user_id, sess_id""",
)
def f8_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: batch sessionization (gaps-and-islands) — sessions
    close after 30 min of per-user inactivity; per-session start/end,
    event count and value sum. The batch-analytic twin of the
    streaming session window (n3, `session_window`) expressed as the
    classic two-window composition: the lag flag and its running sum
    share ONE partitioning (a single exchange of the event rows on
    user_id); the grouped stats then combine map-side, so the second
    exchange carries only session-grain partial rows, never the
    events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag("ts").over(w).isNull()
            | (gap > 30 * 60 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    numbered = flagged.withColumn(
        "sess_id", F.sum("new_sess").over(w).cast("long")
    )
    return numbered.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


@_q(
    "f9_rsi",
    f"""SELECT event_id, user_id,
          round(CASE WHEN cnt = 14 AND gain_sum + loss_sum <> 0
                THEN 100.0 * gain_sum / (gain_sum + loss_sum) END, 6) AS rsi_14
        FROM (
          SELECT event_id, user_id,
            sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER wr AS gain_sum,
            sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER wr AS loss_sum,
            count(diff) OVER wr AS cnt
          FROM (
            SELECT event_id, ts, user_id,
                   value - lag(value) OVER w AS diff
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))""",
)
def f9_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: 14-period RSI (Wilder's simple-average form) — the
    momentum oscillator a stock dashboard pairs with the reference's
    rolling volatility (`scripts/transform.py:71-79` is the same
    window shape). Written as 100·Σgain/(Σgain+Σloss), algebraically
    equal to 100−100/(1+RS) but with a single division whose
    denominator is zero only when all 14 diffs are zero (then NULL,
    guarded identically in the oracle — avoids the engines' different
    x/0 conventions). Rows with fewer than 14 preceding diffs are NULL
    (the F2 count-guard rule). Scale shape: both windows share the one
    (user_id) hash partitioning — a single exchange, like the
    flagship."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-13, 0)
    diff = F.col("value") - F.lag("value").over(w)
    d = ev.withColumn("diff", diff)
    gain_sum = F.sum(
        F.when(F.col("diff") > 0, F.col("diff")).otherwise(0.0)
    ).over(wr)
    loss_sum = F.sum(
        F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0.0)
    ).over(wr)
    cnt = F.count("diff").over(wr)
    rsi = F.when(
        (cnt == 14) & (gain_sum + loss_sum != 0),
        100.0 * gain_sum / (gain_sum + loss_sum),
    )
    return d.select("event_id", "user_id", F.round(rsi, 6).alias("rsi_14"))


#: finite 10-tap EMA kernel — identical double literals on BOTH sides
#: (generated once; same literal string ⇒ same IEEE double in Spark
#: and DuckDB, so the left-associative weighted sum rounds identically)
_EMA_WEIGHTS = (
    "1.0",
    "0.8181818181818181",
    "0.6694214876033057",
    "0.5477084898572501",
    "0.44812512806502275",
    "0.3666478320532004",
    "0.2999845898617094",
    "0.2454419371595804",
    "0.20081613040329305",
    "0.16430410669360337",
)
_EMA_NORM = "4.760631519878784"


@_q(
    "f10_ema",
    f"""SELECT event_id, user_id,
          round(({' + '.join(f'lag(value, {k}) OVER w * {wk}' for k, wk in enumerate(_EMA_WEIGHTS))})
                / {_EMA_NORM}, 6) AS ema_10
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def f10_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: exponentially weighted moving average with a finite
    10-tap kernel (span 10, α=2/11) — the EMA line of a crossover
    dashboard, truncated to 10 lags so it is EXACTLY expressible as a
    window expression in both engines (the infinite-memory recursive
    EMA is not; the dropped tail's weight is (1−α)^10 ≈ 13%, constant
    and documented). Rows with fewer than 10 preceding values are NULL
    (lag(value, 9) missing ⇒ the sum is NULL — same count-guard
    outcome as F2/f9, for free). Ten lags over ONE window spec compile
    to a single exchange + sort, the flagship's plan shape."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    for k, wk in enumerate(_EMA_WEIGHTS):
        term = F.lag("value", k).over(w) * float(wk)
        num = term if num is None else num + term
    ema = num / float(_EMA_NORM)
    return ev.select("event_id", "user_id", F.round(ema, 6).alias("ema_10"))


@_q(
    "f11_sliding_distinct",
    """SELECT event_id, user_id,
         CAST(count(DISTINCT event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS distinct_types_10
       FROM events""",
)
def f11_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: sliding distinct count — how many distinct event
    types each user produced over their last 10 events (an engagement-
    diversity signal; same shape as "distinct symbols traded in the
    last N fills"). Spark's window aggregates take no DISTINCT
    modifier, so the exact form is collect_list → array_distinct →
    size over the frame — correct because dedup-then-count is
    insensitive to the list's intra-frame order, and cheap because
    state is bounded by the FRAME (≤10 values/row), not the partition.
    For unbounded/range frames at 100 TB the same query swaps to an
    HLL sketch (e13's trade); the bounded-frame exact form needs no
    such trade. One exchange like every F query."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(wr)))
        .cast("long")
        .alias("distinct_types_10"),
    )


@_q(
    "f12_drawdown",
    """WITH d AS (
         SELECT event_id, user_id, ts,
                value / max(value) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                  AS dd
         FROM events)
       SELECT event_id, user_id,
              round(dd, 6) AS drawdown,
              round(min(dd) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                AS max_drawdown
       FROM d""",
)
def f12_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: drawdown — each row's distance below its running
    peak (value / running_max - 1, ≤ 0 by construction) and the
    running MAXIMUM drawdown so far (the standard risk statistic; the
    final row per key is the series' max drawdown). Two stacked
    passes over ONE (user_id, ts, event_id) window spec — the running
    peak feeds the ratio, a running min over the ratio tracks the
    worst — so Catalyst plans one exchange + one sort with stacked
    Window nodes, per-row state two scalars, nothing buffers the
    partition (the flagship's plan shape, plan-asserted with
    f9/f10/f11)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = F.col("value") / F.max("value").over(wr) - 1
    return ev.select(
        "event_id",
        "user_id",
        F.round(dd, 6).alias("drawdown"),
        F.round(F.min(dd).over(wr), 6).alias("max_drawdown"),
    )


@_q(
    "f13_bollinger",
    """SELECT event_id, user_id,
          round(CASE WHEN cnt = 20 THEN mid END, 6) AS band_mid,
          round(CASE WHEN cnt = 20 THEN mid + 2 * sd END, 6) AS band_up,
          round(CASE WHEN cnt = 20 THEN mid - 2 * sd END, 6) AS band_dn,
          round(CASE WHEN cnt = 20 AND sd <> 0
                THEN (value - (mid - 2 * sd)) / (4 * sd) END, 6) AS pct_b
        FROM (
          SELECT event_id, user_id, value,
            avg(value) OVER wr AS mid,
            stddev_samp(value) OVER wr AS sd,
            count(value) OVER wr AS cnt
          FROM events
          WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))""",
)
def f13_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: 20-period Bollinger bands + %B — the mean-reversion
    overlay a stock dashboard pairs with the reference's rolling
    volatility (`scripts/transform.py:71-79` computes the same rolling
    stddev; Bollinger is that stddev re-centered on the rolling mean).
    band = mean ± 2·stddev_samp over a 20-row frame; %B is the price's
    position inside the band, written as (value−lower)/(4·sd) — one
    division whose denominator is zero only for a constant window
    (then NULL, guarded identically in the oracle). Rows with fewer
    than 20 values in frame are NULL (the F2 count-guard rule).
    Scale shape: all four outputs come off ONE (user_id) window spec —
    a single hash exchange + sort with stacked aggregates, the
    flagship's plan shape (plan-asserted with f9–f12)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    mid = F.avg("value").over(wr)
    sd = F.stddev_samp("value").over(wr)
    cnt = F.count("value").over(wr)
    full = cnt == 20
    pct_b = (F.col("value") - (mid - 2 * sd)) / (4 * sd)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.when(full, mid), 6).alias("band_mid"),
        F.round(F.when(full, mid + 2 * sd), 6).alias("band_up"),
        F.round(F.when(full, mid - 2 * sd), 6).alias("band_dn"),
        F.round(F.when(full & (sd != 0), pct_b), 6).alias("pct_b"),
    )


@_q(
    "f14_vwap",
    """SELECT event_id, user_id,
          round(CASE WHEN cnt = 20 AND wsum <> 0
                THEN pv / wsum END, 6) AS vwap_20,
          round(CASE WHEN cnt = 20 AND wsum <> 0
                THEN value - pv / wsum END, 6) AS vwap_dev
        FROM (
          SELECT event_id, user_id, value,
            sum(value * w) OVER wr AS pv,
            sum(w) OVER wr AS wsum,
            count(w) OVER wr AS cnt
          FROM (
            SELECT event_id, ts, user_id, value,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS w
            FROM events)
          WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))""",
)
def f14_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: 20-period rolling VWAP — the execution-quality line
    of a trading dashboard (value ↔ price, the ``props`` JSON payload's
    ``k`` ↔ traded size; same FIXTURES.md mapping as i10). Composes the
    semi-structured extraction (from_json, JVM-side/codegen'd — never
    a Python JSON loop) with the flagship's window shape: Σ(p·v)/Σv
    and the price's deviation from it, over ONE (user_id) window spec.
    The weight sum is zero only when every size in frame is zero (then
    NULL, guarded identically in the oracle); rows with fewer than 20
    weights in frame are NULL (the F2 count-guard rule). Scale shape:
    parse happens inside the scan's codegen stage, then a single hash
    exchange + sort serves all three window aggregates (plan-asserted
    with f9–f13)."""
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "value",
        F.from_json("props", T.StructType([T.StructField("k", T.LongType())]))[
            "k"
        ].alias("w"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    pv = F.sum(F.col("value") * F.col("w")).over(wr)
    wsum = F.sum("w").over(wr)
    ok = (F.count("w").over(wr) == 20) & (wsum != 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.when(ok, pv / wsum), 6).alias("vwap_20"),
        F.round(F.when(ok, F.col("value") - pv / wsum), 6).alias("vwap_dev"),
    )


@_q(
    "f15_ohlc_resample",
    """SELECT CAST(ts AS DATE) AS bar_date, user_id,
              round(arg_min(value, ts), 6) AS open_px,
              round(max(value), 6) AS high_px,
              round(min(value), 6) AS low_px,
              round(arg_max(value, ts), 6) AS close_px,
              CAST(count(*) AS BIGINT) AS n_ticks
       FROM events GROUP BY 1, 2""",
)
def f15_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: OHLC time-bar resampling — the tick→bar downsample
    every market pipeline runs before charting or window analytics
    (the reference ingests hourly and charts daily;
    `scripts/ingest_hourly.py` ↔ `scripts/app.py`). Each (user, day)
    bar carries open (value at the bar's first tick), high, low,
    close (last tick) and tick count — first/last are ``min_by`` /
    ``max_by`` on the tick timestamp, deterministic because
    (user_id, ts) is unique in the fixture (FIXTURES.md; the oracle's
    arg_min/arg_max share the tie-freedom). Scale shape: ONE
    partial-aggregable groupBy — min_by/max_by/min/max/count all
    combine map-side, so the exchange carries only (user, day) bar
    partials, never ticks; at 100 TB the bar count is bounded by
    keys × days regardless of tick volume. The streaming twin n16
    drains the identical bars from a tumbling 1-day window
    (stream-batch parity by construction)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    return ev.groupBy(
        F.to_date("ts").alias("bar_date"), F.col("user_id")
    ).agg(
        F.round(F.min_by("value", "ts"), 6).alias("open_px"),
        F.round(F.max("value"), 6).alias("high_px"),
        F.round(F.min("value"), 6).alias("low_px"),
        F.round(F.max_by("value", "ts"), 6).alias("close_px"),
        F.count("*").cast("long").alias("n_ticks"),
    )


@_q(
    "f16_atr",
    """WITH bars AS (
         SELECT CAST(ts AS DATE) AS bar_date, user_id,
                max(value) AS high_px, min(value) AS low_px,
                arg_max(value, ts) AS close_px
         FROM events GROUP BY 1, 2),
       tr AS (
         SELECT bar_date, user_id,
           CASE WHEN lag(close_px) OVER w IS NULL
                THEN high_px - low_px
                ELSE greatest(high_px - low_px,
                              abs(high_px - lag(close_px) OVER w),
                              abs(low_px - lag(close_px) OVER w)) END
             AS true_range
         FROM bars
         WINDOW w AS (PARTITION BY user_id ORDER BY bar_date))
       SELECT bar_date, user_id,
              round(true_range, 6) AS true_range,
              round(CASE WHEN count(*) OVER wa = 14
                         THEN avg(true_range) OVER wa END, 6) AS atr_14
       FROM tr
       WINDOW wa AS (PARTITION BY user_id ORDER BY bar_date
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""",
)
def f16_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: Average True Range — the bar-grain volatility
    indicator (Wilder's TR: the largest of bar range and either gap
    from the prior close; ATR as its 14-bar rolling mean, NULL until
    the frame is full — the F2 count-guard rule). A composed CONSUMER
    of f15's resample: tick→bar agg, then two stacked window passes
    over the bars. TR/ATR run on UNROUNDED bar values (x45's rule —
    rounding the intermediate manufactures midpoints) and only the
    outputs round. Scale shape: the tick-grain exchange is f15's
    partial-agg one; the window exchange re-keys BAR rows only
    (keys × days, independent of tick volume) — at 100 TB the second
    shuffle is noise next to the first."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    bars = ev.groupBy(
        F.to_date("ts").alias("bar_date"), F.col("user_id")
    ).agg(
        F.max("value").alias("high_px"),
        F.min("value").alias("low_px"),
        F.max_by("value", "ts").alias("close_px"),
    )
    w = Window.partitionBy("user_id").orderBy("bar_date")
    prev_close = F.lag("close_px").over(w)
    tr = F.when(prev_close.isNull(), F.col("high_px") - F.col("low_px")).otherwise(
        F.greatest(
            F.col("high_px") - F.col("low_px"),
            F.abs(F.col("high_px") - prev_close),
            F.abs(F.col("low_px") - prev_close),
        )
    )
    trd = bars.select("bar_date", "user_id", tr.alias("true_range"))
    wa = (
        Window.partitionBy("user_id")
        .orderBy("bar_date")
        .rowsBetween(-13, 0)
    )
    full = F.count("true_range").over(wa) == 14
    return trd.select(
        "bar_date",
        "user_id",
        F.round("true_range", 6).alias("true_range"),
        F.round(F.when(full, F.avg("true_range").over(wa)), 6).alias("atr_14"),
    )


@_q(
    "f17_gap_fill",
    """WITH daily AS (
         SELECT user_id, CAST(ts AS DATE) AS bar_date,
                arg_max(value, ts) AS close_px
         FROM events GROUP BY 1, 2),
       span AS (SELECT user_id, min(bar_date) AS d0, max(bar_date) AS d1
                FROM daily GROUP BY user_id),
       spine AS (
         SELECT user_id,
                CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                     CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
                  AS bar_date
         FROM span),
       j AS (SELECT s.user_id, s.bar_date, d.close_px
             FROM spine s LEFT JOIN daily d
               ON s.user_id = d.user_id AND s.bar_date = d.bar_date)
       SELECT bar_date, user_id,
              round(close_px, 6) AS close_px,
              round(last_value(close_px IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bar_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                AS close_ffill,
              close_px IS NULL AS is_gap
       FROM j""",
)
def f17_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset: calendar densification + forward fill — the "fill
    missing trading days" move every charting/return pipeline needs
    before window math (a lag over a gapped series compares across
    holes; the reference's daily charts assume a dense axis,
    `scripts/app.py`). Per key: daily close bars, a generated day
    spine over [first, last] bar, LEFT join, then
    last(ignorenulls) forward fill; gap rows flagged. Scale shape:
    the only tick-grain exchange is the bar aggregate (f15's
    partial-agg economy); the spine explode is a narrow fan-out off
    a keys-sized span table, and the join + ffill window move
    BAR-grain rows (keys × days) only. The oracle replays the spine
    with generate_series and the fill with last_value IGNORE NULLS."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    # persist(): the bar table feeds BOTH the span (spine source) and
    # the join — without it the tick-grain scan+aggregate runs twice
    # (lifecycle per operators/dedup.py module docstring).
    daily = ev.groupBy(
        F.col("user_id"), F.to_date("ts").alias("bar_date")
    ).agg(F.max_by("value", "ts").alias("close_px")).persist()
    span = daily.groupBy("user_id").agg(
        F.min("bar_date").alias("d0"), F.max("bar_date").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("bar_date"),
    )
    j = spine.join(daily, ["user_id", "bar_date"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bar_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "bar_date",
        "user_id",
        F.round("close_px", 6).alias("close_px"),
        F.round(F.last("close_px", ignorenulls=True).over(w), 6).alias(
            "close_ffill"
        ),
        F.col("close_px").isNull().alias("is_gap"),
    )


@_q(
    "f18_market_pipeline",
    """WITH bars AS (
         SELECT user_id, CAST(ts AS DATE) AS bar_date,
                max(value) AS high_px, min(value) AS low_px,
                arg_max(value, ts) AS close_px
         FROM events GROUP BY 1, 2),
       ind AS (
         SELECT user_id, bar_date, close_px,
           close_px / lag(close_px) OVER w - 1 AS ret,
           CASE WHEN lag(close_px) OVER w IS NULL
                THEN high_px - low_px
                ELSE greatest(high_px - low_px,
                              abs(high_px - lag(close_px) OVER w),
                              abs(low_px - lag(close_px) OVER w)) END
             AS tr
         FROM bars
         WINDOW w AS (PARTITION BY user_id ORDER BY bar_date))
       SELECT bar_date, user_id,
              round(close_px, 6) AS close_px,
              round(ret, 6) AS ret,
              round(CASE WHEN count(tr) OVER wa = 14
                         THEN avg(tr) OVER wa END, 6) AS atr_14,
              round(CASE WHEN count(close_px) OVER wb = 20
                         THEN avg(close_px) OVER wb
                              + 2 * stddev_samp(close_px) OVER wb END, 6)
                AS band_up,
              round(CASE WHEN count(close_px) OVER wb = 20
                         THEN avg(close_px) OVER wb
                              - 2 * stddev_samp(close_px) OVER wb END, 6)
                AS band_dn
       FROM ind
       WINDOW wa AS (PARTITION BY user_id ORDER BY bar_date
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
              wb AS (PARTITION BY user_id ORDER BY bar_date
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""",
)
def f18_market_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F superset, composed flagship (market v2 — the x28/x46/x57 move
    for the finance stack): tick→bar resample, daily returns, Wilder
    TR + 14-bar ATR, and 20-bar Bollinger bands FUSED into one plan.
    All five indicator outputs come off ONE bar-grain (user_id)
    window partitioning stacked on f15's partial-agg tick exchange —
    Catalyst plans one exchange + one sort with stacked Window nodes
    for the lag/TR pass and both rolling frames (plan-asserted: two
    hash exchanges total, same as f16 alone — composing the whole
    stack costs NOTHING over one indicator, which is the point of
    declaring it as one plan instead of three pipeline stages). All
    intermediates unrounded (x45's rule); count-guarded frames (F2
    rule) on both rolling windows."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    bars = ev.groupBy(
        F.col("user_id"), F.to_date("ts").alias("bar_date")
    ).agg(
        F.max("value").alias("high_px"),
        F.min("value").alias("low_px"),
        F.max_by("value", "ts").alias("close_px"),
    )
    w = Window.partitionBy("user_id").orderBy("bar_date")
    prev_close = F.lag("close_px").over(w)
    tr = F.when(
        prev_close.isNull(), F.col("high_px") - F.col("low_px")
    ).otherwise(
        F.greatest(
            F.col("high_px") - F.col("low_px"),
            F.abs(F.col("high_px") - prev_close),
            F.abs(F.col("low_px") - prev_close),
        )
    )
    ind = bars.select(
        "user_id",
        "bar_date",
        "close_px",
        (F.col("close_px") / prev_close - 1).alias("ret"),
        tr.alias("tr"),
    )
    wa = (
        Window.partitionBy("user_id").orderBy("bar_date").rowsBetween(-13, 0)
    )
    wb = (
        Window.partitionBy("user_id").orderBy("bar_date").rowsBetween(-19, 0)
    )
    atr = F.when(F.count("tr").over(wa) == 14, F.avg("tr").over(wa))
    full20 = F.count("close_px").over(wb) == 20
    mid = F.avg("close_px").over(wb)
    sd = F.stddev_samp("close_px").over(wb)
    return ind.select(
        "bar_date",
        "user_id",
        F.round("close_px", 6).alias("close_px"),
        F.round("ret", 6).alias("ret"),
        F.round(atr, 6).alias("atr_14"),
        F.round(F.when(full20, mid + 2 * sd), 6).alias("band_up"),
        F.round(F.when(full20, mid - 2 * sd), 6).alias("band_dn"),
    )
