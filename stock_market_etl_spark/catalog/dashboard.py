"""SURVEY §3.3 — the reference's five dashboard analytics, oracle-checked
over the events fixture (user_id ↔ ticker, ts ↔ date, value ↔ close).

Implementations live in plans/dashboard.py; this module wires fixtures
and applies output rounding for the cross-engine hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from stock_market_etl_spark.catalog import registry
from stock_market_etl_spark.io import load_table
from stock_market_etl_spark.plans import dashboard as lib

QUERIES, ORACLES, _q = registry()


_CUM_SQL = """
  SELECT event_id, ts, user_id, value,
    exp(sum(ln(1 + coalesce(dr, 0))) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cum
  FROM (
    SELECT event_id, ts, user_id, value,
      (value - lag(value) OVER w) / lag(value) OVER w AS dr
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
"""


@_q(
    "q_compute_trends",
    f"""SELECT user_id, ts, event_id, value,
          round(cum, 6) AS cumulative_return,
          round(10000 * cum, 4) AS abs_return
        FROM ({_CUM_SQL})""",
)
def q_compute_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_trends (reference `scripts/app.py:46-52`)."""
    ev = load_table(spark, sf_dir, "events")
    out = lib.compute_trends(ev)
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.round("cumulative_return", 6).alias("cumulative_return"),
        F.round("abs_return", 4).alias("abs_return"),
    )


@_q(
    "q_final_returns",
    f"""SELECT user_id,
          round(arg_max(cum, ts), 6) AS final_return,
          max(ts) AS latest_ts
        FROM ({_CUM_SQL})
        GROUP BY user_id""",
)
def q_final_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_final_returns (reference `scripts/app.py:54-66`)."""
    ev = load_table(spark, sf_dir, "events")
    out = lib.final_returns(ev)
    return out.select(
        "user_id",
        F.round("final_return", 6).alias("final_return"),
        "latest_ts",
    )


@_q(
    "q_relative_returns",
    f"""WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day, arg_max(cum, ts) AS cum_return
          FROM ({_CUM_SQL})
          WHERE user_id IN (1, 2)
          GROUP BY user_id, CAST(ts AS DATE)
        )
        SELECT b.day AS day,
               round(b.cum_return, 6) AS base_return,
               round(c.cum_return, 6) AS comp_return,
               round(100 * (b.cum_return - c.cum_return), 6) AS relative_return
        FROM (SELECT * FROM daily WHERE user_id = 1) b
        JOIN (SELECT * FROM daily WHERE user_id = 2) c ON b.day = c.day""",
)
def q_relative_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_relative_returns (reference `scripts/app.py:68-73`)."""
    ev = load_table(spark, sf_dir, "events")
    out = lib.relative_returns(ev, base_key=1, comp_key=2)
    return out.select(
        "day",
        F.round("base_return", 6).alias("base_return"),
        F.round("comp_return", 6).alias("comp_return"),
        F.round("relative_return", 6).alias("relative_return"),
    )


@_q(
    "q_latest_snapshot",
    """SELECT user_id, ts, value, c_name, c_mktsegment FROM (
         SELECT user_id, ts, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) f
       JOIN customer ON f.user_id = c_custkey
       WHERE rn = 1""",
)
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """latest_snapshot (reference `scripts/app.py:75-97`): latest fact
    row per key joined to the (broadcast) dimension."""
    ev = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    out = lib.latest_snapshot(
        ev,
        customer.select("c_custkey", "c_name", "c_mktsegment"),
        fact_key="user_id",
        dim_key="c_custkey",
        time="ts",
        tiebreak="event_id",
    )
    return out.select("user_id", "ts", "value", "c_name", "c_mktsegment")


@_q(
    "q_top_movers",
    """WITH dr AS (
         SELECT user_id, ts,
           (value - lag(value) OVER w) / lag(value) OVER w AS daily_return
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), last_ret AS (
         SELECT user_id, arg_max(daily_return, ts) AS last_return
         FROM dr WHERE daily_return IS NOT NULL
         GROUP BY user_id
       )
       SELECT user_id, round(last_return, 6) AS last_return, direction FROM (
         (SELECT *, 'gainer' AS direction FROM last_ret
          ORDER BY last_return DESC, user_id LIMIT 20)
         UNION ALL
         (SELECT *, 'loser' AS direction FROM last_ret
          ORDER BY last_return ASC, user_id LIMIT 20)
       )""",
)
def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_movers (reference `scripts/app.py:144-148`): top-k gainers
    and bottom-k losers by latest daily return."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value", 1).over(w)
    metrics = ev.withColumn("daily_return", (F.col("value") - prev) / prev)
    out = lib.top_movers(metrics, k=20)
    return out.select(
        "user_id",
        F.round("last_return", 6).alias("last_return"),
        "direction",
    )
