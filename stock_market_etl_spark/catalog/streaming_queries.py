"""SURVEY §2.N — streaming-surface semantics as named queries.

The window semantics (tumbling / sliding / session) are oracle-checked
via their batch twins — by construction the streaming forms equal these
(stream-batch parity, tests/test_streaming.py). One entry drains a real
Structured Streaming query (rows-only for the driver gate).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from stock_market_etl_spark.catalog import _scratch, registry
from stock_market_etl_spark.streaming import core

QUERIES, ORACLES, _q = registry()


@_q(
    "n1_tumbling_window_agg",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
              user_id, count(*) AS n_events,
              round(sum(value), 6) AS sum_value
       FROM events GROUP BY 1, 2""",
)
def n1_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: tumbling 1-hour window aggregation (batch twin of the
    streaming form; parity asserted in tests/test_streaming.py)."""
    out = core.tumbling_counts(core.batch_events(spark, sf_dir))
    return out.select("win_start", "user_id", "n_events", "sum_value")


@_q(
    "n2_sliding_window_agg",
    """SELECT win_start, user_id, round(avg(value), 6) AS avg_value
       FROM (
         SELECT user_id, value,
                time_bucket(INTERVAL '1 hour', ts)
                  - to_hours(k) AS win_start
         FROM events, unnest([0, 1, 2, 3, 4, 5]) AS t(k))
       GROUP BY win_start, user_id""",
)
def n2_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: sliding 6-hour/1-hour window average — each event lands in six
    overlapping windows (time analogue of the 30-row rolling vol F2)."""
    return core.sliding_avg(core.batch_events(spark, sf_dir))


@_q(
    "n3_session_window_agg",
    """WITH marks AS (
         SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER w <= INTERVAL '30 minutes'
                THEN 0 ELSE 1 END AS new_session
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       ), sess AS (
         SELECT user_id, ts,
           sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS session_id
         FROM marks)
       SELECT min(ts) AS win_start,
              max(ts) + INTERVAL '30 minutes' AS win_end,
              user_id, count(*) AS n_events
       FROM sess GROUP BY user_id, session_id""",
)
def n3_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: session windows (30-minute inactivity gap), batch twin — the
    gaps-and-islands construction is the oracle; Spark's session_window
    must agree with it exactly."""
    return core.session_counts(core.batch_events(spark, sf_dir))


@_q("n4_streaming_tumbling_drain")
def n4_streaming_tumbling_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: a REAL Structured Streaming run — file source → watermark →
    tumbling agg → memory sink, drained with availableNow. Rows-only in
    the driver gate (streaming is not DuckDB-checkable); full-value
    parity with n1 is asserted in tests/test_streaming.py."""
    stream = core.tumbling_counts(core.stream_events(spark, sf_dir))
    name = f"drain_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch.fresh_dir("ckpt")
    core.run_available_now(stream, name, ckpt, output_mode="complete")
    return spark.table(name)


@_q("n5_streaming_dedup_drain")
def n5_streaming_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: stateful streaming dedup (dropDuplicatesWithinWatermark) over
    the events stream; rows-only (count parity with batch dedup is
    asserted in tests/test_streaming.py)."""
    stream = core.dedup_stream(core.stream_events(spark, sf_dir)).select(
        "event_id", "ts", "user_id"
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch.fresh_dir("ckpt")
    core.run_available_now(stream, name, ckpt)
    return spark.table(name)


@_q(
    "n6_stream_stream_join",
    """SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id,
              v.ts AS view_ts, b.ts AS buy_ts,
              round(b.value, 6) AS buy_value
       FROM events v JOIN events b
         ON v.user_id = b.user_id
        AND v.event_type = 'view' AND b.event_type = 'purchase'
        AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL '1 hour'""",
)
def n6_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: stream-stream interval join (purchase attributed to preceding
    views within 1 h), batch twin — the streaming form with bounded
    join state is parity-tested in tests/test_streaming.py."""
    return core.view_purchase_join(core.batch_events(spark, sf_dir))


@_q(
    "n7_stream_stream_left_join",
    """SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
              b.event_id AS buy_id, b.ts AS buy_ts
       FROM (SELECT * FROM events WHERE event_type = 'view') v
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
         ON v.user_id = b.user_id
        AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL '1 hour'""",
)
def n7_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: left-outer stream-stream interval join (views with their
    purchase or null = abandonment), batch twin. The streaming form's
    null-match emission is watermark-gated; parity over the decided
    region is asserted in tests/test_streaming.py."""
    return core.view_purchase_left_join(core.batch_events(spark, sf_dir))


@_q(
    "n8_chained_join_window",
    """SELECT time_bucket(INTERVAL '1 hour', b.ts) AS win_start,
              v.user_id, count(*) AS n_attributed
       FROM (SELECT * FROM events WHERE event_type = 'view') v
       JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
         ON v.user_id = b.user_id
        AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL '1 hour'
       GROUP BY 1, 2""",
)
def n8_chained_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: chained stateful operators — tumbling count of attributed
    pairs downstream of the stream-stream join, batch twin (the
    streaming form holds join + window state in one query; parity in
    tests/test_streaming.py)."""
    return core.attributed_purchases_hourly(core.batch_events(spark, sf_dir))


@_q(
    "n9_stream_dedup_ingest",
    """SELECT doc_id, text, lang, source, n_chars FROM (
         SELECT *, min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
         FROM documents)
       WHERE doc_id = keep_id""",
)
def n9_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: the dedup-on-arrival corpus builder drained end-to-end — a
    REAL Structured Streaming run (file source → foreachBatch
    exact-dedup + corpus anti-join → parquet append), then the built
    corpus read back. The documents fixture arrives as one file ⇒ one
    micro-batch, so the corpus must equal batch exact dedup (min
    doc_id per sha256 content hash) — making this the one streaming
    query with a full hash oracle, not rows-only; multi-batch replay +
    redelivery idempotence are asserted in tests/test_streaming.py."""
    import os

    work = _scratch.fresh_dir("ingest")
    corpus_path = os.path.join(work, "corpus")
    stream = core.stream_documents(spark, sf_dir, glob="documents.parquet")
    core.dedup_ingest_sink(
        stream, corpus_path, os.path.join(work, "ckpt")
    )
    return spark.read.parquet(corpus_path)


@_q("n10_stream_ann_index_ingest")
def n10_stream_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: streaming IVF index maintenance drained end-to-end — a REAL
    Structured Streaming run (file source over embeddings →
    foreachBatch id anti-join + zero-shuffle centroid assignment →
    cell-partitioned parquet append), then a top-k probe over the
    read-back index. Centroids come from one offline `ivf_index` build
    (seeded k-means → engine-specific ⇒ rows-only), and
    `assign_cells` reproduces the k-means assignment rule exactly, so
    the probe result is identical to x15/x40 over the same fixture —
    asserted in tests/test_streaming.py along with multi-batch replay
    and redelivery idempotence."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    _, centers = similarity.ivf_index(emb, n_lists=16)
    work = _scratch.fresh_dir("ann_ingest")
    index_path = os.path.join(work, "index")
    centers.write.parquet(os.path.join(index_path, "centroids"))
    stream = core.stream_documents(spark, sf_dir, glob="embeddings.parquet")
    core.ivf_append_sink(stream, index_path, os.path.join(work, "ckpt"))
    assigned, centers_lake = similarity.read_ivf_index(spark, index_path)
    return similarity.ivf_probe(
        assigned, centers_lake, query_id=0, k=10, n_probe=4
    )


@_q(
    "n11_stream_static_enrich",
    """WITH wm AS (
         SELECT user_id, max(ts) AS latest_signup
         FROM events WHERE event_type = 'signup' GROUP BY user_id
       )
       SELECT e.event_id, e.user_id, e.ts, wm.latest_signup
       FROM events e LEFT JOIN wm USING (user_id)""",
)
def n11_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: stream–static enrichment drained end-to-end — a REAL
    Structured Streaming run (file source → broadcast left join against
    the static signup-watermark dim → memory sink). The STATELESS
    streaming join: no watermark or join state store (contrast n6/n7's
    stream-stream interval joins), the stream side never shuffles, and
    the static side is re-planned per micro-batch (lake-table dim
    refreshes are picked up live). Enrichment is row-wise ⇒ the drained
    result equals the batch join exactly — full hash oracle (D1's
    semantics, streamed)."""
    dim = (
        core.batch_events(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.max("ts").alias("latest_signup"))
    )
    stream = core.enrich_with_dim(
        core.stream_events(spark, sf_dir), dim
    ).select("event_id", "user_id", "ts", "latest_signup")
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch.fresh_dir("ckpt")
    core.run_available_now(stream, name, ckpt, output_mode="append")
    return spark.table(name)


@_q(
    "n12_stream_session_transcripts",
    """WITH flagged AS (
         SELECT user_id, ts, event_id, event_type,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), numbered AS (
         SELECT user_id, ts, event_id, event_type,
                sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS sess_id
         FROM flagged
       )
       SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end,
              CAST(count(*) AS BIGINT) AS n_turns,
              string_agg(event_type, ' ' ORDER BY ts, event_id)
                  AS transcript
       FROM numbered GROUP BY user_id, sess_id""",
)
def n12_stream_session_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N: session transcript assembly drained end-to-end — a REAL
    stateful Structured Streaming run (file source → session_window
    groupBy with collect_list state → memory sink, complete mode).
    The streaming twin of x50: session_window's gap rule IS
    gaps-and-islands, and the emit-time array_sort makes the
    transcript independent of within-session arrival interleaving, so
    the drained result equals the batch operator exactly — full hash
    oracle (the x50 SQL minus its per-user session numbering).
    Cross-micro-batch session MERGING is pinned separately in
    tests/test_streaming.py."""
    stream = core.session_transcripts_stream(
        core.stream_events(spark, sf_dir)
    )
    name = f"transcripts_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch.fresh_dir("ckpt")
    core.run_available_now(stream, name, ckpt, output_mode="complete")
    return spark.table(name)


def _gopher_gate(df: DataFrame) -> DataFrame:
    """The n13 clean-on-arrival transform: x51's hard Gopher gates
    applied to a micro-batch before dedup. Deterministic pure
    expressions, so a redelivered batch re-derives the identical
    survivor set (the idempotence contract of dedup_ingest_sink's
    transform hook)."""
    from stock_market_etl_spark.operators import text as text_ops

    return df.filter(text_ops.gopher_keep(text_ops.gopher_metrics(F.col("text"))))


def _n13_oracle() -> str:
    from stock_market_etl_spark.catalog.extensions import ORACLES

    x51 = ORACLES["x51_gopher_rules"]
    return f"""WITH x51 AS ({x51}),
       gated AS (
         SELECT d.* FROM documents d
         JOIN x51 USING (doc_id) WHERE x51.keep)
       SELECT doc_id, text, lang, source, n_chars FROM (
         SELECT *, min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
         FROM gated)
       WHERE doc_id = keep_id"""


@_q("n13_stream_gated_ingest", _n13_oracle())
def n13_stream_gated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: quality-gated dedup-on-arrival corpus ingest drained
    end-to-end — n9's REAL streaming run with x51's Gopher hard gates
    as the clean-on-arrival transform (gate → within-batch exact dedup
    → corpus anti-join → append): the full first stage of a streaming
    corpus build. Gating precedes dedup deliberately (content identity
    must be the surviving text's). Single-file source ⇒ one
    micro-batch ⇒ the built corpus equals batch gate + exact dedup —
    full hash oracle (x51's keep CTE composed with n9's dedup SQL);
    multi-batch and redelivery semantics are the same
    dedup_ingest_sink machinery n9's tests pin, and the gated
    multi-batch drain is asserted against the batch twin in
    tests/test_streaming.py."""
    import os

    work = _scratch.fresh_dir("gated_ingest")
    corpus_path = os.path.join(work, "corpus")
    stream = core.stream_documents(spark, sf_dir, glob="documents.parquet")
    core.dedup_ingest_sink(
        stream,
        corpus_path,
        os.path.join(work, "ckpt"),
        transform=_gopher_gate,
    )
    return spark.read.parquet(corpus_path)


@_q(
    "n14_stream_jdbc_serving",
    """SELECT user_id, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 6) AS total_value
       FROM events GROUP BY 1, 2""",
)
def n14_stream_jdbc_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: streaming → relational serving drained end-to-end — a REAL
    Structured Streaming run (file source → UPDATE-mode running totals
    → foreachBatch key-grain JDBC upsert into embedded Derby), then
    the serving table read back over JDBC. The streaming lift of the
    reference's serving load (`scripts/load_stock_metrics.py:57-89`):
    each micro-batch upserts only the keys whose totals changed, and
    at-least-once delivery + idempotent upsert ⇒ the table converges
    to stream state (redelivery re-writes identical totals). The
    events fixture arrives as one file ⇒ one micro-batch ⇒ the table
    must equal the batch groupBy — full hash oracle; multi-batch
    convergence and full-redelivery idempotence are asserted in
    tests/test_streaming.py."""
    import os

    from stock_market_etl_spark.io import load_jdbc

    work = _scratch.fresh_dir("jdbc_serving")
    url = f"jdbc:derby:{os.path.join(work, 'servingdb')};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    agg = core.serving_totals(core.stream_events(spark, sf_dir))
    core.jdbc_serving_sink(
        agg,
        url,
        "user_type_totals",
        ("user_id", "event_type"),
        os.path.join(work, "ckpt"),
        props,
    )
    return load_jdbc(
        spark,
        url,
        'SELECT "user_id", "event_type", "n_events", "total_value" '
        "FROM user_type_totals",
        properties=props,
    )


@_q(
    "n15_stateful_running_totals",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 6) AS sum_value
       FROM events GROUP BY user_id""",
)
def n15_stateful_running_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N: the CUSTOM stateful operator drained end-to-end — a REAL
    Structured Streaming run of `applyInPandasWithState` (per-user
    (count, sum) carried in engine-managed GroupState, update-mode
    emission, Arrow-batched). This is the arbitrary-stateful-logic
    escape hatch the built-in windows can't express — state is
    O(keys), not O(rows), and the only shuffle is on the group key.
    The events fixture arrives as one file ⇒ one micro-batch ⇒ each
    key's single (here: latest) emission equals the batch groupBy —
    full hash oracle; multi-batch update semantics and the batch twin
    are pinned in tests/test_streaming.py. Latest-per-key selection
    rides on n_events, which strictly increases per emission."""
    stream = core.stateful_running_totals(core.stream_events(spark, sf_dir))
    name = f"running_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch.fresh_dir("ckpt")
    core.run_available_now(stream, name, ckpt, output_mode="update")
    latest = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "sum_value"), "n_events"
            ).alias("__m")
        )
    )
    return latest.select(
        "user_id",
        F.col("__m.n_events").alias("n_events"),
        F.col("__m.sum_value").alias("sum_value"),
    )


@_q(
    "n16_stream_ohlc_bars",
    """SELECT CAST(ts AS DATE) AS bar_date, user_id,
              round(arg_min(value, ts), 6) AS open_px,
              round(max(value), 6) AS high_px,
              round(min(value), 6) AS low_px,
              round(arg_max(value, ts), 6) AS close_px,
              CAST(count(*) AS BIGINT) AS n_ticks
       FROM events GROUP BY 1, 2""",
)
def n16_stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: streaming OHLC bar maintenance drained end-to-end — a REAL
    Structured Streaming run (file source → tumbling 1-day window with
    min_by/max_by open/close state → memory sink, complete mode): the
    live-bar upkeep a market dashboard runs between the reference's
    hourly ingests. State per open bar is five scalars + two
    timestamps, never the ticks. The epoch-aligned 1-day window key
    equals f15's calendar date (UTC session TZ), so the drained result
    equals the batch resample exactly — full hash oracle (f15's SQL);
    multi-batch bar accretion is asserted against the batch twin in
    tests/test_streaming.py."""
    stream = core.ohlc_bars(core.stream_events(spark, sf_dir))
    name = f"ohlc_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch.fresh_dir("ckpt")
    core.run_available_now(stream, name, ckpt, output_mode="complete")
    return spark.table(name)


@_q(
    "n17_stream_agg_partials",
    """SELECT user_id, CAST(ts AS DATE) AS day,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 6) AS sum_value,
              round(min(value), 6) AS min_value,
              round(max(value), 6) AS max_value
       FROM events GROUP BY 1, 2""",
)
def n17_stream_agg_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: streaming CONTINUOUS AGGREGATE drained end-to-end — a REAL
    foreachBatch run where each micro-batch writes its own daily
    rollup under ``batch_id=N`` (OVERWRITE — redelivery replaces its
    own partials, b14's exactly-once move applied to aggregate
    state) and the read side merges partials by state arithmetic
    (streaming/core.py agg_partials_sink / read_agg_state). The
    streaming face of l6's IVM: no batch ever reads another batch's
    state, so ingest never serializes behind a state-table scan.
    Merged state must equal the full batch rollup — full hash oracle;
    multi-batch accretion and redelivery idempotence are pinned in
    tests/test_streaming.py."""
    import os

    work = _scratch.fresh_dir("agg_partials")
    lake = os.path.join(work, "lake")
    core.agg_partials_sink(
        core.stream_events(spark, sf_dir), lake, os.path.join(work, "ckpt")
    )
    state = core.read_agg_state(spark, lake)
    return state.select(
        "user_id",
        "day",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
    )


@_q(
    "n18_stream_snapshot_lake",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events""",
)
def n18_stream_snapshot_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: streaming ingestion into the MANIFEST-VERSIONED lake drained
    end-to-end — a REAL Structured Streaming run where every
    micro-batch commits as its own snapshot with the batch id as the
    idempotency txn (streaming/core.py snapshot_lake_sink over
    io.commit_snapshot): b14's exactly-once discipline composed with
    the b18/b19 snapshot family, so a streaming feed gets time travel
    at every batch boundary and downstream CDC consumers read
    increments by pinned version instead of rescanning. Single-file
    source ⇒ one batch ⇒ the latest snapshot equals the source
    projection — full hash oracle; multi-batch version accretion,
    per-version CDC increments, and redelivery idempotence (same txn
    ⇒ no second commit) are pinned in tests/test_streaming.py."""
    import os

    from stock_market_etl_spark.io import read_snapshot

    work = _scratch.fresh_dir("stream_snap_lake")
    table = os.path.join(work, "table")
    core.snapshot_lake_sink(
        core.stream_events(spark, sf_dir).select(
            "event_id", "user_id", "event_type",
            F.round("value", 6).alias("value"),
        ),
        table,
        os.path.join(work, "ckpt"),
    )
    from stock_market_etl_spark.io import _latest_version

    return read_snapshot(spark, table, _latest_version(table))


@_q(
    "n19_stream_substring_gate",
    # x74's span derivation (batch = doc_id % 4 = 0 vs the corpus
    # release) composed with x72's cut, restricted to the arriving
    # batch — the single-micro-batch identity makes the drained gate
    # hash-checkable like n9.
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
               FROM marked),
       spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
                 FROM grp GROUP BY doc_id, gid),
       batch AS (SELECT doc_id, toks FROM d WHERE doc_id % 4 = 0),
       tok AS (SELECT doc_id, unnest(toks) AS tok,
                      unnest(generate_series(1, len(toks))) AS i
               FROM batch),
       kept AS (SELECT t.doc_id, t.tok, t.i FROM tok t
                WHERE NOT EXISTS (
                  SELECT 1 FROM spans s
                  WHERE s.doc_id = t.doc_id
                    AND t.i BETWEEN s.s AND s.e))
       SELECT batch.doc_id,
              coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
                AS clean_text
       FROM batch LEFT JOIN kept k ON k.doc_id = batch.doc_id
       GROUP BY batch.doc_id
       ORDER BY batch.doc_id""",
)
def n19_stream_substring_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N: the substring-dedup gate drained end-to-end — a REAL
    Structured Streaming run (file source → foreachBatch flag-vs-
    materialized-index + span cut → parquet append), probing the b25
    artifact from a stream (`streaming/core.substring_gate_sink`).
    The corpus release (doc_id % 4 != 0) is indexed ONCE with
    `dedup.write_window_index`; the batch docs (doc_id % 4 == 0)
    arrive as one file ⇒ one micro-batch, so the landed table must
    equal the batch form (x74's spans cut per x72) — a full hash
    oracle like n9/n18; multi-batch replay + redelivery idempotence
    are asserted in tests/test_streaming.py."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 != 0
    )
    work = _scratch.fresh_dir("substring_gate")
    index_path = os.path.join(work, "substring_index")
    dedup.write_window_index(corpus, index_path, k=8)
    stream = core.stream_documents(
        spark, sf_dir, glob="documents.parquet"
    ).filter(F.col("doc_id") % 4 == 0)
    out_path = os.path.join(work, "clean")
    core.substring_gate_sink(
        stream, out_path, os.path.join(work, "ckpt"), index_path
    )
    return spark.read.parquet(out_path)


def _psi_score_sql() -> str:
    """x80's score expression fragment — imported, not copied, so the
    streamed monitor and the batch drift gate can never replay
    different scores (one definition: extensions._Q_SCORE_SQL)."""
    from stock_market_etl_spark.catalog.extensions import _Q_SCORE_SQL

    return _Q_SCORE_SQL


@_q(
    "n20_stream_drift_monitor",
    None,  # oracle attached below (needs the shared score fragment)
)
def n20_stream_drift_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N: the PSI drift monitor drained end-to-end — a REAL
    Structured Streaming run (file source → foreachBatch score + bin
    + PSI vs the frozen baseline → per-batch partition overwrite),
    probing a `write_score_histogram` artifact from a stream
    (`streaming/core.drift_monitor_sink`; the b25 → n19 lifecycle
    applied to score distributions). The baseline release
    (doc_id % 3 != 0) is histogrammed ONCE; the monitored batch
    (doc_id % 3 == 0) arrives as one file ⇒ one micro-batch, so the
    landed monitor rows must equal the batch-form PSI between the
    two slices — a full hash oracle like n9/n19; multi-batch
    behavior, redelivery idempotence (partition overwrite, the n17
    move) and the bins-mismatch refusal are asserted in
    tests/test_streaming.py."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.importance import (
        write_score_histogram,
    )
    from stock_market_etl_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    baseline = docs.filter(F.col("doc_id") % 3 != 0).select(
        "source",
        F.round(quality_score(F.col("text")), 6).alias("__q"),
    )
    work = _scratch.fresh_dir("drift_monitor")
    base_path = os.path.join(work, "baseline_hist")
    write_score_histogram(baseline, base_path, "__q", "source", bins=10)
    stream = core.stream_documents(
        spark, sf_dir, glob="documents.parquet"
    ).filter(F.col("doc_id") % 3 == 0)
    out_path = os.path.join(work, "monitor")
    core.drift_monitor_sink(
        stream, out_path, os.path.join(work, "ckpt"), base_path
    )
    return spark.read.parquet(out_path).select(
        "source", "psi", "drift_flag", "n_docs"
    )


ORACLES["n20_stream_drift_monitor"] = f"""
    WITH t AS (
      SELECT source, {_psi_score_sql()} AS q,
             CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS in_base,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS in_batch
      FROM documents),
    hist AS (
      SELECT source, least(9, CAST(floor(q * 10) AS INT)) AS bin,
             CAST(sum(in_base) AS DOUBLE) AS p_n,
             CAST(sum(in_batch) AS DOUBLE) AS q_n
      FROM t GROUP BY source, least(9, CAST(floor(q * 10) AS INT))),
    tot AS (
      SELECT source, sum(p_n) AS p_tot, sum(q_n) AS q_tot
      FROM hist GROUP BY source),
    terms AS (
      SELECT h.source,
             (greatest(p_n / p_tot, 1e-4) - greatest(q_n / q_tot, 1e-4))
             * ln(greatest(p_n / p_tot, 1e-4)
                  / greatest(q_n / q_tot, 1e-4)) AS term,
             q_tot
      FROM hist h JOIN tot USING (source)),
    agg AS (
      SELECT source, round(sum(term), 6) AS psi,
             CAST(max(q_tot) AS BIGINT) AS n_docs
      FROM terms WHERE q_tot > 0 GROUP BY source)
    SELECT source, psi, psi >= 0.2 AS drift_flag, n_docs FROM agg"""


@_q(
    "n21_stream_decontamination_gate",
    # oracle attached below: x84's flag+cut derivation SHARED, not
    # copied (review r13 — a future edit to x84's oracle must move
    # both or the single-micro-batch identity silently stops being
    # tested)
    None,
)
def n21_stream_decontamination_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N: the train-test decontamination gate drained end-to-end — a
    REAL Structured Streaming run (file source → foreachBatch
    flag-vs-frozen-eval-index + span cut → parquet append), x84 on
    arrival (`streaming/core.decontamination_gate_sink`; the b25 →
    n19 lifecycle with `contaminated_spans`'s presence-in-reference
    condition). The eval split (doc_id % 10 >= 8) is indexed ONCE
    with `dedup.write_window_index` — write-once per release, never
    merged (the eval set is frozen by definition); the training docs
    (doc_id % 10 < 8) arrive as one file ⇒ one micro-batch, so the
    landed table must equal x84's batch form — a full hash oracle
    like n9/n19. The gate is stateless across batches (no cross-batch
    count can flip a verdict), so batch order can't change results;
    multi-batch replay + redelivery idempotence are asserted in
    tests/test_streaming.py."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup

    ref = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    work = _scratch.fresh_dir("decontamination_gate")
    index_path = os.path.join(work, "eval_index")
    dedup.write_window_index(ref, index_path, k=8)
    stream = core.stream_documents(
        spark, sf_dir, glob="documents.parquet"
    ).filter(F.col("doc_id") % 10 < 8)
    out_path = os.path.join(work, "clean")
    core.decontamination_gate_sink(
        stream, out_path, os.path.join(work, "ckpt"), index_path
    )
    return spark.read.parquet(out_path).orderBy("doc_id")


@_q("n23_stream_bloom_gate")
def n23_stream_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N: the BLOOM-tier decontamination gate drained end-to-end — a
    REAL Structured Streaming run (file source → foreachBatch bloom
    flag + span cut → parquet append), x88 on arrival
    (`streaming/core.bloom_gate_sink`; n21's lifecycle with the
    memory-bounded flag path — no join, the frozen filter is m/8
    bytes loaded once at sink setup, the eval corpus appears in NO
    per-batch stage). The eval split (doc_id % 10 >= 8) freezes once
    as a `write_bloom_index` release; training docs (doc_id % 10 <
    8) arrive as one file ⇒ one micro-batch.

    Rows-only by documented design (the x88 stance — bloom flags are
    CONSERVATIVE, ⊇ the exact n21 gate's, so no SQL oracle can bind
    the cut): evidence in tests/test_streaming.py — single-batch
    identity with x88's batch cut, every landed text a token-subset
    of n21's landed text for the same doc, and the shared
    `_span_gate_sink` redelivery/bootstrap contracts."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup

    ref = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    work = _scratch.fresh_dir("bloom_gate")
    index_path = os.path.join(work, "eval_bloom")
    dedup.write_bloom_index(
        dedup.build_window_bloom(ref, k=8), spark, index_path
    )
    stream = core.stream_documents(
        spark, sf_dir, glob="documents.parquet"
    ).filter(F.col("doc_id") % 10 < 8)
    out_path = os.path.join(work, "clean")
    core.bloom_gate_sink(
        stream, out_path, os.path.join(work, "ckpt"), index_path
    )
    return spark.read.parquet(out_path).orderBy("doc_id")


@_q(
    "n22_stream_embedding_gate",
    # x85's derivation with the gate's keep-projection: same vector
    # views, same pair cosine, same best-match window — then keep
    # only NON-contaminated training vectors and land the evidence
    # columns (the sink's audit-grain output). Cannot bind x85's
    # string verbatim (different projection), so the CTE structure
    # is mirrored; the single-micro-batch identity below keeps the
    # two from drifting semantically.
    """WITH v AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) AS nrm,
                vec_id % 5 = 0 AS is_ev
         FROM embeddings),
       p AS (
         SELECT t.vec_id AS id_t, e.vec_id AS id_e,
                round(list_dot_product(t.vec, e.vec)
                      / (t.nrm * e.nrm), 6) AS cos
         FROM v t, v e WHERE NOT t.is_ev AND e.is_ev),
       best AS (
         SELECT id_t, id_e, cos,
                row_number() OVER (
                  PARTITION BY id_t ORDER BY cos DESC, id_e) AS rk
         FROM p)
       SELECT id_t AS vec_id, id_e AS nearest_eval_id,
              cos AS max_cosine
       FROM best WHERE rk = 1 AND cos < 0.4""",
)
def n22_stream_embedding_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N: the SEMANTIC decontamination gate drained end-to-end — a
    REAL Structured Streaming run (file source → foreachBatch verdict
    vs the frozen eval VECTOR artifact → keep-clean append), x85 on
    arrival (`streaming/core.embedding_gate_sink`; the n21 lifecycle
    applied to the embedding tier — every contamination rung now
    gates on ingest). The eval split (vec_id % 5 == 0) publishes ONCE
    as a b27 release (`similarity.write_embedding_index` — write-once
    per release; release N+1 folds in via `merge_embedding_index` and
    publishes as the NEXT release); the training vectors (% 5 != 0)
    arrive as one file ⇒ one micro-batch, so the landed table must
    equal x85's verdict restricted to kept (non-contaminated) rows —
    a full hash oracle like n21. Stateless across batches
    (presence-in-frozen-reference), so batch order can't change
    results; multi-batch replay + redelivery idempotence are
    asserted in tests/test_streaming.py."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity

    ref = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    work = _scratch.fresh_dir("embedding_gate")
    index_path = os.path.join(work, "eval_vectors")
    similarity.write_embedding_index(ref, index_path, dim=64)
    stream = core.stream_documents(
        spark, sf_dir, glob="embeddings.parquet"
    ).filter(F.col("vec_id") % 5 != 0)
    out_path = os.path.join(work, "clean")
    core.embedding_gate_sink(
        stream, out_path, os.path.join(work, "ckpt"), index_path
    )
    return spark.read.parquet(out_path).orderBy("vec_id")


# The single-micro-batch identity is a SHARED contract: n21's landed
# table must equal x84's batch form, so the two queries bind the SAME
# oracle string (review r13 — a verbatim copy could drift silently).
from stock_market_etl_spark.catalog import extensions as _ext  # noqa: E402

ORACLES["n21_stream_decontamination_gate"] = _ext.ORACLES[
    "x84_substring_decontamination"
]
