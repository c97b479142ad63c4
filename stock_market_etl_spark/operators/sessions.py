"""Session assembly operators — interaction logs → ordered training
transcripts (the conversation/thread-building step of an LLM data
pipeline: raw event streams become per-session documents).

Reference parity: the reference has no session concept (its grain is
(ticker, day)); this extends the engine's F-superset sessionization
(catalog f8, gaps-and-islands) with the assembly step a chat/agent-log
corpus needs.

Scale shape: sessionization is the classic two-window composition over
ONE exchange of the events on the user key; transcript assembly then
combines at session grain. The transcript agg is the only stage that
moves event payloads — and it moves each payload exactly once, into
its session group. ``collect_list`` + ``array_sort`` on (ts, order
cols) structs gives a deterministic in-session order without a second
sort exchange (struct comparison is lexicographic, and the session
window already co-located the rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Append a ``sess_id`` column: sessions close after
    ``gap_minutes`` of per-user inactivity (gaps-and-islands — the lag
    flag and its running sum share one partitioning, so this is a
    single exchange of the events on ``user_id``)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w)
    )
    new_sess = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (gap > gap_minutes * 60 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("__new_sess")
    )
    return (
        events.select("*", new_sess)
        .withColumn("sess_id", F.sum("__new_sess").over(w).cast("long"))
        .drop("__new_sess")
    )


def session_transcripts(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Assemble one transcript document per session: the session's
    ``event_type`` values joined by spaces in (ts, event_id) order,
    plus turn count and start/end bounds. The ordered join is
    ``array_sort(collect_list(struct(ts, order, payload)))`` — no
    second sort exchange; order keys ride inside the aggregated
    structs."""
    sess = sessionize(events, gap_minutes)
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts").alias("t"),
                F.col("event_id").alias("o"),
                F.col("event_type").alias("p"),
            )
        )
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.count("*").cast("long").alias("n_turns"),
        F.concat_ws(
            " ", F.transform(ordered, lambda x: x["p"])
        ).alias("transcript"),
    )
