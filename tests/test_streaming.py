"""Stream-batch parity tests (SURVEY §5.2): streaming aggregations over
the events fixture, drained with availableNow, must equal the identical
batch aggregation — the correctness contract for the non-oracle-checkable
streaming surface (§2.N).
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from stock_market_etl_spark.streaming import core


def _drain(spark, stream_df, tmp_path, output_mode: str = "append") -> str:
    name = f"sink_{uuid.uuid4().hex[:8]}"
    core.run_available_now(
        stream_df, name, str(tmp_path / f"ckpt_{name}"), output_mode
    )
    return name


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_tumbling_parity(spark, sf_smoke, tmp_path):
    stream = core.tumbling_counts(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "complete")
    batch = core.tumbling_counts(core.batch_events(spark, sf_smoke))
    assert _rows(spark.table(sink)) == _rows(batch)


def test_sliding_parity(spark, sf_smoke, tmp_path):
    stream = core.sliding_avg(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "complete")
    batch = core.sliding_avg(core.batch_events(spark, sf_smoke))
    assert _rows(spark.table(sink)) == _rows(batch)


def test_session_parity(spark, sf_smoke, tmp_path):
    stream = core.session_counts(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "complete")
    batch = core.session_counts(core.batch_events(spark, sf_smoke))
    assert _rows(spark.table(sink)) == _rows(batch)


def test_dedup_stream_parity(spark, sf_smoke, tmp_path):
    """Numeric parity beyond row count: the streaming dedup must keep
    exactly one row per (user_id, ts) and its surviving KEY SET must
    equal the batch dropDuplicates key set (which row survives per key
    is arrival-order-dependent in both engines, so event_id is
    deliberately excluded from the comparison)."""
    stream = core.dedup_stream(core.stream_events(spark, sf_smoke)).select(
        "event_id", "ts", "user_id"
    )
    sink = _drain(spark, stream, tmp_path)
    got = spark.table(sink)
    batch_keys = (
        core.batch_events(spark, sf_smoke)
        .dropDuplicates(["user_id", "ts"])
        .select("user_id", "ts")
    )
    assert _rows(got.select("user_id", "ts")) == _rows(batch_keys)
    # and the stream emitted no duplicate keys of its own
    assert got.count() == got.select("user_id", "ts").distinct().count()


def test_foreachbatch_upsert_idempotent(spark, sf_smoke, tmp_path):
    """Exactly-once lake semantics: replaying the whole stream into the
    upsert sink must not duplicate rows (L2 via foreachBatch)."""
    lake = str(tmp_path / "lake")
    ev = core.stream_events(spark, sf_smoke).select("event_id", "ts", "user_id", "value")
    core.upsert_sink(ev, lake, str(tmp_path / "ck1"))
    n1 = spark.read.parquet(lake).count()

    # replay from a fresh checkpoint → same source re-delivered
    ev2 = core.stream_events(spark, sf_smoke).select("event_id", "ts", "user_id", "value")
    core.upsert_sink(ev2, lake, str(tmp_path / "ck2"))
    n2 = spark.read.parquet(lake).count()
    assert n1 == n2
    batch_n = (
        core.batch_events(spark, sf_smoke)
        .dropDuplicates(["user_id", "ts"])
        .count()
    )
    assert n1 == batch_n


def test_stateful_running_totals_parity(spark, sf_smoke, tmp_path):
    """Custom stateful operator (applyInPandasWithState): the latest
    per-key emission after draining the whole stream must equal the
    batch groupBy aggregate — state carries correctly across batches."""
    stream = core.stateful_running_totals(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "update")
    latest = (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
    )
    batch = core.batch_running_totals(core.batch_events(spark, sf_smoke))
    assert _rows(latest) == _rows(batch)


def test_late_rows_dropped_past_watermark(spark, sf_smoke, tmp_path):
    """Watermark semantics sanity: with availableNow over a static file
    the final watermark admits all data (single batch), so parity holds;
    this asserts the aggregation emits every window exactly once."""
    stream = core.tumbling_counts(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "complete")
    out = spark.table(sink)
    dups = (
        out.groupBy("win_start", "user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dups == 0


def test_stateful_running_totals_tws_parity(spark, sf_smoke, tmp_path):
    """Same parity on PySpark 4's transformWithStateInPandas; skipped
    where the protobuf dependency is absent (the gated import)."""
    import pytest

    if not core.tws_available():
        with pytest.raises(ImportError):
            core.stateful_running_totals_tws(core.stream_events(spark, sf_smoke))
        pytest.skip("protobuf not available: transformWithState gated off")
    stream = core.stateful_running_totals_tws(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "update")
    latest = (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
    )
    batch = core.batch_running_totals(core.batch_events(spark, sf_smoke))
    assert _rows(latest) == _rows(batch)


def test_stream_stream_join_parity(spark, sf_smoke, tmp_path):
    """Stream-stream interval join drains to the same pairs as the
    identical batch join — and append mode suffices (inner joins emit
    matches as they happen; no aggregation state to finalize)."""
    stream = core.view_purchase_join(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "append")
    batch = core.view_purchase_join(core.batch_events(spark, sf_smoke))
    assert _rows(spark.table(sink)) == _rows(batch)


def test_stream_stream_left_join_decided_region_parity(spark, sf_smoke, tmp_path):
    """Inner matches emit eagerly and must match the batch twin
    exactly; null (abandoned) rows emit only when the watermark proves
    no match can arrive, so they are compared on the watermark-decided
    region and must never exceed the batch null set."""
    stream = core.view_purchase_left_join(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "append")
    got = spark.table(sink).collect()
    want = core.view_purchase_left_join(
        core.batch_events(spark, sf_smoke)
    ).collect()

    def key(r):
        return (r["user_id"], r["view_id"], r["buy_id"])

    got_matched = sorted(key(r) for r in got if r["buy_id"] is not None)
    want_matched = sorted(key(r) for r in want if r["buy_id"] is not None)
    assert got_matched == want_matched

    got_null = {r["view_id"] for r in got if r["buy_id"] is None}
    want_null = {r["view_id"] for r in want if r["buy_id"] is None}
    assert got_null <= want_null  # stream never invents an abandonment
    # decided region: views older than max_ts - watermark - lag are
    # fully resolved at shutdown and must all have been emitted
    import datetime

    max_ts = max(r["view_ts"] for r in want)
    horizon = max_ts - datetime.timedelta(hours=3)
    want_decided = {
        r["view_id"]
        for r in want
        if r["buy_id"] is None and r["view_ts"] < horizon
    }
    assert want_decided <= got_null


def test_chained_join_window_parity(spark, sf_smoke, tmp_path):
    """Two chained stateful operators drain correctly: every emitted
    window matches the batch twin, and all windows closed by the final
    watermark must have been emitted."""
    import datetime

    stream = core.attributed_purchases_hourly(core.stream_events(spark, sf_smoke))
    sink = _drain(spark, stream, tmp_path, "append")
    got = {
        (r["win_start"], r["user_id"]): r["n_attributed"]
        for r in spark.table(sink).collect()
    }
    batch_rows = core.attributed_purchases_hourly(
        core.batch_events(spark, sf_smoke)
    ).collect()
    want = {(r["win_start"], r["user_id"]): r["n_attributed"] for r in batch_rows}
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k], k
    # windows fully closed before the final watermark must all emit
    max_start = max(k[0] for k in want)
    horizon = max_start - datetime.timedelta(hours=4)
    decided = {k for k in want if k[0] < horizon}
    assert decided <= set(got)


def test_checkpoint_resume_processes_only_new_files(spark, sf_smoke, tmp_path):
    """Source-offset exactly-once: drain half the input, then drop a
    second file into the source directory and resume from the SAME
    checkpoint — the second drain must process only the new file (no
    reprocessing, no loss), and the final sink must equal the batch
    aggregate over everything. This is the engine's form of the
    reference's DB-watermark incremental read (L1), with offsets in
    the checkpoint instead of Postgres."""
    import uuid

    from stock_market_etl_spark.io import canon_events_ts

    import glob
    import shutil

    batch = core.batch_events(spark, sf_smoke)
    src = tmp_path / "incoming"
    src.mkdir()

    def land(df, name):
        # the file source lists plain files, not nested write dirs —
        # stage the write, then land the part file as {src}/{name}
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.move(part, str(src / name))

    first = batch.filter(F.col("event_id") % 2 == 0)
    second = batch.filter(F.col("event_id") % 2 == 1)
    land(first, "part1.parquet")

    ckpt = str(tmp_path / "resume_ckpt")
    schema = spark.read.parquet(str(src / "part1.parquet")).schema

    def drain():
        stream = canon_events_ts(
            spark.readStream.schema(schema).format("parquet").load(str(src))
        ).groupBy("user_id").agg(F.count("*").alias("n_events"))
        name = f"resume_{uuid.uuid4().hex[:8]}"
        core.run_available_now(stream, name, ckpt, output_mode="complete")
        return name

    sink1 = drain()
    n_first = sum(r["n_events"] for r in spark.table(sink1).collect())
    assert n_first == first.count()

    land(second, "part2.parquet")
    sink2 = drain()
    totals = {
        r["user_id"]: r["n_events"] for r in spark.table(sink2).collect()
    }
    expect = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert totals == expect  # no loss, no double-count across the resume


def test_multi_microbatch_state_carries(spark, sf_smoke, tmp_path):
    """State must carry across micro-batches, not just within one:
    the source is split into three time-ordered files and drained with
    maxFilesPerTrigger=1, so the tumbling aggregation runs as three
    successive stateful batches (watermark advancing between them).
    Time-ordered splits mean nothing arrives late, so the final state
    must equal the single-batch twin exactly."""
    import glob
    import shutil
    import uuid

    from stock_market_etl_spark.io import canon_events_ts

    batch = core.batch_events(spark, sf_smoke).withColumn(
        "__us", F.unix_micros("ts")
    )
    bounds = batch.approxQuantile("__us", [0.33, 0.66], 0.0)
    src = tmp_path / "ordered"
    src.mkdir()

    def land(df, name):
        stage = tmp_path / f"st_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.move(
            glob.glob(str(stage / "part-*.parquet"))[0], str(src / name)
        )

    land(batch.filter(F.col("__us") <= bounds[0]).drop("__us"), "t0.parquet")
    land(
        batch.filter(
            (F.col("__us") > bounds[0]) & (F.col("__us") <= bounds[1])
        ).drop("__us"),
        "t1.parquet",
    )
    land(batch.filter(F.col("__us") > bounds[1]).drop("__us"), "t2.parquet")

    schema = spark.read.parquet(str(src / "t0.parquet")).schema
    stream = core.tumbling_counts(
        canon_events_ts(
            spark.readStream.schema(schema)
            .format("parquet")
            # one file per micro-batch → three stateful batches; file
            # source orders by modification time, and the landing order
            # above is the time order
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
    )
    name = f"mb_{uuid.uuid4().hex[:8]}"
    core.run_available_now(
        stream, name, str(tmp_path / "mb_ckpt"), output_mode="complete"
    )
    want = core.tumbling_counts(batch.drop("__us"))
    assert _rows(spark.table(name)) == _rows(want)


def test_dedup_ingest_multibatch_and_redelivery(spark, sf_smoke, tmp_path):
    """Dedup-on-arrival corpus builder (n9's engine), forced through
    MULTIPLE micro-batches: the built corpus must carry every distinct
    content exactly once (arrival order decides which copy survives —
    content identity, not row identity, is the exactly-once grain),
    and a full redelivery of the stream (fresh checkpoint, same
    source) must append NOTHING — the content-hash anti-join makes
    at-least-once delivery idempotent without transactional writes."""
    import os

    from stock_market_etl_spark.io import load_table

    docs = load_table(spark, sf_smoke, "documents")
    src = str(tmp_path / "arrivals")
    # three arrival files ⇒ three micro-batches under maxFilesPerTrigger=1
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    corpus_path = str(tmp_path / "corpus")

    def run(ckpt: str) -> None:
        stream = core.stream_documents(
            spark, src, max_files_per_trigger=1
        )
        core.dedup_ingest_sink(
            stream, corpus_path, os.path.join(str(tmp_path), ckpt)
        )

    run("ckpt_a")
    corpus = spark.read.parquet(corpus_path)
    hashes = corpus.select(F.sha2("text", 256).alias("h"))
    want = docs.select(F.sha2("text", 256).alias("h")).distinct()
    # every distinct content exactly once
    assert corpus.count() == want.count()
    assert _rows(hashes.distinct()) == _rows(want)
    assert hashes.count() == hashes.distinct().count()

    # redelivery: same files, fresh checkpoint — nothing may land
    run("ckpt_b")
    assert spark.read.parquet(corpus_path).count() == want.count()


def test_dedup_ingest_near_dup_tier(spark, sf_smoke, tmp_path):
    """With threshold set, the ingest sink also drops batch docs that
    near-duplicate (MinHash-LSH + exact Jaccard re-rank) an
    already-landed doc: the streamed result must match the same
    two-tier dedup composed in batch over the same arrival split."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import (
        exact_dedup,
        incremental_dedup,
    )

    docs = load_table(spark, sf_smoke, "documents").filter(
        F.col("doc_id") < 400
    )
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "arrivals")
    # one file per arrival wave; distinct mtimes pin source file order
    # (FileStreamSource drains oldest-first under maxFilesPerTrigger)
    import time

    first.coalesce(1).write.parquet(src + "/w=0")
    time.sleep(1.2)
    second.coalesce(1).write.parquet(src + "/w=1")

    stream = core.stream_documents(
        spark, src, glob="*.parquet", max_files_per_trigger=1
    )
    corpus_path = str(tmp_path / "corpus")
    core.dedup_ingest_sink(
        stream,
        corpus_path,
        str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    got = {
        r.doc_id
        for r in spark.read.parquet(corpus_path)
        .select("doc_id")
        .collect()
    }

    cols = docs.columns
    wave1 = exact_dedup(first).select(*cols)
    wave2 = incremental_dedup(
        wave1, exact_dedup(second).select(*cols), threshold=0.5,
        source="lsh",
    ).select(*cols)
    want = {r.doc_id for r in wave1.unionByName(wave2).select("doc_id").collect()}
    assert got == want


def test_ivf_append_multibatch_redelivery_and_probe_identity(
    spark, sf_smoke, tmp_path
):
    """Streaming IVF maintenance (n10's engine), forced through
    multiple micro-batches: the streamed index must hold every vector
    exactly once with the same cell assignment k-means would give
    (assign_cells ≡ model.transform), a full redelivery (fresh
    checkpoint, same source) must append nothing, and a probe over the
    streamed index must equal the probe over the batch-built index."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity

    emb = load_table(spark, sf_smoke, "embeddings")
    assigned_batch, centers = similarity.ivf_index(emb, n_lists=8)

    index_path = str(tmp_path / "index")
    centers.write.parquet(os.path.join(index_path, "centroids"))
    src = str(tmp_path / "arrivals")
    # three arrival files ⇒ three micro-batches under maxFilesPerTrigger=1
    for k in range(3):
        emb.filter(F.col("vec_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ckpt: str) -> None:
        stream = core.stream_documents(
            spark, src, max_files_per_trigger=1
        )
        core.ivf_append_sink(
            stream, index_path, os.path.join(str(tmp_path), ckpt)
        )

    run("ckpt_a")
    streamed, centers_lake = similarity.read_ivf_index(spark, index_path)
    want = {
        (r["vec_id"], r["__cell"])
        for r in assigned_batch.select("vec_id", "__cell").collect()
    }
    got = {
        (r["vec_id"], r["__cell"])
        for r in streamed.select("vec_id", "__cell").collect()
    }
    assert got == want
    assert streamed.count() == emb.count()

    # redelivery: same files, fresh checkpoint — nothing may land
    run("ckpt_b")
    assert spark.read.parquet(
        os.path.join(index_path, "cells")
    ).count() == emb.count()

    p_stream = similarity.ivf_probe(
        streamed, centers_lake, query_id=0, n_probe=4
    )
    p_batch = similarity.ivf_probe(
        assigned_batch, centers, query_id=0, n_probe=4
    )
    assert sorted(map(tuple, p_stream.collect())) == sorted(
        map(tuple, p_batch.collect())
    )


def test_stream_static_enrich_multibatch_parity(spark, sf_smoke, tmp_path):
    """Stream-static enrichment (n11's engine) forced through multiple
    micro-batches must equal the batch join exactly — stateless row-wise
    enrichment has no window/watermark edge, so full-value parity holds
    for ANY batch slicing."""
    import uuid

    ev = core.batch_events(spark, sf_smoke)
    src = str(tmp_path / "arrivals")
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    dim = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.max("ts").alias("latest_signup"))
    )
    stream = core.enrich_with_dim(
        core.stream_documents(spark, src, max_files_per_trigger=1), dim
    ).select("event_id", "user_id", "latest_signup")
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    core.run_available_now(
        stream, name, str(tmp_path / "ckpt"), output_mode="append"
    )
    want = core.enrich_with_dim(ev, dim).select(
        "event_id", "user_id", "latest_signup"
    )
    assert _rows(spark.table(name)) == _rows(want)


def test_dedup_ingest_clean_on_arrival(spark, sf_smoke, tmp_path):
    """The ingest sink's transform hook (clean-on-arrival): every landed
    doc is cleaned (length floor + PII scrub) BEFORE dedup, and the
    corpus equals the same clean→exact-dedup composition in batch —
    including a redelivery that must land nothing."""
    import os

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import exact_dedup
    from stock_market_etl_spark.operators.text import pii_redact

    def clean(df):
        return df.filter(F.col("n_chars") >= 150).withColumn(
            "text", pii_redact(F.col("text"))
        )

    docs = load_table(spark, sf_smoke, "documents")
    src = str(tmp_path / "arrivals")
    for k in range(2):
        docs.filter(F.col("doc_id") % 2 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    corpus_path = str(tmp_path / "corpus")

    def run(ckpt):
        stream = core.stream_documents(spark, src, max_files_per_trigger=1)
        core.dedup_ingest_sink(
            stream, corpus_path, os.path.join(str(tmp_path), ckpt),
            transform=clean,
        )

    run("ckpt_a")
    corpus = spark.read.parquet(corpus_path)
    cleaned = clean(docs)
    want_hashes = {
        r["h"]
        for r in cleaned.select(F.sha2("text", 256).alias("h")).distinct().collect()
    }
    got_hashes = {
        r["h"]
        for r in corpus.select(F.sha2("text", 256).alias("h")).collect()
    }
    assert got_hashes == want_hashes
    assert corpus.count() == len(want_hashes)  # exactly once per content
    # everything landed passed the floor and carries no raw PII
    assert corpus.filter(F.col("n_chars") < 150).count() == 0

    run("ckpt_b")  # redelivery lands nothing
    assert spark.read.parquet(corpus_path).count() == len(want_hashes)


def test_stream_session_transcripts_parity(spark, sf_smoke, tmp_path):
    """Drained streaming transcripts (session_window + collect_list
    state) must equal the batch gaps-and-islands operator exactly,
    including transcript token order."""
    from stock_market_etl_spark.operators import sessions

    stream = core.session_transcripts_stream(
        core.stream_events(spark, sf_smoke)
    )
    sink = _drain(spark, stream, tmp_path, "complete")
    batch = sessions.session_transcripts(
        core.batch_events(spark, sf_smoke), gap_minutes=30
    ).select("user_id", "sess_start", "sess_end", "n_turns", "transcript")
    assert _rows(spark.table(sink)) == _rows(batch)


def test_stream_session_transcripts_merge_across_batches(
    spark, sf_smoke, tmp_path
):
    """Sessions OPEN at a micro-batch boundary must merge with their
    continuation in the next batch (session_window state-merge).
    Synthetic source, straddling by construction: user 1's first
    session spans files t0/t1 (9:05 → 9:20, gap < 30 min across the
    boundary) and user 2's second spans t1/t2. Drained one file per
    micro-batch, the result must equal the single-batch twin — if the
    state store failed to merge, the straddling sessions would emit
    split in two."""
    import datetime
    import glob
    import shutil
    import uuid

    from stock_market_etl_spark.operators import sessions

    t0 = datetime.datetime(2024, 3, 1, 9, 0, 0)

    def ev(eid, mins, uid, typ):
        return (eid, t0 + datetime.timedelta(minutes=mins), uid, typ)

    files = [
        [ev(1, 0, 1, "view"), ev(2, 5, 1, "click"), ev(3, 0, 2, "view")],
        [ev(4, 20, 1, "buy"), ev(5, 90, 2, "view")],
        [ev(6, 180, 1, "view"), ev(7, 100, 2, "buy")],
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    src = tmp_path / "sess_ordered"
    src.mkdir()
    for i, rows in enumerate(files):
        stage = tmp_path / f"sess_st_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        shutil.move(
            glob.glob(str(stage / "part-*.parquet"))[0],
            str(src / f"t{i}.parquet"),
        )

    stream = core.session_transcripts_stream(
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    name = f"sessmb_{uuid.uuid4().hex[:8]}"
    core.run_available_now(
        stream, name, str(tmp_path / "sessmb_ckpt"), output_mode="complete"
    )
    all_rows = [r for rows in files for r in rows]
    want = sessions.session_transcripts(
        spark.createDataFrame(all_rows, schema), gap_minutes=30
    ).select("user_id", "sess_start", "sess_end", "n_turns", "transcript")
    got = _rows(spark.table(name))
    assert got == _rows(want)
    # the straddling sessions really did merge across batches
    merged = {(r[0], r[3], r[4]) for r in got}
    assert (1, 3, "view click buy") in merged  # u1 spans t0/t1
    assert (2, 2, "view buy") in merged  # u2 spans t1/t2


def test_observed_stream_audit_sums_across_batches(spark, sf_smoke, tmp_path):
    """Streaming observed audit (core.observe_stream_audit): per-batch
    metrics from StreamingQueryProgress.observedMetrics must reconstruct
    the batch audit exactly — counters sum across micro-batches, the
    watermark is the running max. Three time-ordered files drained with
    maxFilesPerTrigger=1 force three observed batches. The watermark
    metric audits unix_micros(ts) (a LONG) so the progress-JSON round
    trip is exact."""
    import glob
    import shutil
    import uuid

    from stock_market_etl_spark.io import canon_events_ts

    batch = core.batch_events(spark, sf_smoke).select(
        "user_id",
        F.when(F.col("value") < 5.0, None).otherwise(F.col("value")).alias(
            "value"
        ),
        F.unix_micros("ts").alias("ts_us"),
    )
    src = tmp_path / "obs_ordered"
    src.mkdir()

    def land(df, name):
        stage = tmp_path / f"obs_st_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.move(
            glob.glob(str(stage / "part-*.parquet"))[0], str(src / name)
        )

    bounds = batch.approxQuantile("ts_us", [0.33, 0.66], 0.0)
    land(batch.filter(F.col("ts_us") <= bounds[0]), "t0.parquet")
    land(
        batch.filter(
            (F.col("ts_us") > bounds[0]) & (F.col("ts_us") <= bounds[1])
        ),
        "t1.parquet",
    )
    land(batch.filter(F.col("ts_us") > bounds[1]), "t2.parquet")

    schema = spark.read.parquet(str(src / "t0.parquet")).schema
    stream = core.observe_stream_audit(
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src)),
        keys=("user_id", "value"),
        watermark_col="ts_us",
    )
    name = f"obs_{uuid.uuid4().hex[:8]}"
    q = core.run_available_now(stream, name, str(tmp_path / "obs_ckpt"))

    observed = [
        p["observedMetrics"]["audit"]
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("audit")
    ]
    assert len(observed) == 3, [p.get("batchId") for p in q.recentProgress]
    totals = {
        "n_rows": sum(m["n_rows"] for m in observed),
        "null_user_id": sum(m["null_user_id"] for m in observed),
        "null_value": sum(m["null_value"] for m in observed),
        "max_ts_us": max(m["max_ts_us"] for m in observed),
    }
    want = batch.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_user_id"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_value"),
        F.max("ts_us").alias("max_ts_us"),
    ).collect()[0]
    assert totals == {
        "n_rows": want["n_rows"],
        "null_user_id": want["null_user_id"],
        "null_value": want["null_value"],
        "max_ts_us": want["max_ts_us"],
    }
    # and the sink saw every row exactly once
    assert spark.table(name).count() == want["n_rows"]


def test_gated_ingest_multibatch_matches_batch_twin(spark, sf_smoke, tmp_path):
    """n13's gate composes with the multi-batch ingest machinery: a
    3-batch gated drain must land exactly the batch twin's survivor
    set — x51 keep filter, then one copy per distinct surviving
    content (arrival order decides the copy; content set is what is
    pinned) — and never a gated-out doc."""
    import os

    from stock_market_etl_spark.catalog.streaming_queries import _gopher_gate
    from stock_market_etl_spark.io import load_table

    docs = load_table(spark, sf_smoke, "documents")
    src = str(tmp_path / "gated_arrivals")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    corpus_path = str(tmp_path / "gated_corpus")
    stream = core.stream_documents(spark, src, max_files_per_trigger=1)
    core.dedup_ingest_sink(
        stream,
        corpus_path,
        os.path.join(str(tmp_path), "gated_ckpt"),
        transform=_gopher_gate,
    )
    corpus = spark.read.parquet(corpus_path)
    want = _gopher_gate(docs)
    want_hashes = want.select(F.sha2("text", 256).alias("h")).distinct()
    got_hashes = corpus.select(F.sha2("text", 256).alias("h"))
    assert _rows(got_hashes.distinct()) == _rows(want_hashes)
    assert got_hashes.count() == want_hashes.count()  # exactly once
    # no gated-out doc slipped in
    assert corpus.join(want, "doc_id", "left_anti").count() == 0


def test_jdbc_serving_multibatch_and_redelivery(spark, sf_smoke, tmp_path):
    """n14's engine forced through MULTIPLE micro-batches: the Derby
    serving table must converge to the batch groupBy (update-mode
    state owns the running totals; each batch upserts only changed
    keys), and a full redelivery (fresh checkpoint, same source) must
    leave the table bit-identical — at-least-once delivery +
    idempotent key-grain upsert, no transactional sink needed."""
    import os

    from stock_market_etl_spark.io import load_jdbc, load_table

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "arrivals")
    # three arrival files ⇒ three micro-batches under maxFilesPerTrigger=1
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    url = f"jdbc:derby:{tmp_path}/servedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def run(ckpt: str) -> None:
        from stock_market_etl_spark.io import canon_events_ts

        stream = canon_events_ts(
            core.stream_documents(spark, src, max_files_per_trigger=1)
        )
        core.jdbc_serving_sink(
            core.serving_totals(stream),
            url,
            "user_type_totals",
            ("user_id", "event_type"),
            os.path.join(str(tmp_path), ckpt),
            props,
        )

    def served():
        return load_jdbc(
            spark,
            url,
            'SELECT "user_id", "event_type", "n_events", "total_value" '
            "FROM user_type_totals",
            properties=props,
        )

    run("ckpt_a")
    want = _rows(core.serving_totals(ev))
    assert _rows(served()) == want

    # full redelivery: fresh checkpoint rebuilds state from scratch;
    # every intermediate upsert is overwritten by the converged totals
    run("ckpt_b")
    assert _rows(served()) == want


def test_lake_batch_sink_redelivery_idempotent(spark, sf_smoke, tmp_path):
    """b14's exactly-once contract: redelivering the whole stream (same
    batch ids, fresh checkpoint) must leave the lake byte-identical —
    each batch OVERWRITES its own batch_id directory instead of
    appending a duplicate copy."""
    lake = str(tmp_path / "lake")
    core.lake_batch_sink(
        core.stream_events(spark, sf_smoke), lake, str(tmp_path / "ck1")
    )
    first = _rows(spark.read.parquet(lake).select("event_id", "value"))

    # fresh checkpoint → the file source re-delivers everything with
    # the SAME batch numbering; the sink must converge, not double
    core.lake_batch_sink(
        core.stream_events(spark, sf_smoke), lake, str(tmp_path / "ck2")
    )
    again = spark.read.parquet(lake)
    assert _rows(again.select("event_id", "value")) == first
    # partition layout: batch_id and event_date both discovered
    assert {"batch_id", "event_date"} <= set(again.columns)
    n_batch = core.batch_events(spark, sf_smoke).count()
    assert again.count() == n_batch


def test_ohlc_multibatch_matches_batch_twin(spark, sf_smoke, tmp_path):
    """n16's engine forced through multiple micro-batches: bars must
    accrete across arrivals (open pinned by the earliest tick seen,
    close replaced by later ones) and the complete-mode drain must
    equal the batch resample exactly for ANY batch slicing — min_by/
    max_by state carries (value, ts) pairs, so arrival order is
    irrelevant."""
    import uuid

    ev = core.batch_events(spark, sf_smoke)
    src = str(tmp_path / "arrivals")
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = core.ohlc_bars(
        core.stream_documents(spark, src, max_files_per_trigger=1)
    )
    name = f"ohlc_{uuid.uuid4().hex[:8]}"
    core.run_available_now(
        stream, name, str(tmp_path / "ckpt"), output_mode="complete"
    )
    want = core.ohlc_bars(ev)
    assert _rows(spark.table(name)) == _rows(want)


def _checkpoint_width(ckpt: str) -> tuple[int, int]:
    """(width recorded in the latest offset-log entry, state-store
    partitions of stateful operator 0) of a streaming checkpoint."""
    import json
    import os

    offsets = os.path.join(ckpt, "offsets")
    latest = max(int(f) for f in os.listdir(offsets) if f.isdigit())
    with open(os.path.join(offsets, str(latest))) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    state = os.path.join(ckpt, "state", "0")
    parts = [d for d in os.listdir(state) if d.isdigit()]
    return int(meta["conf"]["spark.sql.shuffle.partitions"]), len(parts)


def test_checkpoint_keeps_its_width_across_a_width_change(
    spark, sf_smoke, tmp_path
):
    """Upgrade path for the core-sized shuffle width: a bar checkpoint
    created at width 32 resumes under a session of a different width
    with no migration. Spark restores the width from the offset log,
    so the resumed query keeps all 32 state partitions, and the bars
    after the resume equal the batch twin. A checkpoint created under
    the session's own width gets that many state partitions."""
    import uuid

    from stock_market_etl_spark.session import shuffle_width

    ev = core.batch_events(spark, sf_smoke)
    src = str(tmp_path / "arrivals")
    width = shuffle_width(spark)

    def drain(ckpt):
        stream = core.ohlc_bars(core.stream_documents(spark, src))
        name = f"ohlc_{uuid.uuid4().hex[:8]}"
        core.run_available_now(stream, name, ckpt, output_mode="complete")
        return name

    old = str(tmp_path / "ckpt_w32")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        drain(old)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
    assert _checkpoint_width(old) == (32, 32)

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    resumed = drain(old)
    want = _rows(core.ohlc_bars(ev))
    assert _rows(spark.table(resumed)) == want
    assert _checkpoint_width(old) == (32, 32)

    fresh = str(tmp_path / "ckpt_fresh")
    assert _rows(spark.table(drain(fresh))) == want
    assert _checkpoint_width(fresh) == (width, width)


def test_agg_partials_multibatch_and_redelivery(spark, sf_smoke, tmp_path):
    """n17's continuous aggregate forced through multiple micro-batches:
    merged partials must equal the full batch rollup for ANY batch
    slicing, and a REDELIVERED batch (same batch_id re-written) must
    leave the merged state unchanged — the overwrite-own-directory
    idempotence that makes additive state safe under at-least-once
    delivery."""
    import os

    ev = core.batch_events(spark, sf_smoke)
    src = str(tmp_path / "arrivals")
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    lake = str(tmp_path / "lake")
    core.agg_partials_sink(
        core.stream_documents(spark, src, max_files_per_trigger=1),
        lake,
        str(tmp_path / "ckpt"),
    )

    def rounded(df):
        # sums accumulate in different orders (per-batch partials vs
        # one pass) — compare at the catalog's 6dp output grain
        return _rows(
            df.select(
                "user_id", "day", "n_events",
                F.round("sum_value", 6).alias("s"),
                F.round("min_value", 6).alias("mn"),
                F.round("max_value", 6).alias("mx"),
            )
        )

    got = rounded(core.read_agg_state(spark, lake))
    want = rounded(core.daily_rollup(ev))
    assert got == want

    # redelivery: re-write batch 1's partials (same directory) — the
    # merged state must not change
    replay = ev.filter(F.col("event_id") % 3 == 1)
    core.daily_rollup(replay).write.mode("overwrite").parquet(
        os.path.join(lake, "batch_id=1")
    )
    assert rounded(core.read_agg_state(spark, lake)) == want


def test_snapshot_lake_sink_versions_increments_redelivery(
    spark, sf_smoke, tmp_path
):
    """n18's engine (streaming → manifest-versioned lake): three
    arrival files drain as three micro-batches ⇒ three snapshot
    versions; read_increment(N-1, N) is EXACTLY batch N (the CDC
    contract at batch grain); the final snapshot equals the batch
    union; and redelivering a batch (same txn id) commits nothing —
    at-least-once delivery, exactly-once table state."""
    import os

    from stock_market_etl_spark.io import (
        _latest_version,
        commit_snapshot,
        load_table,
        read_increment,
        read_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    src = str(tmp_path / "arrivals")
    # three arrival files ⇒ three micro-batches under maxFilesPerTrigger=1
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    table = str(tmp_path / "table")

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    core.snapshot_lake_sink(stream, table, str(tmp_path / "ckpt"))

    assert _latest_version(table) == 3

    def _ids(df):
        return sorted(r["event_id"] for r in df.collect())

    # final snapshot = the whole fixture
    assert _ids(read_snapshot(spark, table, 3)) == _ids(ev)
    # each version increment is exactly one micro-batch (one arrival
    # file; FileStreamSource drains oldest-first, mod-3 slices landed
    # in order k=0,1,2)
    batches = [
        _ids(read_increment(spark, table, v - 1, v)) for v in (1, 2, 3)
    ]
    assert sorted(sum(batches, [])) == _ids(ev)
    for ids, k in zip(batches, (0, 1, 2)):
        assert all(i % 3 == k for i in ids)

    # redelivery: re-committing any batch's txn id is a no-op. The
    # sink scopes txn ids by a hash of the checkpoint path (r10
    # ADVICE fix — Delta's (appId, version) idempotence key), so the
    # redelivered id must carry the same scope the sink used.
    import hashlib

    ns = hashlib.sha256(
        os.path.abspath(str(tmp_path / "ckpt")).encode()
    ).hexdigest()[:12]
    before = _latest_version(table)
    v = commit_snapshot(
        spark, table, ev.limit(5), txn_id=f"stream-{ns}-batch-0"
    )
    assert v <= before and _latest_version(table) == before
    assert _ids(read_snapshot(spark, table, before)) == _ids(ev)

    # …and the scoping is the point: a DIFFERENT producer (another
    # query, or the same query restarted with a FRESH checkpoint —
    # batch ids reset to 0) must NOT collide with this query's
    # batch-0 txn. Pre-fix, its first batch would have been silently
    # swallowed as a duplicate.
    other_ns = hashlib.sha256(
        os.path.abspath(str(tmp_path / "ckpt2")).encode()
    ).hexdigest()[:12]
    v2 = commit_snapshot(
        spark, table, ev.limit(5), txn_id=f"stream-{other_ns}-batch-0"
    )
    assert v2 == before + 1 and _latest_version(table) == before + 1


def test_snapshot_lake_sink_records_stats(spark, sf_smoke, tmp_path):
    """The streaming half of b23: snapshot_lake_sink(stat_columns=...)
    creates a stats-recording table on the FIRST micro-batch, later
    batches inherit the column set, and a predicate read on the
    stream-fed table prunes files exactly as on a batch-built one."""
    import json
    import os

    from stock_market_etl_spark.io import (
        _latest_version,
        load_table,
        read_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    n = ev.agg(F.max("event_id")).collect()[0][0]
    src = str(tmp_path / "arrivals")
    # two arrival files with DISJOINT event_id ranges ⇒ two batches
    # whose committed files carry disjoint bands
    for lo, hi in ((-1, n // 2), (n // 2, n)):  # ids start at 0
        ev.filter(
            (F.col("event_id") > lo) & (F.col("event_id") <= hi)
        ).coalesce(1).write.mode("append").parquet(src)
    table = str(tmp_path / "table")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    core.snapshot_lake_sink(
        stream, table, str(tmp_path / "ckpt"), stat_columns=["event_id"]
    )
    v = _latest_version(table)
    assert v == 2
    with open(os.path.join(table, f"_v{v}.manifest.json")) as fh:
        m = json.load(fh)
    assert m["stat_columns"] == ["event_id"]
    assert set(m["stats"]) == set(m["files"])
    pred = [("event_id", "<=", n // 2)]
    got = read_snapshot(spark, table, v, predicate=pred)
    assert 0 < len(set(got.inputFiles())) < len(m["files"])
    assert got.count() == ev.filter(F.col("event_id") <= n // 2).count()


def test_snapshot_lake_sink_honors_legacy_txn_ids(
    spark, sf_smoke, tmp_path
):
    """ADVICE r10 migration shim, OPT-IN form: a producer resuming
    its own pre-format-change run passes ``legacy_txn_compat=True``
    and the replayed batch 0 (already committed as the bare
    'stream-batch-0') lands nothing; a NEW producer with the default
    False must NOT have its batches swallowed by that legacy history
    — its rows land under its own scoped ids."""
    from stock_market_etl_spark.io import (
        _latest_version,
        commit_snapshot,
        load_table,
        read_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    batch0 = ev.filter(F.col("event_id") % 2 == 0)
    src = str(tmp_path / "arrivals")
    batch0.coalesce(1).write.parquet(src)
    table = str(tmp_path / "table")

    # pre-upgrade state: batch 0 already committed under the LEGACY id
    commit_snapshot(spark, table, batch0, txn_id="stream-batch-0")
    assert _latest_version(table) == 1

    schema = spark.read.parquet(src).schema

    def run(ckpt, **kw):
        stream = (
            spark.readStream.schema(schema).format("parquet").load(src)
        )
        core.snapshot_lake_sink(stream, table, str(tmp_path / ckpt), **kw)

    # post-upgrade restart of the SAME producer (fresh checkpoint
    # simulates the replayed offset): with the migration flag on,
    # nothing may land
    run("ckpt", legacy_txn_compat=True)
    assert _latest_version(table) == 1
    got = sorted(
        r["event_id"] for r in read_snapshot(spark, table, 1).collect()
    )
    assert got == sorted(r["event_id"] for r in batch0.collect())

    # a NEW producer (default False) ingesting into the legacy table:
    # its batch 0 must COMMIT despite the bare legacy 'stream-batch-0'
    # marker — the pre-fix unconditional probe silently dropped it
    run("ckpt_new_producer")
    assert _latest_version(table) == 2


def test_substring_gate_multibatch_and_redelivery(spark, tmp_path):
    """n19's engine on planted structure: (1) a batch doc sharing a
    >= k run with the INDEXED corpus is cut; (2) two docs sharing a
    run WITHIN one micro-batch cut each other (batch-internal
    duplication counts); (3) a later batch sharing a run only with an
    EARLIER batch is NOT cut — the frozen-release contract the
    docstring states (merge_window_index is the release step); (4) a
    full redelivery (fresh checkpoint, same files) lands nothing."""
    from stock_market_etl_spark.operators.dedup import write_window_index

    run = "r1 r2 r3 r4"  # the k=4 shared run
    corpus = spark.createDataFrame(
        [(1, f"c1 c2 {run} c3 c4")], ["doc_id", "text"]
    )
    index_path = str(tmp_path / "idx")
    write_window_index(corpus, index_path, k=4)

    src = str(tmp_path / "arrivals")
    batch1 = spark.createDataFrame(
        [
            (100, f"a1 a2 {run} a3 a4"),     # shares run with corpus → cut
            (101, "b1 b2 b3 b4 b5 b6 b7"),   # clean
            (102, "q1 q2 s1 s2 s3 s4 q3"),   # shares s-run with 103 → cut
            (103, "q4 q5 s1 s2 s3 s4 q6"),   # batch-internal pair → cut
        ],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        # shares b-run only with batch1's 101 — index is frozen, so NOT cut
        [(200, "z1 b1 b2 b3 b4 z2")],
        ["doc_id", "text"],
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "clean")

    def run_gate(ckpt):
        stream = (
            spark.readStream.schema(batch1.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        core.substring_gate_sink(
            stream, out, str(tmp_path / ckpt), index_path
        )

    run_gate("ckpt1")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[100] == "a1 a2 a3 a4"
    assert got[101] == "b1 b2 b3 b4 b5 b6 b7"
    assert got[102] == "q1 q2 q3"
    assert got[103] == "q4 q5 q6"
    assert got[200] == "z1 b1 b2 b3 b4 z2"  # frozen release: untouched
    assert len(got) == 5

    # full redelivery: fresh checkpoint, same files — nothing lands
    run_gate("ckpt2")
    again = spark.read.parquet(out)
    assert again.count() == 5
    assert {
        r["doc_id"]: r["clean_text"] for r in again.collect()
    } == got


def test_decontamination_gate_multibatch_and_redelivery(spark, tmp_path):
    """n21's engine on planted structure — the flag condition is
    presence-in-the-frozen-EVAL-index, nothing else: (1) a training
    doc sharing a >= k run with the indexed eval split is cut; (2)
    two docs sharing a run WITHIN one micro-batch land UNTOUCHED
    (batch-internal duplication is the n19 gate's business, the
    deliberate divergence from substring_gate_sink); (3) a later
    batch sharing a run only with an earlier batch is untouched
    (stateless across batches — no cross-batch count can flip a
    verdict); (4) a full redelivery (fresh checkpoint, same files)
    lands nothing."""
    from stock_market_etl_spark.operators.dedup import write_window_index
    from stock_market_etl_spark.streaming import core

    leak = "l1 l2 l3 l4"  # the k=4 eval run
    eval_split = spark.createDataFrame(
        [(900, f"e1 {leak} e2")], ["doc_id", "text"]
    )
    index_path = str(tmp_path / "eval_idx")
    write_window_index(eval_split, index_path, k=4)

    src = str(tmp_path / "arrivals")
    batch1 = spark.createDataFrame(
        [
            (100, f"a1 a2 {leak} a3 a4"),    # eval leak → cut
            (101, "q1 q2 s1 s2 s3 s4 q3"),   # batch-internal pair…
            (102, "q4 q5 s1 s2 s3 s4 q6"),   # …both land untouched
        ],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        # shares the s-run only with batch1 — stateless gate: untouched
        [(200, "z1 s1 s2 s3 s4 z2"), (201, f"w1 {leak} w2")],
        ["doc_id", "text"],
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "clean")

    def run_gate(ckpt):
        stream = (
            spark.readStream.schema(batch1.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        core.decontamination_gate_sink(
            stream, out, str(tmp_path / ckpt), index_path
        )

    run_gate("ckpt1")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[100] == "a1 a2 a3 a4"
    assert got[101] == "q1 q2 s1 s2 s3 s4 q3"  # NOT dedup's business
    assert got[102] == "q4 q5 s1 s2 s3 s4 q6"
    assert got[200] == "z1 s1 s2 s3 s4 z2"     # stateless across batches
    assert got[201] == "w1 w2"                 # leak cut in any batch
    assert len(got) == 5

    # full redelivery: fresh checkpoint, same files — nothing lands
    run_gate("ckpt2")
    again = spark.read.parquet(out)
    assert again.count() == 5
    assert {
        r["doc_id"]: r["clean_text"] for r in again.collect()
    } == got


def test_decontamination_multi_release_lifecycle(spark, tmp_path):
    """The multi-release decontamination lifecycle end-to-end
    (VERDICT r13 task 7): eval RELEASE 1 indexes; the gate cuts its
    leaks but passes content only release 2 will hold; release 2
    arrives and folds in via `merge_window_index` at increment cost;
    `publish_window_index` freezes the merged index as release 2's
    artifact; n21's gate against the MERGED artifact now cuts BOTH
    releases' leaks; and the merged-release gate output is
    bit-identical to a gate against an index REBUILT from the union —
    the merged ≡ rebuilt identity at the streaming seam, not just the
    DataFrame seam. Publishing is write-once: an in-place re-publish
    refuses (the merged plan still reads the prior release's files)."""
    import pytest

    from stock_market_etl_spark.operators.dedup import (
        merge_window_index,
        publish_window_index,
        read_window_index,
        write_window_index,
    )
    from stock_market_etl_spark.streaming import core

    leak1, leak2 = "l1 l2 l3 l4", "m1 m2 m3 m4"
    eval_r1 = spark.createDataFrame(
        [(900, f"e1 {leak1} e2")], ["doc_id", "text"]
    )
    eval_r2 = spark.createDataFrame(
        [(901, f"f1 {leak2} f2")], ["doc_id", "text"]
    )
    p1 = str(tmp_path / "eval_idx_r1")
    write_window_index(eval_r1, p1, k=4)

    train = spark.createDataFrame(
        [
            (100, f"a1 {leak1} a2"),   # release-1 leak → always cut
            (101, f"b1 {leak2} b2"),   # release-2 leak → cut after merge
            (102, "c1 c2 c3 c4 c5"),   # clean → always untouched
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "arrivals")
    train.coalesce(1).write.mode("append").parquet(src)

    def run_gate(index_path, out, ckpt):
        stream = (
            spark.readStream.schema(train.schema)
            .format("parquet")
            .load(src)
        )
        core.decontamination_gate_sink(
            stream, out, str(tmp_path / ckpt), index_path
        )
        return {
            r["doc_id"]: r["clean_text"]
            for r in spark.read.parquet(out).collect()
        }

    # release 1: leak2 is not in any eval split yet — passes
    got1 = run_gate(p1, str(tmp_path / "clean_r1"), "ck1")
    assert got1 == {
        100: "a1 a2",
        101: f"b1 {leak2} b2",
        102: "c1 c2 c3 c4 c5",
    }

    # release 2 arrives: merge at increment cost, publish frozen
    idx, built_k = read_window_index(spark, p1)
    merged = merge_window_index(idx, eval_r2, built_k, k=built_k)
    p2 = str(tmp_path / "eval_idx_r2")
    publish_window_index(merged, p2, built_k)
    got2 = run_gate(p2, str(tmp_path / "clean_r2"), "ck2")
    assert got2 == {100: "a1 a2", 101: "b1 b2", 102: "c1 c2 c3 c4 c5"}

    # merged ≡ rebuilt at the streaming seam
    p3 = str(tmp_path / "eval_idx_rebuilt")
    write_window_index(eval_r1.unionByName(eval_r2), p3, k=4)
    got3 = run_gate(p3, str(tmp_path / "clean_rebuilt"), "ck3")
    assert got3 == got2

    # write-once release contract: in-place re-publish refuses
    with pytest.raises(Exception, match="already exists|LOCATION"):
        publish_window_index(merged, p2, built_k)

    # provenance guard (review r14): merge tags its result with the
    # width it validated, and publishing it with a CONTRADICTING
    # built_k (the habitual default-8 typo) refuses loudly — a wrong
    # recorded k is unverifiable from the digests and would make
    # every later gate probe silently flag nothing
    with pytest.raises(ValueError, match="validated width k=4"):
        publish_window_index(
            merged, str(tmp_path / "eval_idx_typo"), 8
        )


def test_bloom_gate_identity_and_conservativeness(
    spark, sf_smoke, tmp_path
):
    """n23's evidence chain (rows-only, the x88 stance): (1)
    single-micro-batch identity — the gate's landed table equals
    x88's batch form (bloom flag + cut) bit-for-bit against the same
    frozen release; (2) conservativeness at the STREAMING seam —
    for every doc, the bloom gate's landed text is a token-subset of
    the exact n21 gate's landed text over the same eval split
    (flags ⊇ exact flags ⇒ cuts ⊇ exact cuts); (3) a full
    redelivery (fresh checkpoint, same files) lands nothing (the
    shared `_span_gate_sink` algebra)."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup as dd
    from stock_market_etl_spark.streaming import core

    docs = load_table(spark, sf_smoke, "documents")
    ref = docs.filter(F.col("doc_id") % 10 >= 8)
    train = docs.filter(F.col("doc_id") % 10 < 8)

    bloom_path = str(tmp_path / "eval_bloom")
    bloom = dd.build_window_bloom(ref, k=8)
    dd.write_bloom_index(bloom, spark, bloom_path)

    src = str(tmp_path / "arrivals")
    train.coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "clean")

    def run_gate(ckpt):
        stream = (
            spark.readStream.schema(train.schema)
            .format("parquet")
            .load(src)
        )
        core.bloom_gate_sink(
            stream, out, str(tmp_path / ckpt), bloom_path
        )

    run_gate("ck1")
    landed = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out).collect()
    }
    # (1) single-batch identity with x88's batch form
    want = {
        r["doc_id"]: r["clean_text"]
        for r in dd.cut_spans(
            train, dd.bloom_contaminated_spans(bloom, train, k=8)
        ).collect()
    }
    assert landed == want and landed

    # (2) token-subset of the exact n21 gate's output per doc
    exact_idx = str(tmp_path / "eval_exact")
    dd.write_window_index(ref, exact_idx, k=8)
    out_exact = str(tmp_path / "clean_exact")
    core.decontamination_gate_sink(
        spark.readStream.schema(train.schema)
        .format("parquet")
        .load(src),
        out_exact,
        str(tmp_path / "ck_exact"),
        exact_idx,
    )
    exact = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out_exact).collect()
    }
    assert set(landed) == set(exact)
    from collections import Counter

    for did, txt in landed.items():
        assert not (
            Counter(txt.split()) - Counter(exact[did].split())
        ), did

    # (3) redelivery lands nothing
    run_gate("ck2")
    again = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert again == landed
    dd.release_bloom_broadcasts()


def test_embedding_gate_empty_release_and_string_ids(spark, tmp_path):
    """Two review-r15 regressions pinned: (1) an EMPTY eval release —
    a legal bootstrap artifact — must gate NOTHING: every training
    vector lands with NULL evidence (deriving kept rows only from
    the verdict silently dropped the whole stream forever, since the
    landed-id anti-join re-dropped the rows on redelivery too);
    (2) non-bigint id columns work on the ANN tier — the NULL
    evidence columns are typed from the VERDICT's schema, not
    hardcoded bigint (unionByName would coerce or, under ANSI,
    crash on string ids)."""
    from stock_market_etl_spark.operators import similarity as sim
    from stock_market_etl_spark.streaming import core

    # (1) empty eval release, exact tier
    empty_eval = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    vec_path = str(tmp_path / "empty_vecs")
    sim.write_embedding_index(empty_eval, vec_path, dim=4)
    src = str(tmp_path / "arrivals")
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    batch.coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "clean")
    core.embedding_gate_sink(
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .load(src),
        out,
        str(tmp_path / "ck1"),
        vec_path,
    )
    got = {
        r["vec_id"]: (r["nearest_eval_id"], r["max_cosine"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {1: (None, None), 2: (None, None)}

    # (2) string ids through the ANN tier
    eval_s = spark.createDataFrame(
        [("e9", [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    vec_s = str(tmp_path / "vecs_s")
    sim.write_embedding_index(eval_s, vec_s, dim=4)
    idx, built_dim = sim.read_embedding_index(spark, vec_s)
    bkt_s = str(tmp_path / "bkts_s")
    sim.write_lsh_buckets(idx, bkt_s, built_dim, n_planes=4, n_tables=16)
    src_s = str(tmp_path / "arrivals_s")
    batch_s = spark.createDataFrame(
        [
            ("t1", [1.0, 0.0, 0.0, 0.0]),   # ≈ eval → dropped
            ("t2", [0.0, 1.0, 0.0, 0.0]),   # orthogonal → lands
        ],
        ["vec_id", "embedding"],
    )
    batch_s.coalesce(1).write.mode("append").parquet(src_s)
    out_s = str(tmp_path / "clean_s")
    core.embedding_gate_sink(
        spark.readStream.schema(batch_s.schema)
        .format("parquet")
        .load(src_s),
        out_s,
        str(tmp_path / "ck2"),
        vec_s,
        bucket_index_path=bkt_s,
    )
    rows = {
        r["vec_id"]: (r["nearest_eval_id"], r["max_cosine"])
        for r in spark.read.parquet(out_s).collect()
    }
    assert set(rows) == {"t2"}
    ev, cos = rows["t2"]
    assert (ev, cos) == ("e9", 0.0) or (ev is None and cos is None)


def test_embedding_gate_multibatch_redelivery_and_ann(spark, tmp_path):
    """n22's engine on planted vectors — the verdict is
    similarity-to-the-frozen-EVAL-artifact, nothing else: (1) a
    training vector near an eval vector is DROPPED and absent from
    the landed table; (2) two near-identical vectors WITHIN one
    micro-batch both land (batch-internal similarity is the dedup
    family's business — the n21 divergence, applied semantically);
    (3) a later batch similar only to an earlier batch lands
    (stateless across batches); (4) kept rows carry their
    nearest-eval evidence; (5) a full redelivery (fresh checkpoint,
    same files) lands nothing; (6) the ANN mode (b28 bucket
    artifact) drops the same planted leak, lands candidate-free
    rows with NULL evidence, and refuses a bucket artifact from a
    different vector release (dim disagreement)."""
    import pytest

    from stock_market_etl_spark.operators import similarity as sim
    from stock_market_etl_spark.streaming import core

    eval_split = spark.createDataFrame(
        [(900, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    vec_path = str(tmp_path / "eval_vecs")
    sim.write_embedding_index(eval_split, vec_path, dim=4)

    src = str(tmp_path / "arrivals")
    batch1 = spark.createDataFrame(
        [
            (100, [1.0, 0.0, 0.0, 0.0]),   # eval leak → dropped
            (101, [0.0, 1.0, 0.0, 0.0]),   # batch-internal pair…
            (102, [0.0, 1.0, 0.0, 0.0]),   # …both land
        ],
        ["vec_id", "embedding"],
    )
    batch2 = spark.createDataFrame(
        [
            (200, [0.0, 1.0, 0.0, 0.0]),   # ≈ batch1 only → lands
            (201, [0.9, 0.1, 0.0, 0.0]),   # ≈ eval 900 → dropped
        ],
        ["vec_id", "embedding"],
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    def run_gate(out, ckpt, bucket_path=None):
        stream = (
            spark.readStream.schema(batch1.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        core.embedding_gate_sink(
            stream,
            out,
            str(tmp_path / ckpt),
            vec_path,
            bucket_index_path=bucket_path,
        )
        return {
            r["vec_id"]: (r["nearest_eval_id"], r["max_cosine"])
            for r in spark.read.parquet(out).collect()
        }

    out = str(tmp_path / "clean")
    got = run_gate(out, "ck1")
    # exact tier: every kept row scored against the one eval vector
    assert set(got) == {101, 102, 200}
    assert all(v == (900, 0.0) for v in got.values())

    # full redelivery: fresh checkpoint, same files — nothing lands
    again = run_gate(out, "ck2")
    assert again == got

    # ANN mode: buckets frozen from the SAME vector artifact
    idx, built_dim = sim.read_embedding_index(spark, vec_path)
    bkt_path = str(tmp_path / "eval_bkts")
    sim.write_lsh_buckets(
        idx, bkt_path, built_dim, n_planes=4, n_tables=16, seed=42
    )
    got_ann = run_gate(str(tmp_path / "clean_ann"), "ck3", bkt_path)
    # the planted leaks (100: identical buckets in every table; 201:
    # near-identical) are candidates → flagged → dropped; kept rows
    # land either scored (had a candidate) or NULL (clean by
    # construction — never bucket-close to any eval vector)
    assert set(got_ann) == {101, 102, 200}
    for ev_id, cos in got_ann.values():
        assert (ev_id, cos) == (900, 0.0) or (
            ev_id is None and cos is None
        )

    # artifact-disagreement refusal: buckets built at another dim
    other_vecs = spark.createDataFrame(
        [(900, [1.0, 0.0])], ["vec_id", "embedding"]
    )
    other_vec_path = str(tmp_path / "other_vecs")
    sim.write_embedding_index(other_vecs, other_vec_path, dim=2)
    other_idx, other_dim = sim.read_embedding_index(
        spark, other_vec_path
    )
    other_bkt = str(tmp_path / "other_bkts")
    sim.write_lsh_buckets(other_idx, other_bkt, other_dim)
    with pytest.raises(ValueError, match="different releases"):
        core.embedding_gate_sink(
            spark.readStream.schema(batch1.schema)
            .format("parquet")
            .load(src),
            str(tmp_path / "never"),
            str(tmp_path / "ck4"),
            vec_path,
            bucket_index_path=other_bkt,
        )


def test_drift_monitor_multibatch_and_redelivery(spark, tmp_path):
    """n20's engine on planted distributions: (1) a batch scoring
    like the baseline reads psi ≈ 0, no flag; (2) a batch whose score
    SHAPE moved alarms; (3) a source absent from the baseline alarms
    (every baseline share clamps to eps — the "new source appeared"
    signal); (4) each micro-batch lands under its own batch_id; (5) a
    full redelivery (fresh checkpoint, same files) REPLACES each
    batch's rows byte-for-byte instead of duplicating them (the n17
    partition-overwrite move); (6) a bins-width mismatch refuses
    loudly at read time."""
    import pytest

    from stock_market_etl_spark.operators.importance import (
        read_score_histogram,
        write_score_histogram,
    )
    from stock_market_etl_spark.operators.text import quality_score

    stop_text = "the a of to in is the a"      # stopword-heavy: high q
    punct_text = "!!! ??? ### !!! ???"         # punct-heavy: low q
    # empty text scores NULL (punct_ratio 0/0 → NULL with ANSI off)
    # and lands in the NULL bin — planted on BOTH sides with matched
    # shares (2/12 baseline ≡ 1/6 batch) so a NULL-bin equi-join
    # split (review r12) would read as spurious drift, and the fix
    # (sentinel-coalesced bins) reads as the calm it is.
    baseline_docs = spark.createDataFrame(
        [(i, stop_text, "src") for i in range(10)]
        + [(90, "", "src"), (91, "", "src")],
        ["doc_id", "text", "source"],
    )
    base = baseline_docs.select(
        "source",
        F.round(quality_score(F.col("text")), 6).alias("__q"),
    )
    base_path = str(tmp_path / "hist")
    write_score_histogram(base, base_path, "__q", "source", bins=10)

    with pytest.raises(ValueError, match="bins=10"):
        read_score_histogram(spark, base_path, bins=5)

    # a partially-written artifact (empty meta) must refuse with the
    # same loud ValueError, not an opaque IndexError (ADVICE r12)
    broken_path = str(tmp_path / "hist_broken")
    write_score_histogram(base, broken_path, "__q", "source", bins=10)
    spark.createDataFrame([], "bins int").write.mode(
        "overwrite"
    ).parquet(f"{broken_path}/meta")
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        read_score_histogram(spark, broken_path)

    src = str(tmp_path / "arrivals")
    batch1 = spark.createDataFrame(  # same shape as baseline → calm
        [(100 + i, stop_text, "src") for i in range(5)]
        + [(105, "", "src")],
        ["doc_id", "text", "source"],
    )
    batch2 = spark.createDataFrame(  # shape moved + a new source
        [(200 + i, punct_text, "src") for i in range(5)]
        + [(300, stop_text, "newsrc")],
        ["doc_id", "text", "source"],
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "monitor")

    def run_monitor(ckpt):
        stream = (
            spark.readStream.schema(batch1.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        core.drift_monitor_sink(
            stream, out, str(tmp_path / ckpt), base_path
        )

    run_monitor("ckpt1")
    got = {
        (r["batch_id"], r["source"]): (
            r["psi"],
            r["drift_flag"],
            r["n_docs"],
        )
        for r in spark.read.parquet(out).collect()
    }
    batches = sorted({b for b, _ in got})
    assert len(batches) == 2
    calm_b, drift_b = (
        (batches[0], batches[1])
        if got[(batches[0], "src")][1] is False
        else (batches[1], batches[0])
    )
    assert got[(calm_b, "src")][0] < 0.01
    assert got[(calm_b, "src")][1] is False
    assert got[(calm_b, "src")][2] == 6
    assert got[(drift_b, "src")][0] >= 0.2
    assert got[(drift_b, "src")][1] is True
    assert got[(drift_b, "newsrc")][1] is True  # baseline-absent source
    assert len(got) == 3

    # full redelivery: fresh checkpoint, same files — rows REPLACED,
    # never duplicated
    run_monitor("ckpt2")
    again = {
        (r["batch_id"], r["source"]): (
            r["psi"],
            r["drift_flag"],
            r["n_docs"],
        )
        for r in spark.read.parquet(out).collect()
    }
    assert again == got
