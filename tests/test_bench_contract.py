"""Shuffle-economy pins: each pinned catalog query's total shuffle
bytes written at sf0.1 must stay inside a band around its pinned
figure. Wall-clock on a shared host is too noisy to catch a plan
regression; shuffle bytes move only with the plan."""

from __future__ import annotations


# Pinned per-query shuffle bytes at sf0.1 under the test session
# (local[$SPARK_GRAFT_CPUS], as many shuffle partitions). Wall-clock
# on this shared host swings up to 5x run-to-run (BASELINE.md), so
# plan regressions are detected on the stable signal instead: a
# payload slipping into a shuffle moves bytes by integer factors
# (x6's r04 regression was 0.99 -> 3.8 MB), far outside the
# [0.5x, 1.6x] band — which in turn is wide enough for
# partition-count overhead (the same queries move <20% between 8 and
# 32 shuffle partitions).
# ALL pins re-measured r09 under the stage-grain metric
# (tools.profile_query.stage_rows): the former SQL-execution-store
# reading lost AQE-replanned exchange metrics (observed 0.0 for a
# query whose stages wrote 40 MB) and saw only the LAST execution of
# multi-exec queries. Stage grain counts every byte a query actually
# shuffled — several figures moved (both directions) purely from the
# measurement fix; the per-query rationales below are unchanged.
SHUFFLE_MB_PINS = {
    "f1_f2_metrics_pipeline": 2.01,
    "x6_exact_dedup": 0.37,
    "x10_minhash_lsh_pairs": 0.88,
    "x17_embedding_near_dup_lsh": 8.61,
    "x26_contamination": 4.64,
    "x28_dataset_build": 0.28,
    "x33_tfidf_topk": 3.54,
    "x34_bm25_topk": 0.39,
    "x44_shard_assignment": 0.21,
    "x48_curation_pipeline_lsh": 2.74,
    # block keys shuffle as 32-byte binary sha2 digests (unhex),
    # never 64-char hex
    "x49_paragraph_dedup": 0.73,
    "x50_session_transcripts": 1.73,
    # x58 shuffles bucket ids + doc-grain partials only (the
    # 4096-bucket model broadcasts — a payload or SMJ regression would
    # jump this by orders of magnitude); e19's figure IS the hourly
    # partial grain (the contract: raw events never shuffle).
    "x58_dsir_importance": 0.11,
    "x59_perplexity_buckets": 0.17,
    "e19_hourly_rollup_merge": 3.35,
    # x56's one exchange is the doc-grain TEXT repartition (the
    # exploded gram stream is aggregated in place); x57 composes it
    # with x49's block dedup; x60's figure is the (binary-sha2,
    # doc_id) ban aggregation + id-grain keep lists — a re-fattening
    # means text or hex leaked back into a corpus-wide exchange.
    "x56_gopher_repetition": 2.10,
    "x57_gopher_pipeline": 2.71,
    "x60_boilerplate_prune": 1.21,
    # e21's figure is the (user, day) partial-agg exchange +
    # daily-grain window/agg rows — a re-fattening means raw events
    # started shuffling. x61's figure is the spread() round-robin of
    # the (id, TEXT) fixture rows (r10: the asset builder spreads a
    # narrow source before its compute-bound Python stages — decode
    # payloads still never enter an exchange; payload BYTES here
    # would read ~3× the text) plus the tiny id+hash band rows
    # (pre-r10 pin: 0.006 MB, bands only).
    "e21_market_beta": 1.05,
    "x61_image_near_dup": 0.83,
    # x63's figure is LSH bucket keys + id-pair candidates + the
    # id-keyed vector re-attach (raw vectors in the candidate
    # exchange would blow it up); x64's is spread()'s round-robin of
    # id+text (the only text motion — fingerprints leave as 8-byte
    # BIGINTs); x65 adds the fingerprint-grain dedup/ban/pair
    # exchanges on top — hex or text leaking back in means ~4x.
    "x63_knn_label_propagation_lsh": 6.02,
    "x64_winnow_fingerprints": 0.81,
    "x65_winnow_near_dup": 9.71,
    # f15's figure is the (user, day) bar-partial exchange — raw
    # ticks in the shuffle would scale it with tick volume; x67
    # moves band keys + id pairs + id-grain quality rows only.
    "f15_ohlc_resample": 1.54,
    "x67_keep_best_dedup_lsh": 1.11,
    # f16 = f15's bar-partial exchange + the bar-grain window re-key —
    # raw ticks in either would scale it with volume; f18 fuses the
    # whole indicator stack into the same two exchanges, so its
    # figure must stay ~f16's (a jump means a third exchange).
    "f16_atr": 1.97,
    "f18_market_pipeline": 1.94,
    # r09: the sparse fuzzy-join operating point — ONE bounded
    # variant-grain collect_list exchange + the guard histogram job
    # (r10: its ban set is collected and broadcast back, cache
    # released eagerly) + a near-empty pair stream (planted typos
    # only). r10 re-pin: variants exchange as 16-byte md5 DIGESTS
    # (25.6 → 22.4 MB same-session A/B on this 32-char-name fixture;
    # the real point is the BOUNDED key — 16 B/variant regardless of
    # entity-name length, where strings scale the exchange with
    # name bytes). r11 re-pin 22.41 → 28.87: the ban set went from a
    # collected broadcast (an unbounded driver collect_list at
    # pathological density) to the lazy HAVING-shrunk aggregate the
    # main plan anti-joins — structurally driver-safe at any density
    # for one extra map-side-combined hist exchange of the variant
    # stream (~6.5 MB here), wall-clock identical. The pre-r09
    # distinct → anti-join → self-join shape creeping back means
    # ~1.5-2x.
    "x70_fuzzy_sparse_pairs": 28.87,
    # r09: overlapping-window exact-substring spans — (id, pos,
    # 16-byte digest) rows through the (hash,id) distinct, the
    # flagged semi-join, and the per-doc islands window; TEXT in any
    # of the three would multiply this several-fold.
    "x71_substring_dup_spans": 10.08,
    # r10: the span-CUT consumer = x71's three hash/id-grain
    # exchanges + the per-doc span aggregation + ONE id-grain join
    # where the corpus text crosses (the honest reassembly cost);
    # text in the FLAG pass too would roughly double this.
    "x72_substring_dedup_cut": 10.82,
    # r10: incremental substring spans — the catalog form derives the
    # corpus (hash, count) index inline, so the figure is the
    # corpus-side (h, id) distinct + the batch-side counts/semi-join/
    # islands; batch TEXT (or corpus text post-index) in an exchange
    # would multiply it.
    "x74_incremental_substring_spans": 9.98,
    # r10: composed flagship v4 — the gate prunes sources BEFORE the
    # flag/cut stages, so its figure sits BELOW x72's despite doing
    # strictly more work; creeping back above x72's ~10.8 means the
    # gate stopped pruning ahead of the window hashing.
    "x75_curation_pipeline_v4": 5.97,
    # r10: source reputation — source-grain partial-agg rows only
    # (count/sum/distinct-hash partials); corpus text in the exchange
    # would be ~600x.
    "x73_source_reputation_gate": 0.24,
    # r11: keep-one substring cut — x72's exchanges + one extra
    # 8-byte min(id) keeper riding the flag aggregate (the ~1 MB
    # delta over x72's 10.8); keeper text or a cluster table in an
    # exchange would blow well past it.
    "x76_substring_dedup_keep_one": 11.80,
    # r11: containment pairs — the (16-byte gram digest, id) stream
    # for the banned-bucket candidate join + id pairs + the two
    # id-grain gram-ARRAY re-attach joins (arrays bounded by doc
    # length); text in any exchange would multiply this.
    "x77_containment_pairs": 9.49,
    # r12: batch hard-negative mining — ONE (doc, term) tf exchange
    # of the query-term-filtered token stream (per-doc length rides
    # it; corpus stats broadcast as a scalar row) + the tiny df/
    # window-survivor exchanges; a doc-grain length JOIN creeping
    # back in (the bm25_topk shape) or text in the tf rows would
    # multiply this.
    "x78_hard_negative_mining": 1.11,
    # r12: curation lineage — one digest-grain keeper aggregate +
    # the (digest, id, lang, n_chars) join rows; text in the
    # exchange would scale this with corpus bytes.
    "x79_curation_lineage": 0.17,
    # r13: ANN bitext mining — (id, table, bucket) rows through the
    # bucket-local candidate join, then (id_a, id_b) pairs + one
    # 8-byte cos each through the dedup and the three margin-tail
    # exchanges (two background windows + the re-join); the 64-double
    # embedding arrays re-attach via the tiny broadcast unit-vector
    # table and NEVER enter an O(candidates) exchange — raw vectors
    # in the pair stream would read ~15-20× this.
    "x83_bitext_margin_pairs_ann": 19.03,
    # r13: substring decontamination — the eval split's (16-byte
    # digest, count) index + the train-side (digest, id, pos) window
    # stream through the flag semi-join and the islands window + the
    # id-grain span lists and ONE train-text exchange in the cut;
    # far below x72's ~10.8 because only the eval-derived flag set
    # (20% of docs' distinct windows) gates the stream. Train text
    # in the FLAG pass or eval text anywhere would multiply this.
    "x84_substring_decontamination": 2.66,
    # r13: semantic-contamination ANN tier — (id, table, bucket)
    # rows through the bucket-local train×eval candidate join, id
    # pairs + one 8-byte cos through the dedup and the per-train
    # verdict window; embedding arrays re-attach by id and never
    # enter an O(candidates) exchange. Smaller than x83's 19 MB
    # because the verdict tail is ONE window (no dual background
    # aggregates re-reading the pair table).
    "x86_embedding_contamination_lsh": 4.24,
    # r13: flagship v5 — x75's exchanges (gate broadcast, flag/cut
    # hash+id grain, one text exchange, 32-byte dedup hashes) + the
    # decontamination stage: the eval window-hash set + the
    # survivor-text window stream + one more survivor-text exchange
    # in the second cut. Sits above x75's 5.97 by roughly the
    # decon stage's share; eval TEXT in any exchange would blow it.
    "x87_curation_pipeline_v5": 6.78,
}


def test_shuffle_bytes_hold_their_pins(spark):
    """The shuffle-economy contract as a test, not prose: each pinned
    query's total 'shuffle bytes written' at sf0.1 must stay inside
    [0.5x, 1.6x] of its pinned value. Catches id-only shuffles
    re-fattening with payload columns (dedup/LSH family), lost
    broadcast decisions, and lost exchange reuse — the regressions
    wall-clock noise hides."""
    from stock_market_etl_spark.catalog import all_queries
    from tools.profile_query import (
        force,
        shuffle_mb,
        stage_frontier,
        stage_rows,
    )

    queries = all_queries()
    failures = []
    # seed past whatever the shared test session already ran — its
    # oldest stages may be evicted from the status store, and a 0 seed
    # stops at the first evicted id, misreading every query as 0 MB
    cursor = stage_frontier(spark)
    for name, pin in SHUFFLE_MB_PINS.items():
        spark.catalog.clearCache()
        # floored: a momentarily-empty job list reads as frontier 0
        cursor = max(cursor, stage_frontier(spark))
        force(queries[name](spark, "/root/testdata/sf0.1"))
        mb = shuffle_mb(stage_rows(spark, cursor))
        if not (0.5 * pin <= mb <= 1.6 * pin):
            failures.append(f"{name}: {mb} MB outside [0.5, 1.6]x {pin}")
    assert not failures, failures
