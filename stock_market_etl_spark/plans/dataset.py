"""End-to-end training-set build: the dataset operators composed into
one pipeline (SURVEY §2.O) — the shape an LLM-pretraining data build
actually runs, here as one lazy Catalyst plan:

    quality filter → stratified language mix → exact dedup →
    decontaminate vs held-out pool → train split → context-window pack

Every stage is the deterministic/hash form, so the WHOLE pipeline is
one DuckDB-checkable query (x28) — the composition proof that the
individual operators (x6, x22-x26) don't just pass in isolation.

Scale shape: stages 1, 2 and 5 are scan-side filters (no shuffle);
dedup shuffles (hash, id) pairs; decontamination broadcast-anti-joins a
DISTINCT hash set; packing is the two-phase prefix sum. Net: two small
shuffles + one broadcast over the full path, independent of corpus
width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from stock_market_etl_spark.operators import dedup, sampling


def build_training_set(docs: DataFrame) -> DataFrame:
    """Returns (doc_id, lang, n_chars, bin_id) for the packed train
    set. The held-out pool (decontamination target) is the reference
    corpus rows with ``doc_id % 10 >= 8`` — in production a benchmark
    suite; content-hash equality is the exact-dup tier of the
    contamination ladder (x26's n-gram audit is the fuzzy tier)."""

    # 1. quality floor (scan-side)
    kept = docs.filter(F.col("n_chars") >= 200)
    # 2. deterministic language mix (scan-side)
    mixed = sampling.stratified_sample(
        kept, {"en": 0.5}, default_fraction=0.75, salt="mix-v1"
    )
    # 3. exact dedup, deterministic survivor — carry only the narrow
    #    columns the later stages read (lang for the mix audit, n_chars
    #    for packing); the text payload stays out of the exchange
    unique = dedup.exact_dedup(mixed, payload_cols=("lang", "n_chars"))
    # 4. decontaminate: drop anything content-identical to the held-out
    #    pool (broadcast anti-join on the DISTINCT hash set)
    holdout_hashes = (
        docs.filter(F.col("doc_id") % 10 >= 8)
        .select(F.sha2(F.col("text"), 256).alias("content_hash"))
        .distinct()
    )
    clean = unique.join(
        F.broadcast(holdout_hashes), "content_hash", "left_anti"
    )
    # 5. keep the train split (scan-side)
    train = sampling.deterministic_split(
        clean, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="split-v1"
    ).filter(F.col("split") == "train")
    # 6. pack into context-window bins
    return sampling.pack_sequences(train, budget=4096).select(
        "doc_id", "lang", "n_chars", "bin_id"
    )
