"""SURVEY §2.O — training-data pipeline extension operators over the
documents / embeddings fixtures: text analysis, dedup (exact + approx),
similarity search, multimodal plumbing.

Exact forms are oracle-checked; LSH/approx forms are rows-only with
recall checks in tests/test_extensions.py (SURVEY §5.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from stock_market_etl_spark.catalog import _scratch, registry
from stock_market_etl_spark.io import load_table
from stock_market_etl_spark.operators import (
    dedup,
    graph,
    importance,
    multimodal,
    sampling,
    similarity,
)
from stock_market_etl_spark.operators import text as text_ops
from stock_market_etl_spark.operators.text import (
    LANG_PROFILES,
    STOPWORDS,
    analyze,
)

QUERIES, ORACLES, _q = registry()


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_TOKS = r"string_split_regex(trim(text), '\s+')"


@_q(
    "x1_token_count",
    f"""SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
          CAST(length(text) AS BIGINT) AS n_chars_actual
        FROM documents""",
)
def x1_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace split) + char audit vs the stored
    n_chars column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@_q(
    "x2_word_freq",
    """SELECT lang, token, count(*) AS freq
       FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
       GROUP BY lang, token""",
)
def x2_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency by language: explode + grouped count (the
    classic map-side-combinable shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("freq"))
    )


@_q(
    "x3_quality_score",
    f"""WITH t AS (
          SELECT doc_id,
            CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
            CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
              / length(text) AS punct_ratio,
            CAST(len(list_filter({_TOKS},
                   x -> list_contains({_sql_list(STOPWORDS)}, x))) AS DOUBLE)
              / len({_TOKS}) AS stopword_ratio
          FROM documents)
        SELECT doc_id, n_tokens,
          round(punct_ratio, 6) AS punct_ratio,
          round(stopword_ratio, 6) AS stopword_ratio,
          round(0.4 * least(1.0, n_tokens / 100.0)
                + 0.3 * (1.0 - punct_ratio)
                + 0.3 * stopword_ratio, 6) AS quality_score
        FROM t""",
)
def x3_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length saturation + punctuation noise +
    stopword presence (operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    out = analyze(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


def _langid_sql() -> str:
    toks = f"list_distinct({_TOKS})"
    scores = {
        lang: f"len(list_intersect({toks}, {_sql_list(prof)}))"
        for lang, prof in LANG_PROFILES.items()
    }
    langs = list(LANG_PROFILES)
    cases = []
    for i, lang in enumerate(langs):
        others = langs[i + 1 :]
        if others:
            cond = " AND ".join(
                f"{scores[lang]} >= {scores[o]}" for o in others
            )
            cases.append(f"WHEN {cond} THEN '{lang}'")
        else:
            cases.append(f"ELSE '{lang}'")
    case = "CASE " + " ".join(cases) + " END"
    return f"SELECT doc_id, lang, {case} AS lang_pred FROM documents"


@_q("x4_lang_id", _langid_sql())
def x4_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID via stopword-profile overlap
    (operators/text.py lang_id)."""
    docs = load_table(spark, sf_dir, "documents")
    out = analyze(docs)
    return out.select("doc_id", "lang", "lang_pred")


@_q(
    "x5_fingerprint",
    "SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents",
)
def x5_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-normalized document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return analyze(docs).select("doc_id", "fingerprint")


@_q(
    "x6_exact_dedup",
    """SELECT doc_id, content_hash, n_copies FROM (
         SELECT doc_id, sha256(text) AS content_hash,
                min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id,
                count(*) OVER (PARTITION BY sha256(text)) AS n_copies
         FROM documents)
       WHERE doc_id = keep_id""",
)
def x6_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on sha256 content hash, deterministic survivor
    (operators/dedup.py exact_dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, payload_cols=()).select(
        "doc_id", "content_hash", "n_copies"
    )


@_q(
    "x7_jaccard_pairs",
    """WITH sh AS (
         SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 0) + 1),
             i -> substring(text, i, 3))) AS shingles
         FROM documents)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
       FROM sh a JOIN sh b
         ON a.lang = b.lang AND a.doc_id < b.doc_id
        AND abs(a.n_chars - b.n_chars) <= 20""",
)
def x7_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard over blocked candidate pairs — the
    small-scale ground truth for near-dedup (operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.jaccard_pairs(docs)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@_q(
    "x8_cosine_topk",
    """WITH q AS (
         SELECT CAST(embedding AS DOUBLE[]) AS qv
         FROM embeddings WHERE vec_id = 0)
       SELECT vec_id,
         round(list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
           AS cosine_sim
       FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id <> 0), q
       ORDER BY list_dot_product(v, qv)
                / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC,
                vec_id
       LIMIT 10""",
)
def x8_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k against a stored query vector
    (operators/similarity.py cosine_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, query_id=0, k=10)
    return out.select(
        "vec_id", F.round("cosine_sim", 6).alias("cosine_sim")
    )


@_q(
    "x9_multimodal_meta",
    """SELECT doc_id AS asset_id, 'text/plain' AS media_type,
              CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
              sha256(text) AS checksum,
              substring(lower(hex(encode(text))), 1, 16) AS prefix_hex
       FROM documents""",
)
def x9_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal asset metadata derivation: binary payload column +
    queryable typed metadata (operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return assets.select(
        "asset_id",
        "media_type",
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.checksum").alias("checksum"),
        F.substring(F.lower(F.hex("payload")), 1, 16).alias("prefix_hex"),
    )


# --- approx / non-SQL-expressible forms: rows-only in the driver gate -------


@_q("x10_minhash_lsh_pairs")
def x10_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup candidates (seeded MLlib pipeline).
    Estimates are engine-specific → rows-only; recall vs exact Jaccard
    is asserted in tests/test_extensions.py."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.4)


@_q("x11_ann_lsh_topk")
def x11_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate nearest neighbours; recall
    vs x8 asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_lsh(emb, query_id=0, dim=64, k=10)


@_q("x12_simhash")
def x12_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures (xxhash64 bit-majority) — hash fn is
    Spark-specific → rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


@_q("x13_simhash_near_pairs")
def x13_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup candidates (Hamming ≤ 3)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs)


@_q("x14_multimodal_features")
def x14_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    payloads (decode stubbed; plumbing real)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.extract_features(assets)


@_q("x15_ivf_topk")
def x15_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours: seeded k-means coarse
    quantizer, n_probe-cell search, exact rerank inside probed cells.
    Clustering is engine-specific → rows-only; recall vs exact top-k is
    asserted in tests/test_extensions.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_id=0, k=10)


@_q(
    "x16_embedding_near_dup",
    """WITH v AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       p AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
         FROM v a JOIN v b ON a.vec_id < b.vec_id)
       SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim >= 0.4""",
)
def x16_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact all-pairs ground
    truth (operators/similarity.py embedding_near_dup_pairs); the
    embedding-space analogue of x7's text Jaccard pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.4)


@_q("x17_embedding_near_dup_lsh")
def x17_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked embedding near-dedup — bucket-local equality join
    instead of the all-pairs scan (the 100 TB path). Bucketing is
    engine-specific → rows-only; recall vs x16 asserted in
    tests/test_extensions.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_lsh(emb, dim=64, threshold=0.4)


@_q(
    "x18_multimodal_resize",
    """SELECT doc_id AS asset_id, 16 AS width, 16 AS height,
              256 AS px_len
       FROM documents""",
)
def x18_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→resize plumbing (operators/multimodal.py resize_images):
    Arrow-batched mapInPandas, fixed-size binary out. The oracle checks
    the contract (one row per asset, declared output geometry); pixel
    determinism is asserted in tests/test_extensions.py."""
    docs = load_table(spark, sf_dir, "documents")
    resized = multimodal.resize_images(
        multimodal.assets_from_documents(docs), width=16, height=16
    )
    return resized.select(
        "asset_id",
        "width",
        "height",
        F.octet_length("pixels").cast("long").alias("px_len"),
    )


@_q(
    "x19_frame_sample_counts",
    """SELECT doc_id AS asset_id,
              CAST(ceil(ceil(octet_length(encode(text)) / 256.0) / 4.0)
                   AS BIGINT) AS n_frames,
              CAST((ceil(ceil(octet_length(encode(text)) / 256.0) / 4.0) - 1)
                   * 4 AS BIGINT) AS last_idx
       FROM documents WHERE octet_length(encode(text)) > 0""",
)
def x19_frame_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video-shaped payloads (operators/multimodal.py
    sample_frames, 1 row → N rows mapInPandas fan-out): per-asset
    sampled-frame count and last sampled index, both pure arithmetic on
    byte length — hash-checkable against DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(
        multimodal.assets_from_documents(docs), frame_size=256, every_n=4
    )
    return frames.groupBy("asset_id").agg(
        F.count("*").alias("n_frames"),
        F.max("frame_idx").cast("long").alias("last_idx"),
    )


@_q(
    "x20_bpe_token_count",
    r"""SELECT doc_id,
              CAST(len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+',
                  0)) AS BIGINT) AS n_bpe_tokens
       FROM documents""",
)
def x20_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting: GPT-2-ish pre-tokenizer segment
    count (operators/text.py bpe_token_count) — the LLM-token-budget
    proxy next to x1's whitespace count. Lookahead-free alternation so
    Spark's Java regex and DuckDB's RE2 agree match-for-match."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_ops.bpe_token_count(F.col("text")).cast("long").alias(
            "n_bpe_tokens"
        ),
    )


@_q("x21_pq_topk")
def x21_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py pq_index /
    pq_topk): vectors compressed to m small codes, ADC scan over the
    code column only, exact cosine re-rank of the shortlist. Codebooks
    are sample-trained → engine-specific → rows-only; recall vs x8
    asserted in tests/test_extensions.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(emb, query_id=0, k=10)


@_q(
    "x22_deterministic_split",
    """SELECT doc_id, lang,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 4)
                        < 'e666' THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 4)
                        < 'f333' THEN 'val'
                   ELSE 'test' END AS split
       FROM documents""",
)
def x22_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic 90/5/5 train/val/test split
    (operators/sampling.py deterministic_split): md5-prefix bucketing,
    stable under re-runs / repartitioning / data growth — unlike
    randomSplit, an id keeps its split forever. 0.9*65536 = 0xe666,
    0.95*65536 = 0xf333."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.deterministic_split(
        docs,
        {"train": 0.90, "val": 0.05, "test": 0.05},
        salt="split-v1",
    ).select("doc_id", "lang", "split")


@_q(
    "x23_stratified_sample",
    """SELECT doc_id, lang
       FROM documents
       WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'mix-v1'), 1, 4) <
             CASE lang WHEN 'en' THEN '4000' WHEN 'zh' THEN 'c000'
                       ELSE '8000' END""",
)
def x23_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling for dataset mixing
    (operators/sampling.py stratified_sample): keep 25% of en, 75% of
    zh, 50% elsewhere — a pure scan-side filter (no shuffle, no RNG),
    monotone in the fraction so mix ablations nest. Thresholds:
    0.25*65536 = 0x4000, 0.75*65536 = 0xc000, 0.5*65536 = 0x8000."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs,
        {"en": 0.25, "zh": 0.75},
        default_fraction=0.5,
        salt="mix-v1",
    ).select("doc_id", "lang")


@_q(
    "x24_sequence_pack",
    """SELECT doc_id, lang, n_chars,
              CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), 0) / 4096) AS BIGINT) AS bin_id
       FROM documents""",
)
def x24_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (operators/sampling.py pack_sequences):
    per-language contiguous bins of ~4096 chars via one exclusive
    prefix-sum window — the distributed, deterministic stand-in for
    sequential first-fit packing (each bin overshoots by at most one
    document)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.pack_sequences(docs, budget=4096).select(
        "doc_id", "lang", "n_chars", "bin_id"
    )


@_q(
    "x25_quota_cap",
    """SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                      AS rn
           FROM documents) WHERE rn <= 15""",
)
def x25_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (operators/sampling.py quota_cap):
    keep at most 15 docs per source, lowest ids first — domain
    balancing as a ranking window, the quota twin of latest-per-key
    (C7/F4)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.quota_cap(docs, cap=15).select("doc_id", "source")


@_q(
    "x26_contamination",
    r"""WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
          FROM toks,
               LATERAL unnest(generate_series(1, greatest(len(t)-3, 1)))
                   AS u(i)),
        train AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 < 8),
        eg AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 10 >= 8)
        SELECT eg.doc_id,
               COUNT(*) AS n_grams,
               CAST(COALESCE(SUM(CASE WHEN train.g IS NOT NULL THEN 1 END),
                             0) AS BIGINT) AS n_hit,
               ROUND(COALESCE(SUM(CASE WHEN train.g IS NOT NULL THEN 1 END),
                              0)::DOUBLE / COUNT(*), 6) AS contamination
        FROM eg LEFT JOIN train USING (g)
        GROUP BY eg.doc_id""",
)
def x26_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit (operators/text.py
    contamination_check): per eval document, the fraction of its
    distinct word 4-grams that occur anywhere in the train corpus
    (doc_id % 10 < 8 = train, rest = eval). The reference has no such
    audit; it is core to a training-data engine — planted cross-split
    duplicates surface as contamination 1.0."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    ev = docs.filter(F.col("doc_id") % 10 >= 8)
    return text_ops.contamination_check(train, ev, n=4)


@_q(
    "x27_deterministic_shuffle",
    """SELECT doc_id,
              ROW_NUMBER() OVER (
                  ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch-1'), doc_id
              ) AS shuffle_pos
       FROM documents""",
)
def x27_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch shuffle (operators/sampling.py
    deterministic_shuffle): dense global positions in md5(id||epoch)
    order, computed as chunked parallel ranks + a 256-row offset table
    instead of the single-task global window the oracle SQL names."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.deterministic_shuffle(docs, salt="epoch-1").select(
        "doc_id", "shuffle_pos"
    )


@_q(
    "x28_dataset_build",
    """WITH mixed AS (
         SELECT * FROM documents
         WHERE n_chars >= 200
           AND substr(md5(CAST(doc_id AS VARCHAR) || 'mix-v1'), 1, 4) <
               CASE lang WHEN 'en' THEN '8000' ELSE 'c000' END
       ),
       uniq AS (
         SELECT * FROM (
           SELECT *, sha256(text) AS content_hash,
                  min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
           FROM mixed)
         WHERE doc_id = keep_id
       ),
       holdout AS (
         SELECT DISTINCT sha256(text) AS h
         FROM documents WHERE doc_id % 10 >= 8
       ),
       train AS (
         SELECT u.* FROM uniq u
         WHERE NOT EXISTS (
                 SELECT 1 FROM holdout WHERE holdout.h = u.content_hash)
           AND substr(md5(CAST(u.doc_id AS VARCHAR) || 'split-v1'), 1, 4)
               < 'e666'
       )
       SELECT doc_id, lang, n_chars,
              CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 4096) AS BIGINT) AS bin_id
       FROM train""",
)
def x28_dataset_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset operators composed end-to-end (plans/dataset.py
    build_training_set): quality floor → deterministic language mix →
    exact dedup → content-hash decontamination vs the held-out pool →
    train split → context-window packing, all one lazy Catalyst plan,
    hash-checked as one CTE query."""
    from stock_market_etl_spark.plans.dataset import build_training_set

    docs = load_table(spark, sf_dir, "documents")
    return build_training_set(docs)


@_q(
    "x29_pii_redact",
    r"""SELECT doc_id,
              CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0))
                + len(regexp_extract_all(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  '\+?[0-9][0-9 -]{7,}[0-9]', 0)) AS BIGINT) AS n_pii,
              md5(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  '\+?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g'))
                  AS redacted_hash
       FROM documents""",
)
def x29_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py pii_redact): emails/phones →
    typed placeholders, with an audit count. Scan-side projection, no
    shuffle; regex parity with RE2 is part of the oracle check (the
    fixture corpus is PII-free, so redaction behavior itself is
    unit-tested on injected rows in tests/test_extensions.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_ops.pii_count(F.col("text")).cast("long").alias("n_pii"),
        F.md5(text_ops.pii_redact(F.col("text"))).alias("redacted_hash"),
    )


@_q(
    "x30_repetition_ratio",
    r"""SELECT doc_id,
              CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                  AS n_tokens,
              CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
                  AS BIGINT) AS n_distinct,
              round(1.0 - len(list_distinct(string_split_regex(trim(text),
                  '\s+')))::DOUBLE
                  / len(string_split_regex(trim(text), '\s+')), 6)
                  AS rep_ratio
       FROM documents""",
)
def x30_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (operators/text.py repetition_ratio):
    1 − distinct/total tokens per document — the Gopher-rule flag for
    boilerplate and looped spam, next to x3's length/punct/stopword
    score."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text_ops.tokens(F.col("text")).alias("__t")
    )
    return toks.select(
        "doc_id",
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__t")).cast("long").alias("n_distinct"),
        F.round(text_ops.repetition_ratio(F.col("__t")), 6).alias("rep_ratio"),
    )


@_q(
    "x31_dup_clusters",
    """WITH RECURSIVE sh AS (
         SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 0) + 1),
             i -> substring(text, i, 3))) AS shingles
         FROM documents),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
          AND abs(a.n_chars - b.n_chars) <= 20
         WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))) >= 0.6),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT a, a FROM edges
         UNION
         SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
       SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id""",
)
def x31_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: exact Jaccard pairs ≥ 0.6 chained into
    connected components by iterative min-label propagation
    (operators/dedup.py connected_components — Hash-Min CC as two
    shuffles of (id, label) pairs per round). "Keep one per cluster"
    is then a filter on doc_id == cluster_rep. The DuckDB oracle walks
    the same graph with a recursive CTE — transitive closure is fine at
    oracle scale, while the Spark side carries the 100 TB shape."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(docs, threshold=0.6)


@_q(
    "x32_audio_decode_meta",
    """SELECT doc_id AS asset_id,
              8000 AS sample_rate,
              1 AS n_channels,
              CAST(floor(octet_length(encode(text)) / 2) AS BIGINT)
                  AS n_samples,
              CAST(floor(floor(octet_length(encode(text)) / 2)
                         * 1000.0 / 8000) AS BIGINT) AS duration_ms
       FROM documents
       WHERE octet_length(encode(text)) >= 2""",
)
def x32_audio_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode round-trip (operators/multimodal.py decode_audio):
    WAV payloads are synthesized JVM-side from the documents fixture
    (text bytes as PCM16 mono @ 8 kHz behind a canonical RIFF header),
    then REALLY parsed back by the pure-Python RIFF/PCM decoder inside
    mapInPandas. The decoded geometry must equal the header arithmetic
    the oracle computes from text length alone; signal stats (rms/peak)
    are asserted against numpy in tests/test_extensions.py (not
    SQL-expressible over reinterpreted bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = multimodal.audio_features(
        multimodal.wav_assets_from_documents(docs, sample_rate=8000)
    )
    # mirror the oracle's WHERE octet_length(text) >= 2: a doc too
    # short for one whole int16 sample is excluded on BOTH sides
    return feats.filter(F.col("n_samples") >= 1).select(
        "asset_id",
        F.col("sample_rate").cast("int"),
        F.col("n_channels").cast("int"),
        "n_samples",
        "duration_ms",
    )


@_q(
    "x33_tfidf_topk",
    r"""WITH toks AS (
         SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS term
         FROM documents),
       tc AS (SELECT doc_id, term, count(*) AS tf_count
              FROM toks GROUP BY doc_id, term),
       dl AS (SELECT doc_id, sum(tf_count) AS doc_len
              FROM tc GROUP BY doc_id),
       dfc AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       scored AS (
         SELECT tc.doc_id, tc.term,
                (tf_count / doc_len) * (ln((n_docs + 1) / (df + 1)) + 1)
                    AS tfidf
         FROM tc JOIN dl USING (doc_id) JOIN dfc USING (term), n),
       ranked AS (
         SELECT doc_id, term, tfidf,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
         FROM scored)
       SELECT doc_id, CAST(rank AS INT) AS rank, term,
              round(tfidf, 6) AS tfidf
       FROM ranked WHERE rank <= 3""",
)
def x33_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/text.py tfidf_topk):
    smoothed idf, deterministic term tiebreak. Corpus statistics stay
    distributed — term counts combine map-side, the vocabulary df/idf
    table broadcasts, and N rides a 1-row broadcast — the keyword-
    extraction shape a 100 TB corpus labeler needs."""
    docs = load_table(spark, sf_dir, "documents")
    out = text_ops.tfidf_topk(docs, k=3)
    return out.select(
        "doc_id", F.col("rank").cast("int"), "term", "tfidf"
    )


@_q(
    "x34_bm25_topk",
    r"""WITH toks AS (
         SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS term
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       stats AS (SELECT avg(dl) AS avgdl FROM dl),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN ('vector', 'hash', 'spark')
              GROUP BY doc_id, term),
       dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       scored AS (
         SELECT tf.doc_id,
                ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                * (tf * 2.2)
                / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                    AS term_score
         FROM tf JOIN dl USING (doc_id) JOIN dfc USING (term), stats, n)
       SELECT doc_id, round(sum(term_score), 6) AS bm25
       FROM scored GROUP BY doc_id
       ORDER BY bm25 DESC, doc_id LIMIT 10""",
)
def x34_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed bag-of-words query (operators/text.py
    bm25_topk, k1=1.2 b=0.75, Lucene-smoothed idf): the retrieval
    workload over the corpus — query-term filter prunes the token
    stream before any aggregation, corpus stats broadcast, top-k
    compiles to TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.bm25_topk(docs, ["vector", "hash", "spark"], k=10)


@_q("x35_dup_clusters_lsh")
def x35_dup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering over banded MinHash LSH candidates — the
    100 TB path (x31's exact-Jaccard pair source is quadratic within
    blocks and quarantined as the small-sf oracle, exactly like
    x7 vs x10). Bucket-equality candidate generation + Hash-Min CC;
    approximate by the MinHash S-curve → rows-only, cluster-agreement
    vs the exact form asserted in tests/test_extensions.py."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(docs, threshold=0.5, source="lsh")


@_q(
    "x36_document_chunks",
    r"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
         FROM documents),
       idx AS (
         SELECT doc_id, t,
                generate_subscripts(
                    range(1, greatest(len(t) - 16, 1) + 1, 48), 1)
                    AS chunk_idx,
                unnest(range(1, greatest(len(t) - 16, 1) + 1, 48)) AS s
         FROM toks)
       SELECT doc_id, CAST(chunk_idx - 1 AS INT) AS chunk_idx,
              array_to_string(t[s:s+63], ' ') AS chunk_text,
              CAST(len(t[s:s+63]) AS BIGINT) AS n_tokens
       FROM idx""",
)
def x36_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context chunking (operators/text.py
    chunk_documents): 64-token chunks, 16-token overlap (stride 48),
    no redundant strict-subset tail when a document ends on a chunk
    boundary (starts stop at len − overlap — both sides). Zero-shuffle
    fan-out inside the scan stage; the SQL twin drives the identical
    windows with a stepped range + list slicing."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.chunk_documents(docs, chunk_tokens=64, overlap=16)


@_q(
    "x37_bigram_lm_score",
    r"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
         FROM documents),
       big AS (
         SELECT doc_id,
                unnest(list_transform(
                  range(1, greatest(len(t) - 1, 0) + 1),
                  i -> t[i] || ' ' || t[i + 1])) AS bg
         FROM toks WHERE len(t) >= 2),
       bgc AS (SELECT bg, count(*) AS c_bg FROM big GROUP BY bg),
       uni AS (SELECT unnest(t) AS w FROM toks),
       unic AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
       v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM uni)
       SELECT big.doc_id,
              CAST(count(*) AS BIGINT) AS n_bigrams,
              round(avg(ln((c_bg + 1) / (c_w + v))), 6) AS avg_logprob
       FROM big
       JOIN bgc USING (bg)
       JOIN unic ON split_part(bg, ' ', 1) = unic.w, v
       GROUP BY big.doc_id""",
)
def x37_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-supervised LM quality scoring (operators/text.py
    bigram_lm_score): mean log-prob under the corpus's own add-one
    bigram model — the perplexity-filter shape with the count tables
    standing in for an external LM. Bigram model joins keyed on the
    bigram; unigram/vocab stats broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.bigram_lm_score(docs)


@_q(
    "x38_incremental_dedup",
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
       batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
       no_exact AS (
         SELECT b.* FROM batch b
         WHERE sha256(b.text) NOT IN (SELECT sha256(text) FROM corpus)),
       bsh AS (
         SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 0) + 1),
             i -> substring(text, i, 3))) AS sh
         FROM no_exact),
       csh AS (
         SELECT lang, n_chars,
           list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 0) + 1),
             i -> substring(text, i, 3))) AS sh
         FROM corpus),
       near AS (
         SELECT DISTINCT b.doc_id FROM bsh b JOIN csh c
           ON b.lang = c.lang AND abs(b.n_chars - c.n_chars) <= 20
         WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
               / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh)))
               >= 0.6)
       SELECT doc_id, lang, source, n_chars FROM no_exact
       WHERE doc_id NOT IN (SELECT doc_id FROM near)""",
)
def x38_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus dedup (operators/dedup.py
    incremental_dedup): corpus = even doc_ids, incoming batch = odd;
    batch docs exact- or near-duplicating any corpus doc are dropped.
    The content-identity lift of the reference's L3 watermark dedup
    (`scripts/load_stock_metrics.py:76-88`)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    out = dedup.incremental_dedup(corpus, batch, threshold=0.6)
    return out.select("doc_id", "lang", "source", "n_chars")


@_q("x39_incremental_dedup_lsh")
def x39_incremental_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup over banded MinHash candidates — the
    100 TB path for x38 (whose exact blocked-Jaccard near side is
    quadratic within blocks and stays as the small-sf oracle, exactly
    like x31 vs x35). Corpus signature tables are seed-stable, so at
    scale they are materialized once per corpus version and reused
    per batch; approximate by the MinHash S-curve → rows-only, recall
    vs the exact form asserted in tests/test_extensions.py."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    out = dedup.incremental_dedup(corpus, batch, threshold=0.5, source="lsh")
    return out.select("doc_id", "lang", "source", "n_chars")


@_q("x40_ivf_topk_lake")
def x40_ivf_topk_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over a MATERIALIZED index — the 100 TB deployment
    shape of x15: `write_ivf_index` lays the cell assignments down as
    cell-partitioned parquet (one offline k-means + scan), then every
    online probe reads the artifact back and touches only the
    n_probe/n_lists probed cells via partition pruning at file listing
    (plan-asserted in tests/test_plans.py). Same seed/params as x15, so
    the probe result is identical to the inline form (asserted in
    tests/test_extensions.py); k-means is engine-specific → rows-only,
    like x15. The index artifact is built ONCE per (process, sf_dir)
    and cleaned at exit (_scratch.cached_dir) — the deployment shape
    is build-once-probe-many, and repeated bench/correctness runs must
    not re-run k-means or leak temp-dir disk per call."""
    emb = load_table(spark, sf_dir, "embeddings")
    path, built = _scratch.cached_dir("ivf_lake", sf_dir)
    if not built:
        assigned, centers = similarity.ivf_index(emb, n_lists=16)
        similarity.write_ivf_index(assigned, centers, path)
        _scratch.mark_built(path)
    lake_assigned, lake_centers = similarity.read_ivf_index(spark, path)
    return similarity.ivf_probe(
        lake_assigned, lake_centers, query_id=0, k=10, n_probe=4
    )


@_q(
    "x41_leakage_safe_split",
    """WITH RECURSIVE sh AS (
         SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 0) + 1),
             i -> substring(text, i, 3))) AS shingles
         FROM documents),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
          AND abs(a.n_chars - b.n_chars) <= 20
         WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))) >= 0.6),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT a, a FROM edges
         UNION
         SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       reps AS (SELECT id AS doc_id, min(r) AS cluster_rep
                FROM reach GROUP BY id),
       keyed AS (
         SELECT d.doc_id, d.lang,
                coalesce(r.cluster_rep, d.doc_id) AS split_key
         FROM documents d LEFT JOIN reps r USING (doc_id))
       SELECT doc_id, lang,
              CASE WHEN substr(md5(CAST(split_key AS VARCHAR) || 'split-v1'),
                               1, 4) < 'e666' THEN 'train'
                   WHEN substr(md5(CAST(split_key AS VARCHAR) || 'split-v1'),
                               1, 4) < 'f333' THEN 'val'
                   ELSE 'test' END AS split
       FROM keyed""",
)
def x41_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: x22's hash split drawn at
    NEAR-DUP-CLUSTER grain (operators/sampling.py leakage_safe_split
    over x31's connected components), so near-identical documents can
    never straddle train and test — the contamination a doc-grain
    split cannot rule out. Same weights/salt as x22: singletons keep
    their x22 split; only clustered docs move (to their rep's draw).
    Oracle: x31's recursive-CTE transitive closure + the same md5 CASE
    on the cluster key."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.near_dup_clusters(docs, threshold=0.6)
    return sampling.leakage_safe_split(
        docs,
        {"train": 0.90, "val": 0.05, "test": 0.05},
        clusters,
        salt="split-v1",
    ).select("doc_id", "lang", "split")


@_q(
    "x42_temperature_mix",
    """WITH counts AS (
         SELECT source, count(*) AS n FROM documents GROUP BY source),
       m AS (SELECT min(n) AS n_min FROM counts),
       q AS (
         SELECT source,
           CASE WHEN pow(n / CAST(n_min AS DOUBLE), -0.5) >= 1.0 THEN 'g'
                ELSE printf('%04x', CAST(floor(
                  pow(n / CAST(n_min AS DOUBLE), -0.5) * 65536) AS BIGINT))
           END AS thr
         FROM counts, m)
       SELECT d.doc_id, d.source, d.lang
       FROM documents d JOIN q ON d.source IS NOT DISTINCT FROM q.source
       WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix-temp-v1'), 1, 4)
             < q.thr""",
)
def x42_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source rebalancing (alpha = 0.5): keep rate
    per source is (n_s/n_min)^(alpha-1), so the smallest source keeps
    everything and larger sources are deterministically hash-
    downsampled toward uniform — the standard LLM data-mixture move
    (operators/sampling.py temperature_sample). Data-derived fractions:
    one source-grain count aggregate feeds thresholds joined back onto
    the scan (no broadcast hint — the x33 vocabulary-join rule)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_sample(
        docs, alpha=0.5, strata_col="source", salt="mix-temp-v1"
    ).select("doc_id", "source", "lang")


@_q("x43_pq_topk_lake")
def x43_pq_topk_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC probe over a MATERIALIZED index — x21's deployment shape
    (`write_pq_index`/`read_pq_index`): codebooks train once per index
    build, every online query reads the m-byte code column of the
    artifact plus `rerank` raw vectors. Same seed/params as x21 ⇒ the
    probe result is identical to the inline form (asserted in
    tests/test_extensions.py); sample-trained codebooks → rows-only,
    like x21. Build-once-probe-many: the artifact is cached per
    (process, sf_dir) and cleaned at exit, like x40."""
    emb = load_table(spark, sf_dir, "embeddings")
    path, built = _scratch.cached_dir("pq_lake", sf_dir)
    if not built:
        codes, books = similarity.pq_index(emb)
        similarity.write_pq_index(codes, books, path)
        _scratch.mark_built(path)
    codes_lake, books_lake = similarity.read_pq_index(spark, path)
    return similarity.pq_probe(codes_lake, books_lake, emb, query_id=0, k=10)


@_q(
    "x44_shard_assignment",
    """SELECT doc_id,
              pos AS shuffle_pos,
              CAST(floor((pos - 1) / 512) AS BIGINT) AS shard_id
       FROM (SELECT doc_id,
                    ROW_NUMBER() OVER (
                        ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch-1'),
                                 doc_id
                    ) AS pos
             FROM documents)""",
)
def x44_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout (operators/sampling.py
    shard_assignment): floor((pos-1)/512) over x27's epoch-shuffle
    order — every shard except the last holds exactly 512 docs in
    shuffled order, and the doc→shard map is a pure function of
    (id, salt, shard size). `write_shards` materializes it as one
    sorted directory per shard (roundtrip-tested); the assignment
    itself is the hash-checkable part."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.shard_assignment(docs, 512, salt="epoch-1").select(
        "doc_id", "shuffle_pos", "shard_id"
    )


@_q(
    "x45_corpus_report",
    f"""WITH t AS (
          SELECT source, lang, n_chars,
            CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
            0.4 * least(1.0, len({_TOKS}) / 100.0)
              + 0.3 * (1.0 - CAST(length(regexp_replace(text,
                    '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
              + 0.3 * CAST(len(list_filter({_TOKS},
                    x -> list_contains({_sql_list(STOPWORDS)}, x)))
                    AS DOUBLE) / len({_TOKS}) AS q
          FROM documents)
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(q), 6) AS avg_quality,
               round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
               round(quantile_cont(n_chars, 0.95), 6) AS p95_chars
        FROM t GROUP BY source, lang""",
)
def x45_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation report — the per-(source, lang) profile a
    dataset-mix decision reads: volume (docs, tokens), quality (mean
    x3 score), and length shape (exact interpolated p50/p95). One
    scan → one grouped aggregate, all map-side combinable except the
    exact percentiles (whose 100 TB twin is e16's approx_percentile
    sketch — same trade as e15/e16). The curation counterpart of the
    reference's dashboard profile queries (`scripts/app.py:54-66`
    grouped stats), over the documents fixture."""
    docs = load_table(spark, sf_dir, "documents")
    # averages run over the UNROUNDED per-doc score: averaging x3's
    # 6dp-rounded column manufactures exact decimal midpoints that the
    # two engines' round() then break differently — unrounded doubles
    # land on midpoints with probability ~0 (same rule as e15)
    scored = docs.select(
        "source",
        "lang",
        "n_chars",
        text_ops.token_count(F.col("text")).alias("n_tokens"),
        text_ops.quality_score(F.col("text")).alias("__q"),
    )
    return scored.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.round(F.avg("__q"), 6).alias("avg_quality"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("p95_chars"),
    )


@_q(
    "x46_curation_pipeline",
    """WITH RECURSIVE kept AS (
         SELECT * FROM documents WHERE n_chars >= 200),
       counts AS (
         SELECT source, count(*) AS n FROM kept GROUP BY source),
       m AS (SELECT min(n) AS n_min FROM counts),
       thr AS (
         SELECT source,
           CASE WHEN pow(n / CAST(n_min AS DOUBLE), -0.5) >= 1.0 THEN 'g'
                ELSE printf('%04x', CAST(floor(
                  pow(n / CAST(n_min AS DOUBLE), -0.5) * 65536) AS BIGINT))
           END AS t
         FROM counts, m),
       mixed AS (
         SELECT d.* FROM kept d
         JOIN thr ON d.source IS NOT DISTINCT FROM thr.source
         WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix-temp-v1'), 1, 4)
               < thr.t),
       uniq AS (
         SELECT * FROM (
           SELECT *, min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
           FROM mixed)
         WHERE doc_id = keep_id),
       sh AS (
         SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 0) + 1),
             i -> substring(text, i, 3))) AS shingles
         FROM uniq),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
          AND abs(a.n_chars - b.n_chars) <= 20
         WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))) >= 0.6),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT a, a FROM edges
         UNION
         SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       reps AS (SELECT id AS doc_id, min(r) AS cluster_rep
                FROM reach GROUP BY id),
       keyed AS (
         SELECT u.doc_id, u.source, u.lang,
                coalesce(r.cluster_rep, u.doc_id) AS split_key
         FROM uniq u LEFT JOIN reps r USING (doc_id))
       SELECT doc_id, source, lang,
              CASE WHEN substr(md5(CAST(split_key AS VARCHAR) || 'split-v1'),
                               1, 4) < 'e666' THEN 'train'
                   WHEN substr(md5(CAST(split_key AS VARCHAR) || 'split-v1'),
                               1, 4) < 'f333' THEN 'val'
                   ELSE 'test' END AS split
       FROM keyed""",
)
def x46_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation flagship v2 — the r05 operator set fused into
    ONE Catalyst plan: quality floor → temperature-weighted source
    rebalance (x42, data-derived keep rates computed on the filtered
    set) → exact content dedup (x6) → near-dup clustering over the
    survivors (x31) → leakage-safe cluster-grain split (x41). The
    successor to x28's composition: where x28 splits at doc grain
    after dropping near-dups' exact tier only, this pipeline keeps
    near-duplicates but pins every cluster to one split — the
    leakage-safe alternative when fuzzy dedup is too lossy for the
    domain. Every stage except one is declarative — scan-side hash
    filters, one count aggregate, the hash-pair dedup shuffle, one
    id-grain join; the exception is the CC fixpoint (iterative
    min-label rounds with eager per-round checkpoints — the one
    operator Catalyst cannot express), whose (id, label) table
    re-enters the declarative plan for the final split join. No
    driver-side data state anywhere. At 100 TB the pair source swaps
    to `source="lsh"` exactly as x31 → x35; the exact blocked-Jaccard
    form here is what the oracle can replay. Oracle: the same chain
    as CTEs with x31's recursive-CTE closure in the middle."""
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.col("n_chars") >= 200)
    mixed = sampling.temperature_sample(
        kept, alpha=0.5, strata_col="source", salt="mix-temp-v1"
    )
    uniq = dedup.exact_dedup(mixed)
    clusters = dedup.near_dup_clusters(uniq, threshold=0.6)
    return sampling.leakage_safe_split(
        uniq,
        {"train": 0.90, "val": 0.05, "test": 0.05},
        clusters,
        salt="split-v1",
    ).select("doc_id", "source", "lang", "split")


@_q("x48_curation_pipeline_lsh")
def x48_curation_pipeline_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x46's 100 TB form: the identical composed curation plan with the
    near-dup pair source swapped to banded MinHash LSH
    (`source="lsh"`) — candidate generation is a bucket-equality join,
    never an all-pairs scan, exactly the x31 → x35 swap. Rows-only by
    design (LSH bucketing is engine-specific); the hard evidence is
    x46's full hash oracle on the exact twin plus the
    cluster-cohesion/agreement invariants in tests/test_extensions.py.
    This is the benched form: BASELINE.md times it beside x46 so the
    exact-vs-LSH crossover stays visible as sf grows."""
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.col("n_chars") >= 200)
    mixed = sampling.temperature_sample(
        kept, alpha=0.5, strata_col="source", salt="mix-temp-v1"
    )
    uniq = dedup.exact_dedup(mixed)
    clusters = dedup.near_dup_clusters(uniq, threshold=0.6, source="lsh")
    return sampling.leakage_safe_split(
        uniq,
        {"train": 0.90, "val": 0.05, "test": 0.05},
        clusters,
        salt="split-v1",
    ).select("doc_id", "source", "lang", "split")


@_q(
    "x50_session_transcripts",
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
       SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
              min(ts) AS sess_start, max(ts) AS sess_end,
              CAST(count(*) AS BIGINT) AS n_turns,
              string_agg(event_type, ' ' ORDER BY ts, event_id)
                  AS transcript
       FROM numbered GROUP BY user_id, sess_id""",
)
def x50_session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation/thread assembly (operators/sessions.py
    session_transcripts): interaction logs become one ordered
    transcript document per 30-min-gap session — the step that turns
    chat/agent event streams into LLM training documents. One exchange
    of the events on user_id (sessionize's two windows share it), then
    a session-grain agg whose deterministic in-session order rides
    inside array_sort'ed structs — no second sort exchange."""
    from stock_market_etl_spark.operators import sessions

    ev = load_table(spark, sf_dir, "events")
    return sessions.session_transcripts(ev, gap_minutes=30)


@_q(
    "x49_paragraph_dedup",
    r"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
         FROM documents),
       idx AS (
         SELECT doc_id,
                generate_subscripts(
                    range(1, greatest(len(t), 1) + 1, 20), 1) AS bi,
                unnest(range(1, greatest(len(t), 1) + 1, 20)) AS s, t
         FROM toks),
       blocks AS (
         SELECT doc_id, CAST(bi - 1 AS INT) AS idx,
                array_to_string(t[s:s+19], ' ') AS b
         FROM idx),
       firsts AS (
         SELECT doc_id, idx FROM (
           SELECT doc_id, idx,
                  ROW_NUMBER() OVER (PARTITION BY b
                                     ORDER BY doc_id, idx) AS rn
           FROM blocks)
         WHERE rn = 1),
       agg AS (
         SELECT bl.doc_id,
                string_agg(bl.b, ' ' ORDER BY bl.idx) AS kept_text,
                count(*) AS n_kept
         FROM blocks bl JOIN firsts USING (doc_id, idx)
         GROUP BY bl.doc_id),
       tot AS (
         SELECT doc_id, count(*) AS n_total FROM blocks GROUP BY doc_id)
       SELECT t.doc_id,
              coalesce(a.kept_text, '') AS kept_text,
              coalesce(a.n_kept, 0) AS n_kept,
              t.n_total
       FROM tot t LEFT JOIN agg a USING (doc_id)""",
)
def x49_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-grain exact dedup (operators/dedup.py paragraph_dedup):
    C4/Gopher's "drop repeated spans" at 20-token block grain — keep
    the globally first occurrence of every distinct block, reassemble
    each doc from its survivors. Text stays out of the dedup
    exchanges: the corpus-wide shuffle carries (sha2, doc_id, idx)
    only, winners collapse to id-grain keep-lists, and docs re-slice
    their own token arrays locally. The oracle replays the decision by
    windowing over the block text itself (identical modulo sha2
    collisions, i.e. identical)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.paragraph_dedup(docs, para_tokens=20)


@_q(
    "x47_corpus_diff",
    """WITH o AS (
         SELECT sha256(text) AS content_hash, count(*) AS old_copies
         FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1),
       n AS (
         SELECT sha256(text) AS content_hash, count(*) AS new_copies
         FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1)
       SELECT coalesce(o.content_hash, n.content_hash) AS content_hash,
              CASE WHEN o.content_hash IS NULL THEN 'added'
                   WHEN n.content_hash IS NULL THEN 'removed'
                   ELSE 'kept' END AS status,
              coalesce(old_copies, 0) AS old_copies,
              coalesce(new_copies, 0) AS new_copies
       FROM o FULL OUTER JOIN n USING (content_hash)""",
)
def x47_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff at content identity (operators/dedup.py
    corpus_diff): added/removed/kept per distinct content hash with
    per-side copy counts — the audit between two corpus versions that
    incremental builds (x38/n9) are validated against. Two overlapping
    fixture slices stand in for v1/v2. Hash-grain (hash, count) rows
    through one full-outer join — never text."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.corpus_diff(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 5 != 0),
    )


@_q(
    "x51_gopher_rules",
    f"""WITH t AS (
          SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        m AS (
          SELECT doc_id,
            round(CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks), 6) AS mean_word_len,
            round((length(text) - length(replace(text, '#', ''))
                   + (length(text) - length(replace(text, '...', ''))) / 3.0)
                  / len(toks), 6) AS symbol_word_ratio,
            round(CAST(len(list_filter(toks,
                       x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                  / len(toks), 6) AS alpha_word_frac,
            CAST(len(list_filter(toks,
                 x -> list_contains({_sql_list(STOPWORDS)}, x)))
                 AS BIGINT) AS n_stopword_hits
          FROM t)
        SELECT doc_id, mean_word_len, symbol_word_ratio, alpha_word_frac,
               n_stopword_hits,
               (mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_word_ratio <= 0.1
                AND alpha_word_frac >= 0.8
                AND n_stopword_hits >= 2) AS keep
        FROM m""",
)
def x51_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule filter (Rae et al. 2021 §A1.1, the
    word-grain rules; the reference has no quality classifier — this
    is training-data superset like x3/x30): per-document mean word
    length, symbol-to-word ratio, alphabetic-word fraction, stopword
    hits, and the composed keep decision. One scan, pure array
    expressions (no UDF, no shuffle at all — embarrassingly parallel
    at 100 TB); the keep column is evaluated on the rounded metrics so
    both engines compare identical numbers. Complements x3's composite
    score (soft ranking) with hard accept/reject gates — the C4/Gopher
    pipeline stage that precedes dedup in a real corpus build."""
    docs = load_table(spark, sf_dir, "documents")
    m = text_ops.gopher_metrics(F.col("text"))
    scored = docs.select(
        "doc_id",
        m["mean_word_len"].alias("mean_word_len"),
        m["symbol_word_ratio"].alias("symbol_word_ratio"),
        m["alpha_word_frac"].alias("alpha_word_frac"),
        m["n_stopword_hits"].alias("n_stopword_hits"),
    )
    return scored.withColumn(
        "keep",
        text_ops.gopher_keep(
            {
                "mean_word_len": F.col("mean_word_len"),
                "symbol_word_ratio": F.col("symbol_word_ratio"),
                "alpha_word_frac": F.col("alpha_word_frac"),
                "n_stopword_hits": F.col("n_stopword_hits"),
            }
        ),
    )


@_q(
    "x52_paragraph_contamination",
    r"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
         FROM documents),
       idx AS (
         SELECT doc_id,
                unnest(range(1, greatest(len(t), 1) + 1, 20)) AS s, t
         FROM toks),
       blocks AS (
         SELECT doc_id, array_to_string(t[s:s+19], ' ') AS b FROM idx),
       train AS (SELECT DISTINCT b FROM blocks WHERE doc_id % 10 < 8),
       eb AS (SELECT doc_id, b FROM blocks WHERE doc_id % 10 >= 8)
       SELECT eb.doc_id,
              CAST(count(*) AS BIGINT) AS n_blocks,
              CAST(coalesce(sum(CASE WHEN train.b IS NOT NULL THEN 1 END),
                            0) AS BIGINT) AS n_hit,
              round(coalesce(sum(CASE WHEN train.b IS NOT NULL THEN 1 END),
                             0)::DOUBLE / count(*), 6) AS contamination
       FROM eb LEFT JOIN train USING (b)
       GROUP BY eb.doc_id""",
)
def x52_paragraph_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain decontamination audit (operators/text.py
    paragraph_contamination): per eval document, the fraction of its
    non-overlapping 20-token blocks (x49's block rule) found verbatim
    in the train corpus (doc_id % 10 split, like x26). x26's
    overlapping 4-grams catch partial-span leakage at n× row cost;
    this is the linear-cost tier that catches wholesale paragraph
    copies — real decontamination pipelines run block-grain first,
    gram-grain on survivors. Hash-grain exchanges only (the oracle
    replays over block text; identical modulo sha2 collisions)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.paragraph_contamination(
        docs.filter(F.col("doc_id") % 10 < 8),
        docs.filter(F.col("doc_id") % 10 >= 8),
        para_tokens=20,
    )


def _pagerank_sql(iterations: int, damping: float) -> str:
    """Unroll x53's fixed-count PageRank power iteration into chained
    CTEs — one (contribution, dangling-mass, update) triple per round,
    the SQL replay of operators/graph.py::pagerank's exact semantics."""
    sql = """WITH seq AS (
         SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev
         FROM events),
       edges AS (
         SELECT prev AS src, event_type AS dst,
                CAST(count(*) AS DOUBLE) AS w
         FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
       outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
       nodes AS (SELECT src AS v FROM edges
                 UNION SELECT dst AS v FROM edges),
       nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes, nn)"""
    for k in range(iterations):
        sql += f""",
       c{k + 1} AS (
         SELECT e.dst AS v, sum(r{k}.r * e.w / o.tw) AS contrib
         FROM edges e
         JOIN outw o ON e.src = o.src
         JOIN r{k} ON r{k}.v = e.src
         GROUP BY e.dst),
       d{k + 1} AS (
         SELECT coalesce(sum(r), 0.0) AS dm FROM r{k}
         WHERE v NOT IN (SELECT src FROM edges)),
       r{k + 1} AS (
         SELECT nodes.v,
                (1.0 - {damping}) / nn.n
                + {damping} * (coalesce(c{k + 1}.contrib, 0.0)
                               + d{k + 1}.dm / nn.n) AS r
         FROM nodes
         CROSS JOIN nn CROSS JOIN d{k + 1}
         LEFT JOIN c{k + 1} ON nodes.v = c{k + 1}.v)"""
    return (
        sql
        + f"""
       SELECT v AS event_type, round(r, 6) AS rank_score
       FROM r{iterations}"""
    )


@_q("x53_event_pagerank", _pagerank_sql(3, 0.85))
def x53_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph
    (operators/graph.py::pagerank, 3 power iterations, d=0.85):
    consecutive events per user define weighted edges prev→next, and
    the stationary-visit ranking says which states the session flow
    concentrates on — the graph twin of e17's funnel (funnel fixes a
    path, PageRank ranks all states at once). The fixed iteration
    count makes the result a pure input function, replayed exactly by
    the oracle's unrolled CTEs.

    Scale shape: the edge build is one lag window + one map-side
    partial count agg (edge set is |event_types|², dims-sized); each
    iteration joins node-grain ranks (broadcast at this node count,
    AQE-co-partitioned on src in the general case) and shuffles only
    (node, double) pairs. Dangling mass rides a broadcast 1-row agg,
    not a driver collect."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(wseq).alias("prev")
    )
    edges = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )
    return graph.pagerank(
        edges, iterations=3, damping=0.85, weight_col="w"
    ).select(
        F.col("v").alias("event_type"),
        F.round("pagerank", 6).alias("rank_score"),
    )


@_q(
    "x54_epoch_repeat",
    """WITH d AS (
         SELECT doc_id, source,
                CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                            WHEN 'src2' THEN 3 ELSE 1 END
                + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)
                                       || 'recipe-v1'), 1, 4)
                            < CASE source WHEN 'src0' THEN '8000'
                                          WHEN 'src1' THEN '4000'
                                          ELSE '0000' END
                       THEN 1 ELSE 0 END AS n_copies
         FROM documents)
       SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
              CAST(g.c AS BIGINT) AS copy_idx
       FROM d, unnest(generate_series(1, n_copies)) AS g(c)
       WHERE n_copies > 0""",
)
def x54_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe repeat-factor materializer (operators/sampling.py
    epoch_repeat): src0 upsampled 2.5x, src2 3x, src1 downsampled to
    0.25x, everything else 1x — floor(f) guaranteed copies plus an
    md5-prefix draw for the fractional remainder, the UPSAMPLING dual
    of x42's temperature mix (recipes that weight a rare source ABOVE
    1 need copies, not a keep rate). Entirely scan-local — zero
    shuffles (plan-asserted); copy_idx is the epoch-distinct key x27's
    shuffle and x44's shard layout key on downstream."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.epoch_repeat(
        docs,
        factors={"src0": 2.5, "src1": 0.25, "src2": 3.0},
        strata_col="source",
        id_col="doc_id",
        salt="recipe-v1",
    ).select(
        "doc_id",
        "source",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("copy_idx").cast("long").alias("copy_idx"),
    )


@_q("x55_semdedup")
def x55_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/similarity.py semdedup):
    k-means-cluster the embeddings, then drop every vector with a
    lower-id in-cluster neighbor at cosine ≥ 0.4 — cluster-scoped
    pruning instead of x16's all-pairs scan, the embedding-space
    third tier after exact (x16) and LSH-blocked (x17). k-means makes
    the assignment engine-specific → rows-only; hard evidence is the
    survivor invariant (no two survivors share a cluster at ≥
    threshold) and the x16-agreement test in tests/test_extensions.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, n_clusters=8, threshold=0.4).select(
        "vec_id"
    )


@_q(
    "x56_gopher_repetition",
    rf"""WITH b AS (
         SELECT doc_id,
                CAST(length(array_to_string({_TOKS}, ' ')) AS DOUBLE)
                  AS base,
                {_TOKS} AS t
         FROM documents),
       grams AS (
         SELECT doc_id, base, 2 AS n,
                unnest(list_transform(
                  range(1, greatest(len(t) - 1, 0) + 1),
                  i -> t[i] || ' ' || t[i + 1])) AS g
         FROM b WHERE len(t) >= 2
         UNION ALL
         SELECT doc_id, base, 3,
                unnest(list_transform(
                  range(1, greatest(len(t) - 2, 0) + 1),
                  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
         FROM b WHERE len(t) >= 3
         UNION ALL
         SELECT doc_id, base, 5,
                unnest(list_transform(
                  range(1, greatest(len(t) - 4, 0) + 1),
                  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                       || ' ' || t[i + 3] || ' ' || t[i + 4]))
         FROM b WHERE len(t) >= 5),
       gc AS (
         SELECT doc_id, n, g, any_value(base) AS base, count(*) AS c
         FROM grams GROUP BY doc_id, n, g),
       rk AS (
         SELECT doc_id, n, base, c,
                CAST(c * length(g) AS DOUBLE) AS cgl,
                row_number() OVER (
                  PARTITION BY doc_id, n
                  ORDER BY c DESC, c * length(g) DESC, g DESC) AS rn
         FROM gc),
       pern AS (
         SELECT doc_id, n, any_value(base) AS base,
                sum(CASE WHEN rn = 1 THEN cgl ELSE 0 END) AS topcov,
                sum(CASE WHEN c > 1 THEN cgl ELSE 0 END) AS dupcov
         FROM rk GROUP BY doc_id, n),
       pd AS (
         SELECT doc_id,
                max(CASE WHEN n = 2 THEN topcov / base END) AS t2,
                max(CASE WHEN n = 3 THEN topcov / base END) AS t3,
                max(CASE WHEN n = 5 THEN dupcov / base END) AS d5
         FROM pern GROUP BY doc_id)
       SELECT d.doc_id,
              round(coalesce(t2, 0.0), 6) AS top2_frac,
              round(coalesce(t3, 0.0), 6) AS top3_frac,
              round(coalesce(d5, 0.0), 6) AS dup5_frac,
              (round(coalesce(t2, 0.0), 6) <= 0.20
               AND round(coalesce(t3, 0.0), 6) <= 0.18
               AND round(coalesce(d5, 0.0), 6) <= 0.15) AS keep
       FROM documents d LEFT JOIN pd USING (doc_id)""",
)
def x56_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (operators/text.py repetition_metrics):
    per-document character coverage of the most common 2-/3-gram and
    of all duplicate 5-grams, with the paper's keep thresholds — the
    n-gram half of Gopher's quality gates (x51 is the word-grain
    half; together they are the full hard-filter stage). Linear-cost
    gram counting: hash-agg on (doc, n, gram) with map-side partials
    (doc_id in the key kills corpus-frequent-gram skew), two doc-keyed
    rollups, no corpus-wide join."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.repetition_metrics(docs)


#: x57's oracle: x51's word gates AND x56's repetition gates, then
#: x49's first-occurrence block dedup ON THE SURVIVORS, then x22's
#: hash split — one CTE chain mirroring the single fused Spark plan.
_X57_SQL = rf"""WITH wordgate AS (
     SELECT doc_id FROM (
       SELECT doc_id, text, {_TOKS} AS toks FROM documents) t
     WHERE round(CAST(list_sum(list_transform(toks, x -> length(x)))
                      AS DOUBLE) / len(toks), 6) BETWEEN 3.0 AND 10.0
       AND round((length(text) - length(replace(text, '#', ''))
                  + (length(text) - length(replace(text, '...', ''))) / 3.0)
                 / len(toks), 6) <= 0.1
       AND round(CAST(len(list_filter(toks,
                      x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                 / len(toks), 6) >= 0.8
       AND CAST(len(list_filter(toks,
                 x -> list_contains({_sql_list(STOPWORDS)}, x)))
                AS BIGINT) >= 2),
   rb AS (
     SELECT doc_id,
            CAST(length(array_to_string({_TOKS}, ' ')) AS DOUBLE) AS base,
            {_TOKS} AS t
     FROM documents),
   rgrams AS (
     SELECT doc_id, base, 2 AS n,
            unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                  i -> t[i] || ' ' || t[i + 1])) AS g
     FROM rb WHERE len(t) >= 2
     UNION ALL
     SELECT doc_id, base, 3,
            unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
     FROM rb WHERE len(t) >= 3
     UNION ALL
     SELECT doc_id, base, 5,
            unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                        || ' ' || t[i + 3] || ' ' || t[i + 4]))
     FROM rb WHERE len(t) >= 5),
   rgc AS (
     SELECT doc_id, n, g, any_value(base) AS base, count(*) AS c
     FROM rgrams GROUP BY doc_id, n, g),
   rrk AS (
     SELECT doc_id, n, base, c, CAST(c * length(g) AS DOUBLE) AS cgl,
            row_number() OVER (PARTITION BY doc_id, n
              ORDER BY c DESC, c * length(g) DESC, g DESC) AS rn
     FROM rgc),
   rpern AS (
     SELECT doc_id, n, any_value(base) AS base,
            sum(CASE WHEN rn = 1 THEN cgl ELSE 0 END) AS topcov,
            sum(CASE WHEN c > 1 THEN cgl ELSE 0 END) AS dupcov
     FROM rrk GROUP BY doc_id, n),
   rpd AS (
     SELECT doc_id,
            max(CASE WHEN n = 2 THEN topcov / base END) AS t2,
            max(CASE WHEN n = 3 THEN topcov / base END) AS t3,
            max(CASE WHEN n = 5 THEN dupcov / base END) AS d5
     FROM rpern GROUP BY doc_id),
   repgate AS (
     SELECT d.doc_id FROM documents d LEFT JOIN rpd USING (doc_id)
     WHERE round(coalesce(t2, 0.0), 6) <= 0.20
       AND round(coalesce(t3, 0.0), 6) <= 0.18
       AND round(coalesce(d5, 0.0), 6) <= 0.15),
   gated AS (
     SELECT d.doc_id, d.text FROM documents d
     JOIN wordgate USING (doc_id) JOIN repgate USING (doc_id)),
   toks AS (
     SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
     FROM gated),
   idx AS (
     SELECT doc_id,
            generate_subscripts(
                range(1, greatest(len(t), 1) + 1, 20), 1) AS bi,
            unnest(range(1, greatest(len(t), 1) + 1, 20)) AS s, t
     FROM toks),
   blocks AS (
     SELECT doc_id, CAST(bi - 1 AS INT) AS idx,
            array_to_string(t[s:s+19], ' ') AS b
     FROM idx),
   firsts AS (
     SELECT doc_id, idx FROM (
       SELECT doc_id, idx,
              ROW_NUMBER() OVER (PARTITION BY b
                                 ORDER BY doc_id, idx) AS rn
       FROM blocks)
     WHERE rn = 1),
   agg AS (
     SELECT bl.doc_id, count(*) AS n_kept
     FROM blocks bl JOIN firsts USING (doc_id, idx)
     GROUP BY bl.doc_id),
   tot AS (
     SELECT doc_id, count(*) AS n_total FROM blocks GROUP BY doc_id)
   SELECT t.doc_id,
          CAST(a.n_kept AS BIGINT) AS n_kept,
          CAST(t.n_total AS BIGINT) AS n_total,
          CASE WHEN substr(md5(CAST(t.doc_id AS VARCHAR) || 'split-v1'),
                           1, 4) < 'e666' THEN 'train'
               WHEN substr(md5(CAST(t.doc_id AS VARCHAR) || 'split-v1'),
                           1, 4) < 'f333' THEN 'val'
               ELSE 'test' END AS split
   FROM tot t JOIN agg a USING (doc_id)
   WHERE a.n_kept > 0"""


@_q("x57_gopher_pipeline", _X57_SQL)
def x57_gopher_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-build flagship v3 — the C4/Gopher text stack
    fused into ONE Catalyst plan: x51's word-grain gates AND x56's
    repetition gates filter the raw corpus, x49's first-occurrence
    paragraph dedup runs on the survivors (dedup AFTER gating — the
    real pipeline order, so junk never competes for block
    first-occurrence), empty-after-dedup docs drop (the C4 rule), and
    x22's hash split labels what remains. Mirrors x46/x48's curation
    composition for the quality-gate half of the toolbox. Every
    stage's scale shape is its component's: zero-shuffle gates,
    hash-grain block exchanges, scan-local split."""
    docs = load_table(spark, sf_dir, "documents")
    m = text_ops.gopher_metrics(F.col("text"))
    word_ok = docs.filter(text_ops.gopher_keep(m)).select("doc_id")
    rep_ok = (
        text_ops.repetition_metrics(docs).filter(F.col("keep")).select("doc_id")
    )
    gated = (
        docs.join(word_ok, "doc_id", "semi").join(rep_ok, "doc_id", "semi")
    )
    dd = dedup.paragraph_dedup(gated, para_tokens=20)
    kept = dd.filter(F.col("n_kept") > 0)
    return sampling.deterministic_split(
        kept,
        {"train": 0.9, "val": 0.05, "test": 0.05},
        id_col="doc_id",
        salt="split-v1",
    ).select("doc_id", "n_kept", "n_total", "split")


_X58_SQL = r"""WITH toks AS (
     SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
     FROM documents),
   big AS (
     SELECT doc_id, source,
            unnest(list_transform(
              range(1, greatest(len(t) - 1, 0) + 1),
              i -> t[i] || ' ' || t[i + 1])) AS bg
     FROM toks WHERE len(t) >= 2),
   bb AS (
     SELECT doc_id, source, substring(md5(bg), 1, 3) AS b FROM big),
   cnt AS (
     SELECT b,
            CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                 AS DOUBLE) AS c_t,
            CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                 AS DOUBLE) AS c_r
     FROM bb GROUP BY b),
   tot AS (SELECT sum(c_t) AS tt, sum(c_r) AS tr FROM cnt),
   w AS (
     SELECT b, ln((c_t + 1) / (tt + 4096))
               - ln((c_r + 1) / (tr + 4096)) AS wt
     FROM cnt, tot)
   SELECT bb.doc_id,
          CAST(count(*) AS BIGINT) AS n_grams,
          round(sum(wt), 6) AS log_weight
   FROM bb JOIN w USING (b)
   WHERE bb.source <> 'src0'
   GROUP BY bb.doc_id"""


@_q("x58_dsir_importance", _X58_SQL)
def x58_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/importance.py dsir_weights —
    Xie et al. 2023): every non-src0 document scored by the
    log-likelihood ratio of two add-one-smoothed hashed-bigram
    multinomials, target = the src0 slice, raw = the rest. The
    pretraining-mixture selection move: resampling ∝ exp(weight)
    shifts the pool toward the target domain. md5-prefix bucketing
    (4096 buckets) is byte-identical across engines, so the oracle
    replays the exact feature space; both count tables collapse to
    ≤ 4096 rows and broadcast — the only corpus-sized exchange is the
    final doc-grain sum."""
    docs = load_table(spark, sf_dir, "documents")
    return importance.dsir_weights(
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") != "src0"),
        n_buckets=4096,
    )


def _x59_oracle() -> str:
    x37 = ORACLES["x37_bigram_lm_score"]
    return f"""WITH x37 AS ({x37}),
   scored AS (
     SELECT x37.doc_id, d.lang, x37.avg_logprob
     FROM x37 JOIN documents d USING (doc_id)),
   t AS (
     SELECT *, ntile(3) OVER (PARTITION BY lang
                              ORDER BY avg_logprob DESC, doc_id ASC)
               AS tier
     FROM scored)
   SELECT doc_id, lang, avg_logprob, CAST(tier AS BIGINT) AS tier,
          CASE WHEN tier = 1 THEN 'head'
               WHEN tier = 3 THEN 'tail'
               ELSE 'middle' END AS bucket
   FROM t"""


@_q("x59_perplexity_buckets", _x59_oracle())
def x59_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (operators/text.py
    perplexity_buckets — Wenzek et al. 2020): x37's corpus-LM score
    split into per-LANGUAGE head/middle/tail equal-frequency tiers —
    the paper's key move, since absolute perplexity is not comparable
    across languages; head+middle is the kept pretraining pool.
    Deterministic ordering (rounded score DESC, doc_id ASC) makes
    ntile SQL-replayable; the ranking exchange is on the language key,
    after the doc-grain score aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.perplexity_buckets(docs, n_buckets=3)


@_q(
    "x60_boilerplate_prune",
    r"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
         FROM documents),
       idx AS (
         SELECT doc_id,
                generate_subscripts(
                    range(1, greatest(len(t), 1) + 1, 20), 1) AS bi,
                unnest(range(1, greatest(len(t), 1) + 1, 20)) AS s, t
         FROM toks),
       blocks AS (
         SELECT doc_id, CAST(bi - 1 AS INT) AS idx,
                array_to_string(t[s:s+19], ' ') AS b
         FROM idx),
       banned AS (
         SELECT b FROM blocks
         GROUP BY b HAVING count(DISTINCT doc_id) >= 2),
       agg AS (
         SELECT bl.doc_id,
                string_agg(bl.b, ' ' ORDER BY bl.idx) AS kept_text,
                count(*) AS n_kept
         FROM blocks bl ANTI JOIN banned USING (b)
         GROUP BY bl.doc_id),
       tot AS (
         SELECT doc_id, count(*) AS n_total FROM blocks GROUP BY doc_id)
       SELECT t.doc_id,
              coalesce(a.kept_text, '') AS kept_text,
              CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
              t.n_total
       FROM tot t LEFT JOIN agg a USING (doc_id)""",
)
def x60_boilerplate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate removal (operators/dedup.py
    boilerplate_prune): C4's "discard any line occurring in >= 3
    documents" rule at 20-token block grain — every copy of a
    cross-document repeated block is dropped (vs x49's keep-first).
    Registered with min_docs=2 because the sf0.01 fixture repeats
    blocks mostly pairwise (53 banned blocks vs 4 at the operator's
    C4-default 3 — stronger gate signal, same code path). Text stays
    out of the corpus-wide exchanges: the ban set is a hash-grain
    partial-aggregated count-distinct (~50 B/block), AQE-broadcast
    into the anti-join; docs re-slice their own token arrays
    locally."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.boilerplate_prune(docs, para_tokens=20, min_docs=2)


@_q("x61_image_near_dup")
def x61_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via banded 64-bit average-hash
    (operators/multimodal.py image_ahash + image_near_dup) — visual
    dedup as the image twin of the MinHash-LSH text family, run over
    real 24-bit BMPs synthesized deterministically from the documents
    fixture (bmp_assets_from_documents, genuine decode path). Banded
    blocking is EXACT for Hamming ≤ 3 (4×16-bit pigeonhole), so
    unlike x10/x17 there is no recall curve to trade — but the hash
    itself is engine-specific (decoder + resample kernel), so the
    query is rows-only by policy with hard evidence in
    tests/test_extensions.py: numpy-recomputed hash equality,
    banded ≡ brute-force pair-set equality, and fixture exact-dup
    carryover (duplicate texts → Hamming-0 pairs). 8×8 assets tile
    the first 192 text bytes, so the fixture's shared-prefix docs
    (13 groups at sf0.001) surface as real Hamming-0 pairs.

    The fixture encode→decode→hash runs FUSED in one Arrow stage
    (bmp_ahash_from_documents, r10 VERDICT: the chained two-stage
    form shipped each payload across the Arrow boundary twice and
    the dispatch floor dominated on tiny images); fused ≡ two-stage
    is identity-tested."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = multimodal.bmp_ahash_from_documents(docs, width=8, height=8)
    return multimodal.near_dup_pairs_from_hashes(hashed, max_hamming=3)


@_q(
    "x62_knn_label_propagation",
    """WITH v AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
         FROM embeddings),
       q AS (SELECT vec_id, e FROM v WHERE vec_id % 5 = 0),
       l AS (SELECT vec_id, e, label FROM v WHERE vec_id % 5 <> 0),
       p AS (
         SELECT q.vec_id AS qid, l.vec_id AS lid, l.label,
                round(list_dot_product(q.e, l.e)
                  / (sqrt(list_dot_product(q.e, q.e))
                     * sqrt(list_dot_product(l.e, l.e))), 6) AS sim
         FROM q CROSS JOIN l),
       top AS (
         SELECT qid, lid, label, sim,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, lid) AS rn
         FROM p QUALIFY rn <= 5),
       votes AS (
         SELECT qid, label, CAST(count(*) AS BIGINT) AS votes
         FROM top GROUP BY qid, label),
       win AS (
         SELECT qid, label AS predicted_label, votes,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY votes DESC, label) AS wr
         FROM votes QUALIFY wr = 1),
       m AS (SELECT qid, round(avg(sim), 6) AS mean_topk_sim
             FROM top GROUP BY qid)
       SELECT w.qid AS vec_id, w.predicted_label, w.votes,
              m.mean_topk_sim
       FROM win w JOIN m ON w.qid = m.qid""",
)
def x62_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised auto-labeling (operators/similarity.py
    knn_label_propagation): vectors with vec_id % 5 = 0 play the
    unlabeled pool and receive the majority label of their 5 nearest
    labeled neighbours by cosine — the label-extension step that
    turns a seed label set into corpus-wide training labels. Exact
    quadratic form = the oracle (x7/x16 policy: ground truth kept
    DuckDB-replayable; the query side broadcasts so only id+sim rows
    ever shuffle); x63 is the LSH-bucketed scale twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_propagation(
        emb, F.col("vec_id") % 5 == 0, k=5
    )


@_q("x63_knn_label_propagation_lsh")
def x63_knn_label_propagation_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB form of x62 (operators/similarity.py
    knn_label_propagation_lsh): candidates from hyperplane-LSH bucket
    collisions instead of the all-pairs scan, identical top-k + vote
    tail. Rows-only by policy (bucket membership is engine-specific,
    x10/x17 precedent); hard evidence is the knn_from_candidates
    identity seam (full candidates ≡ exact form), strong-neighbour
    candidate recall ≥ 0.9 on the fixture's planted pairs, and an
    agreement anti-regression floor (tests/test_extensions.py —
    full agreement is not achievable on the random background
    vectors below the LSH crossover, and the test documents why).
    Vectors re-attach by id after the (qid, lid) dedup, so the
    candidate shuffle is id-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_propagation_lsh(
        emb, F.col("vec_id") % 5 == 0, dim=64, k=5,
        n_planes=4, n_tables=16,
    )


_WINNOW_FP_CTE = """
  d AS (SELECT doc_id,
               lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS t
        FROM documents),
  g AS (SELECT doc_id,
               list_transform(
                 list_transform(range(1, length(t) - 8 + 2),
                                i -> md5_number_upper(substring(t, i, 8))),
                 u -> CAST(CAST(u AS HUGEINT)
                           - CASE WHEN u >= 9223372036854775808
                                  THEN 18446744073709551616 ELSE 0 END
                           AS BIGINT)) AS hs
        FROM d WHERE length(t) >= 8),
  s AS (SELECT doc_id, hs,
               range(1, greatest(len(hs) - 16 + 1, 1) + 1) AS js
        FROM g),
  win AS (SELECT doc_id, j, list_slice(hs, j, j + 15) AS sl
          FROM s, unnest(js) AS u(j)),
  fp AS (SELECT DISTINCT doc_id,
               CAST(j + len(sl)
                    - list_position(list_reverse(sl), list_min(sl))
                 AS BIGINT) AS fp_pos,
               list_min(sl) AS fp_hash
         FROM win)
"""


@_q(
    "x64_winnow_fingerprints",
    f"WITH {_WINNOW_FP_CTE} SELECT doc_id, fp_pos, fp_hash FROM fp",
)
def x64_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints — k=8 char-gram 64-bit
    md5 hashes, w=16 window, rightmost-min selection
    (operators/dedup.py winnow_fingerprints). The position-aware local
    fingerprint tier: any shared normalized substring of >= 23 chars
    is guaranteed a shared fingerprint at ~2/17 of the gram count.
    Hashing + selection run in one Arrow-batched Python stage
    (zero-shuffle); the oracle replays every selected (pos, hash)
    exactly via DuckDB's md5_number_upper (≡ little-endian first 8
    digest bytes) — the window slide is deterministic, so unlike
    MinHash this local-fingerprint tier is fully hash-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, k=8, w=16)


@_q(
    "x65_winnow_near_dup",
    f"""WITH {_WINNOW_FP_CTE},
       f AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
       banned AS (SELECT fp_hash FROM f
                  GROUP BY fp_hash HAVING count(*) > 50),
       ok AS (SELECT * FROM f
              WHERE fp_hash NOT IN (SELECT fp_hash FROM banned)),
       pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS shared_fps
              FROM ok a JOIN ok b
                ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
       SELECT doc_a, doc_b, shared_fps FROM pr WHERE shared_fps >= 8""",
)
def x65_winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints
    (operators/dedup.py winnow_near_dup): >= 8 shared selected hashes
    after dropping stop-fingerprints seen in > 50 documents. The
    deterministic (oracle-replayable) member of the near-dup family —
    MinHash/SimHash trade exactness for density, winnowing keeps a
    full DuckDB hash oracle while still bounding the pair stage by
    the per-hash document cap. Fingerprints shuffle as 8-byte BIGINT
    hash + id rows; the ban set is anti-joined broadcast-style;
    text never leaves the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_near_dup(
        docs, k=8, w=16, min_shared=8, max_docs_per_fp=50
    )


_KB_Q_EXPR = f"""0.4 * least(1.0, len({_TOKS}) / 100.0)
              + 0.3 * (1.0 - CAST(length(regexp_replace(text,
                    '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
              + 0.3 * CAST(len(list_filter({_TOKS},
                    x -> list_contains({_sql_list(STOPWORDS)}, x)))
                    AS DOUBLE) / len({_TOKS})"""


@_q(
    "x66_keep_best_dedup",
    f"""WITH RECURSIVE sh AS (
         SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 0) + 1),
             i -> substring(text, i, 3))) AS shingles
         FROM documents),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
          AND abs(a.n_chars - b.n_chars) <= 20
         WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))) >= 0.6),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT a, a FROM edges
         UNION
         SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       clusters AS (
         SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id),
       q AS (SELECT doc_id, {_KB_Q_EXPR} AS q FROM documents),
       ranked AS (
         SELECT c.doc_id, c.cluster_rep, q.q,
                row_number() OVER (PARTITION BY c.cluster_rep
                                   ORDER BY q.q DESC, c.doc_id) AS rn,
                count(*) OVER (PARTITION BY c.cluster_rep) AS csize
         FROM clusters c JOIN q USING (doc_id))
       SELECT doc_id, CAST(csize AS BIGINT) AS cluster_size,
              round(q, 6) AS quality
       FROM ranked WHERE rn = 1
       UNION ALL
       SELECT doc_id, CAST(1 AS BIGINT) AS cluster_size,
              round(q, 6) AS quality
       FROM q WHERE doc_id NOT IN (SELECT doc_id FROM clusters)""",
)
def x66_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup dedup (operators/dedup.py
    keep_best_dedup): x31's near-dup clusters, but each cluster keeps
    its highest-x3-quality member (ties to lowest id) instead of its
    lowest-id one — the FineWeb/SemDeDup curation rule where WHICH
    copy survives matters (the highest-quality variant of a template
    is usually the cleanest). Singletons survive unchanged; output is
    one row per survivor with its cluster size and quality. Exact
    pair source = the oracle (x31 policy — the recursive-CTE closure
    + the same row_number rule over the UNROUNDED score; x45's
    precedent says the unrounded doubles are bit-identical across
    engines). The 100 TB path swaps source="lsh" exactly like
    x31→x35."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.keep_best_dedup(
        docs, text_ops.quality_score(F.col("text")), threshold=0.6
    )


@_q("x67_keep_best_dedup_lsh")
def x67_keep_best_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x66's 100 TB form: quality-aware keep-best dedup over banded
    MinHash LSH candidates instead of the blocked-quadratic exact
    pair source (`source="lsh"` — exactly the x31 → x35 swap).
    Rows-only by policy (bucket membership is engine-specific);
    hard evidence in tests/test_extensions.py: conservation (survivor
    cluster sizes sum to the corpus count for ANY pair source — a
    dropped or double-kept doc breaks it exactly), per-cluster argmax
    self-consistency against an independently recomputed clustering,
    and determinism across runs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.keep_best_dedup(
        docs,
        text_ops.quality_score(F.col("text")),
        threshold=0.5,
        source="lsh",
    )


@_q(
    "x68_weighted_sample",
    """SELECT doc_id, source, n_chars, sample_key FROM (
         SELECT doc_id, source, n_chars,
                round(n_chars / -ln(
                  (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                      || 'ws'), 1, 8)) AS UBIGINT) + 0.5)
                  / 4294967296.0), 6) AS sample_key
         FROM documents)
       ORDER BY sample_key DESC, doc_id LIMIT 100""",
)
def x68_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus subsample (operators/sampling.py
    weighted_sample — Efraimidis–Spirakis A-ES with the hash-uniform
    draw every sampling op here uses): 100 documents drawn
    proportional-to-length WITHOUT replacement, reproducible across
    re-runs, retries, and engines. The weighted complement of x23's
    per-stratum rates and x25's hard quotas — the knob a data recipe
    turns when longer/higher-quality documents should be
    over-represented but not guaranteed. Full hash oracle (the same
    key formula in SQL; keys round before ranking per the x62 rule);
    top-k compiles to TakeOrderedAndProject, plan-asserted with g3."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_sample(
        docs.select("doc_id", "source", "n_chars"),
        weight_col="n_chars",
        k=100,
    )


@_q(
    "x69_fuzzy_name_pairs",
    """WITH v AS (
         SELECT c_custkey AS id, c_name AS name,
           list_distinct(flatten([
             [name],
             list_transform(range(1, length(name) + 1),
               i -> substring(name, 1, i - 1)
                    || substring(name, i + 1, length(name))),
             flatten(list_transform(range(1, length(name) + 1),
               i -> list_transform(range(i + 1, length(name) + 1),
                 j -> substring(name, 1, i - 1)
                      || substring(name, i + 1, j - i - 1)
                      || substring(name, j + 1, length(name)))))
           ])) AS vs
         FROM customer),
       -- variants enter the blocking as md5 DIGESTS, mirroring the
       -- engine's 16-byte exchange economy bit-for-bit (identical
       -- hashing both sides => identical blocking, by construction)
       e AS (SELECT DISTINCT id, name, md5(unnest(vs)) AS var FROM v),
       banned AS (SELECT var FROM (
           SELECT var, count(*) AS n FROM e GROUP BY var)
         WHERE n > 500),
       ok AS (SELECT * FROM e
              WHERE var NOT IN (SELECT var FROM banned)),
       cand AS (SELECT DISTINCT a.id AS id_a, a.name AS na,
                       b.id AS id_b, b.name AS nb
                FROM ok a JOIN ok b
                  ON a.var = b.var AND a.id < b.id)
       SELECT id_a, id_b,
              CAST(levenshtein(na, nb) AS BIGINT) AS dist
       FROM cand WHERE levenshtein(na, nb) <= 2""",
)
def x69_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution (operators/text.py
    deletion_neighborhood_pairs): customer-name pairs within
    Levenshtein distance 2 via SymSpell deletion-neighborhood
    blocking — candidates come from a variant-equality join (two
    strings within distance d ALWAYS share a ≤d-deletion variant),
    the exact levenshtein filter settles them, and stop variants
    (> 500 ids) are banned first. The string-matching complement of
    the hash/shingle dedup family: x6 catches identical text, x7/x10
    near-identical documents, x69 near-identical ENTITY NAMES (the
    dedup a dimension catalog needs before l5's SCD2 keys mean
    anything). Deterministic end-to-end → full DuckDB hash oracle
    (same neighborhood, same standard edit distance); guaranteed-
    complete blocking is property-tested in tests/test_extensions.py.

    This fixture is the DENSE operating point by construction —
    templated serial names differing only in digits, so the TRUE pair
    set is itself near-quadratic (~1.87 M pairs at sf0.1) and the
    candidate stream (~16.4 M, measured) is only ~6× overgeneration:
    the blocking is efficient; the data is dense. The explicit
    25 M candidate budget (histogram-derived, free — see
    deletion_neighborhood_pairs) covers sf0.1 with headroom and turns
    a 100× density melt into a one-line diagnosis instead of a dead
    executor. The sparse operating point — the realistic entity-
    catalog shape — is benched separately as x70."""
    cust = load_table(spark, sf_dir, "customer")
    return text_ops.deletion_neighborhood_pairs(
        cust, name_col="c_name", id_col="c_custkey",
        max_edits=2, max_ids_per_variant=500,
        max_candidate_pairs=25_000_000,
    )


@_q(
    "x70_fuzzy_sparse_pairs",
    """WITH ent AS (
         SELECT c_custkey AS id,
                md5(CAST(c_custkey AS VARCHAR)) AS name
         FROM customer
         UNION ALL
         SELECT c_custkey + 1000000000 AS id,
                substring(md5(CAST(c_custkey AS VARCHAR)), 1, 4)
                || substring(md5(CAST(c_custkey AS VARCHAR)), 6, 27)
                  AS name
         FROM customer WHERE c_custkey % 100 = 0),
       v AS (
         SELECT id, name,
           list_distinct(flatten([
             [name],
             list_transform(range(1, length(name) + 1),
               i -> substring(name, 1, i - 1)
                    || substring(name, i + 1, length(name)))
           ])) AS vs
         FROM ent),
       -- variants enter the blocking as md5 DIGESTS, mirroring the
       -- engine's 16-byte exchange economy bit-for-bit (identical
       -- hashing both sides => identical blocking, by construction)
       e AS (SELECT DISTINCT id, name, md5(unnest(vs)) AS var FROM v),
       banned AS (SELECT var FROM (
           SELECT var, count(*) AS n FROM e GROUP BY var)
         WHERE n > 500),
       ok AS (SELECT * FROM e
              WHERE var NOT IN (SELECT var FROM banned)),
       cand AS (SELECT DISTINCT a.id AS id_a, a.name AS na,
                       b.id AS id_b, b.name AS nb
                FROM ok a JOIN ok b
                  ON a.var = b.var AND a.id < b.id)
       SELECT id_a, id_b,
              CAST(levenshtein(na, nb) AS BIGINT) AS dist
       FROM cand WHERE levenshtein(na, nb) <= 1""",
)
def x70_fuzzy_sparse_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x69's SPARSE operating point — the realistic entity-catalog
    shape, benched as its own row (VERDICT r08 task 2). The entity set
    is deterministic and oracle-replayable: one md5-hex pseudo-name
    per customer (structureless — random names share no deletion
    variants, so near-neighbor density is ~zero) plus a PLANTED typo
    entity for every 100th customer (its name with character 5
    deleted — exactly Levenshtein 1 from its source). The output is
    therefore the planted pair set: blocking recall is directly
    visible in the row count, and the candidate stream stays within a
    1 M budget that the dense x69 fixture would blow through ~16×
    (the guard's one-line diagnosis vs a melted shuffle). Same
    operator, same full DuckDB hash oracle, max_edits=1."""
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    h = F.md5(key.cast("string"))
    base = cust.select(key.alias("entity_id"), h.alias("name"))
    typos = cust.filter(key % 100 == 0).select(
        (key + F.lit(1_000_000_000)).alias("entity_id"),
        F.concat(
            F.substring(h, 1, 4), F.substring(h, 6, 27)
        ).alias("name"),
    )
    return text_ops.deletion_neighborhood_pairs(
        base.unionByName(typos),
        name_col="name", id_col="entity_id",
        max_edits=1, max_ids_per_variant=500,
        max_candidate_pairs=1_000_000,
    )


@_q(
    "x71_substring_dup_spans",
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
                WHERE h IN (SELECT h FROM f)),
       marked AS (SELECT doc_id, pos,
                    CASE WHEN lag(pos) OVER w IS NULL
                           OR pos > lag(pos) OVER w + 8
                         THEN 1 ELSE 0 END AS brk
                  FROM hits
                  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       grp AS (SELECT doc_id, pos,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                        AS gid
               FROM marked)
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
              CAST(max(pos) + 7 AS BIGINT) AS span_end
       FROM grp GROUP BY doc_id, gid""",
)
def x71_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans at ARBITRARY alignment
    (operators/dedup.py exact_substring_spans — Lee et al. 2021's
    suffix-array dedup expressed as overlapping k=8-token windows):
    every window shared by ≥ 2 distinct documents is flagged and
    flagged windows merge into maximal per-doc token spans. Completes
    the dedup ladder's missing rung: x6 whole-document identity →
    x49/x60 fixed non-overlapping blocks (alignment-dependent) →
    THIS (any shared ≥ k-token run, wherever it starts) → x64/x65
    winnowing (probabilistic local fingerprints at a fraction of the
    gram cost). Text never enters an exchange — (id, pos, 16-byte
    binary digest) rows only; the flag set shrinks through its
    HAVING, so AQE broadcasts the semi-join (x60's ban-set move).
    Deterministic end-to-end → full DuckDB hash oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(
        docs, k=8, min_docs=2, text_col="text", id_col="doc_id"
    )


@_q(
    "x72_substring_dedup_cut",
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
                WHERE h IN (SELECT h FROM f)),
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
       tok AS (SELECT doc_id, unnest(toks) AS tok,
                      unnest(generate_series(1, len(toks))) AS i
               FROM d),
       kept AS (SELECT t.doc_id, t.tok, t.i FROM tok t
                WHERE NOT EXISTS (
                  SELECT 1 FROM spans s
                  WHERE s.doc_id = t.doc_id
                    AND t.i BETWEEN s.s AND s.e))
       SELECT d.doc_id,
              coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
                AS clean_text
       FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
       GROUP BY d.doc_id
       ORDER BY d.doc_id""",
)
def x72_substring_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup LADDER'S ACTION RUNG (VERDICT r09 task 3): x71 flags
    duplicate spans; this CUTS them — `operators/dedup.py cut_spans`
    composed over `exact_substring_spans` (Lee et al. 2021's actual
    dedup step: drop the shared ≥ k-token run at arbitrary alignment,
    rejoin the remaining tokens; x49's doc-reassembly move for
    alignment-free spans). Every document comes back: unflagged docs
    whitespace-normalized and otherwise intact, flagged docs with
    every duplicated span excised (the C4/x60 every-copy stance —
    keep-one composes by exempting one doc per cluster upstream),
    fully-duplicated docs as the empty string. Deterministic
    end-to-end → full DuckDB hash oracle; planted-span semantics in
    tests/test_extensions.py.

    Scale shape: the flag pass is x71's (three hash/id-grain
    exchanges, text never in a pair stream); the cut adds one id-grain
    span aggregation + one id-grain join (AQE-broadcastable flagged
    set) + scan-local array reassembly — the corpus text crosses at
    most one exchange."""
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup.exact_substring_spans(
        docs, k=8, min_docs=2, text_col="text", id_col="doc_id"
    )
    return dedup.cut_spans(
        docs, spans, text_col="text", id_col="doc_id"
    )


@_q(
    "x74_incremental_substring_spans",
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
               FROM marked)
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
              CAST(max(pos) + 7 AS BIGINT) AS span_end
       FROM grp GROUP BY doc_id, gid""",
)
def x74_incremental_substring_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The INCREMENTAL rung of the substring-dedup ladder
    (operators/dedup.py exact_substring_spans_incremental): flag
    duplicate spans in an ARRIVING BATCH (doc_id % 4 == 0) against
    the existing corpus (the rest) WITHOUT re-hashing the corpus —
    the x38/x39 batch-vs-corpus move lifted from document grain to
    Lee et al.'s arbitrary-alignment spans. The oracle states the
    identity the operator guarantees: the incremental result equals
    the batch form over corpus ∪ batch restricted to batch docs
    (disjoint id spaces — the incremental_dedup contract). The
    corpus-index identity (prebuilt `corpus_window_hashes` ≡ inline
    derivation) and min_docs generalization are pinned in
    tests/test_extensions.py.

    Scale shape: per batch, cost is the batch's own windows + one
    hash-grain join against the materialized (hash, count) index —
    corpus text contributes nothing after the one-time index build,
    which is itself append-mergeable (counts sum by hash) as the
    corpus grows."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    return dedup.exact_substring_spans_incremental(
        corpus, batch, k=8, min_docs=2, text_col="text", id_col="doc_id"
    )


@_q(
    "x73_source_reputation_gate",
    f"""WITH t AS (
          SELECT source, md5(text) AS h,
            0.4 * least(1.0, len({_TOKS}) / 100.0)
            + 0.3 * (1.0
                - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                       AS DOUBLE) / length(text))
            + 0.3 * (CAST(len(list_filter({_TOKS},
                       x -> list_contains({_sql_list(STOPWORDS)}, x)))
                       AS DOUBLE) / len({_TOKS})) AS q
          FROM documents),
        a AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 round(avg(q), 6) AS mean_quality,
                 round(1.0 - count(DISTINCT h) * 1.0 / count(*), 6)
                   AS dup_rate
          FROM t GROUP BY source),
        r AS (
          SELECT *,
                 row_number() OVER (ORDER BY mean_quality DESC, source)
                   AS rk,
                 count(*) OVER () AS n
          FROM a)
        SELECT source, n_docs, mean_quality, dup_rate,
               (rk <= CAST(ceil(n / 2.0) AS BIGINT)
                AND dup_rate <= 0.5) AS keep
        FROM r ORDER BY source""",
)
def x73_source_reputation_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCE-reputation curation gate (operators/text.py
    source_reputation — RefinedWeb/Dolma-style domain-level filtering
    at the fixture's source grain): per source, volume, mean document
    quality (unrounded x3 scores averaged — the x45 rule), and
    exact-dup rate; ``keep`` = top-half mean-quality rank (rounded
    mean + source tiebreaker — the x62 round-before-ranking rule)
    AND dup_rate ≤ 0.5. The grain most production pipelines gate
    FIRST — a bad domain is cheaper to drop than its documents are to
    score one by one. Composing the verdict onto the doc stream is a
    broadcast semi-join (the source table is dimension-sized);
    planted-junk semantics in tests/test_extensions.py.

    Scale shape: one corpus scan → source-grain map-side-combined
    aggregate; the rank window sorts only the source table
    (dimension-sized), never the corpus; text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.source_reputation(docs).orderBy("source")


@_q(
    "x75_curation_pipeline_v4",
    f"""WITH q AS (
          SELECT doc_id, source, text, md5(text) AS h,
            0.4 * least(1.0, len({_TOKS}) / 100.0)
            + 0.3 * (1.0
                - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                       AS DOUBLE) / length(text))
            + 0.3 * (CAST(len(list_filter({_TOKS},
                       x -> list_contains({_sql_list(STOPWORDS)}, x)))
                       AS DOUBLE) / len({_TOKS})) AS qs
          FROM documents),
        a AS (
          SELECT source,
                 round(avg(qs), 6) AS mean_quality,
                 round(1.0 - count(DISTINCT h) * 1.0 / count(*), 6)
                   AS dup_rate
          FROM q GROUP BY source),
        r AS (
          SELECT source, dup_rate,
                 row_number() OVER (ORDER BY mean_quality DESC, source)
                   AS rk,
                 count(*) OVER () AS n
          FROM a),
        keeps AS (
          SELECT source FROM r
          WHERE rk <= CAST(ceil(n / 2.0) AS BIGINT)
            AND dup_rate <= 0.5),
        d AS (
          SELECT doc_id,
                 string_split_regex(trim(text), '\\s+') AS toks
          FROM documents
          WHERE source IN (SELECT source FROM keeps)),
        b AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
        g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     unhex(md5(array_to_string(toks[i:i+7], ' '))) AS wh
              FROM b, unnest(range(1, len(toks) - 6)) AS t(i)),
        f AS (SELECT wh FROM (
                SELECT wh, count(DISTINCT doc_id) AS nd
                FROM g GROUP BY wh)
              WHERE nd >= 2),
        hits AS (SELECT doc_id, pos FROM g
                 WHERE wh IN (SELECT wh FROM f)),
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
        tok AS (SELECT doc_id, unnest(toks) AS tk,
                       unnest(generate_series(1, len(toks))) AS i
                FROM d),
        kept AS (SELECT t.doc_id, t.tk, t.i FROM tok t
                 WHERE NOT EXISTS (
                   SELECT 1 FROM spans s
                   WHERE s.doc_id = t.doc_id
                     AND t.i BETWEEN s.s AND s.e)),
        clean AS (
          SELECT d.doc_id,
                 coalesce(string_agg(k.tk, ' ' ORDER BY k.i), '')
                   AS clean_text
          FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
          GROUP BY d.doc_id),
        ne AS (SELECT * FROM clean WHERE clean_text <> ''),
        dd AS (SELECT doc_id, clean_text,
                      min(doc_id) OVER (PARTITION BY sha256(clean_text))
                        AS keep_id
               FROM ne)
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)
                                 || 'split-v1'), 1, 4) < 'e666'
                      THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)
                                 || 'split-v1'), 1, 4) < 'f333'
                      THEN 'val'
                    ELSE 'test' END AS split,
               CAST(len(string_split_regex(trim(clean_text), '\\s+'))
                    AS BIGINT) AS n_tokens_clean
        FROM dd WHERE doc_id = keep_id
        ORDER BY doc_id""",
)
def x75_curation_pipeline_v4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPOSED CURATION FLAGSHIP v4 — the r10 operator stack fused
    into ONE plan, the published-pipeline order (RefinedWeb/Lee et
    al.): (1) x73's SOURCE-reputation gate drops bad domains first
    (cheapest cut — a broadcast semi-join, no per-doc scoring
    surviving docs don't need), (2) x71's exact-substring flagger +
    x72's span CUT excise duplicated runs at arbitrary alignment
    within the gated corpus, (3) x6's exact dedup keeps the first
    copy of each now-identical cleaned text (cutting shared spans
    CREATES exact dups — the order matters), (4) x22's deterministic
    hash split labels survivors. Returns (doc_id, split,
    n_tokens_clean) — fully deterministic, one CTE-chain oracle.

    Scale shape: the gate is dimension-grain + broadcast; the
    flag/cut stage is x71/x72's byte economy (text crosses one
    id-grain exchange); dedup shuffles 32-byte content hashes; the
    split is scan-local. Composing adds NO exchange over the sum of
    its stages — each stage's output feeds the next at the grain the
    next stage shuffles anyway."""
    docs = load_table(spark, sf_dir, "documents")
    rep = text_ops.source_reputation(docs)
    gated = docs.join(
        F.broadcast(rep.filter(F.col("keep")).select("source")),
        "source",
        "left_semi",
    )
    spans = dedup.exact_substring_spans(
        gated, k=8, min_docs=2, text_col="text", id_col="doc_id"
    )
    clean = dedup.cut_spans(gated, spans).filter(
        F.col("clean_text") != ""
    )
    # Exact dedup as a plain HASH AGGREGATE over a slim projection
    # (r15 optimization, guide §2.3 "project before the exchange" —
    # the `exact_dedup` rationale): the old form windowed over
    # sha2(clean_text) and shipped every row's CLEAN TEXT through the
    # hash exchange plus a per-partition sort; only (doc_id, 32-byte
    # hash, token count) is ever needed past this point. min + first
    # over LONGS keeps the aggregate in HashAggregate (a min_by
    # struct buffer would force SortAggregate), the map-side partial
    # combine collapses duplicate texts inside each input partition,
    # and no sort runs at all. Keeper rule unchanged: min doc_id per
    # distinct cleaned text; the token count is constant within a
    # hash group (identical text), so first() is deterministic in
    # value.
    slim = clean.select(
        "doc_id",
        F.sha2(F.col("clean_text"), 256).alias("__h"),
        F.size(F.split(F.trim(F.col("clean_text")), r"\s+"))
        .cast("long")
        .alias("n_tokens_clean"),
    )
    survivors = slim.groupBy("__h").agg(
        F.min("doc_id").alias("doc_id"),
        F.first("n_tokens_clean").alias("n_tokens_clean"),
    )
    tag = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("split-v1"))),
        1,
        4,
    )
    split = (
        F.when(tag < "e666", "train")
        .when(tag < "f333", "val")
        .otherwise("test")
    )
    return survivors.select(
        "doc_id", split.alias("split"), "n_tokens_clean"
    )


@_q(
    "x76_substring_dedup_keep_one",
    # x72's chain with the keep-one rule: a window is charged to
    # every holder EXCEPT its keeper (min doc_id holding the content)
    """WITH d AS (
         SELECT doc_id,
                string_split_regex(trim(text), '\\s+') AS toks
         FROM documents),
       b AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
       g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                    unhex(md5(array_to_string(toks[i:i+7], ' '))) AS h
             FROM b, unnest(range(1, len(toks) - 6)) AS t(i)),
       f AS (SELECT h, min(doc_id) AS keeper
             FROM g GROUP BY h
             HAVING count(DISTINCT doc_id) >= 2),
       hits AS (SELECT g.doc_id, g.pos FROM g JOIN f ON g.h = f.h
                WHERE g.doc_id <> f.keeper),
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
       tok AS (SELECT doc_id, unnest(toks) AS tok,
                      unnest(generate_series(1, len(toks))) AS i
               FROM d),
       kept AS (SELECT t.doc_id, t.tok, t.i FROM tok t
                WHERE NOT EXISTS (
                  SELECT 1 FROM spans s
                  WHERE s.doc_id = t.doc_id
                    AND t.i BETWEEN s.s AND s.e))
       SELECT d.doc_id,
              coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
                AS clean_text
       FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
       GROUP BY d.doc_id
       ORDER BY d.doc_id""",
)
def x76_substring_dedup_keep_one(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lee et al.'s KEEP-ONE substring dedup (their published policy —
    one occurrence of each duplicated substring survives) as flag →
    cut: `dedup.exact_substring_spans_keep_one` charges each flagged
    window to every holder except its min-doc_id keeper, then
    `cut_spans` excises the spans; exact-duplicate fixture docs
    resolve to "first doc keeps its text verbatim, the rest cut" —
    the x72 complement (x72/x60 cut EVERY copy, C4's stance).
    Deterministic end-to-end → full DuckDB hash oracle; the
    keeper-survives semantics are pinned in tests/test_extensions.py.

    Scale shape: identical to x71/x72 — the flag aggregate carries
    one extra 8-byte min(id); text still crosses exactly one id-grain
    join for the reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup.exact_substring_spans_keep_one(docs, k=8, min_docs=2)
    return dedup.cut_spans(docs, spans)


@_q(
    "x77_containment_pairs",
    # mirrors word_tokens (lowercase + empty-token removal) and the
    # md5 gram ban EXACTLY — identical hashing both sides makes the
    # blocking and the scores bit-equal by construction
    r"""WITH d AS (
         SELECT doc_id,
                list_filter(
                  string_split_regex(lower(trim(text)), '\s+'),
                  t -> t <> '') AS toks
         FROM documents),
       b AS (SELECT doc_id,
                    list_distinct(list_transform(
                      range(1, len(toks) - 3),
                      i -> md5(array_to_string(toks[i:i+4], ' '))))
                      AS grams
             FROM d WHERE len(toks) >= 5),
       e AS (SELECT doc_id, unnest(grams) AS h FROM b),
       banned AS (SELECT h FROM (
           SELECT h, count(*) AS n FROM e GROUP BY h)
         WHERE n > 500),
       ok AS (SELECT doc_id, h FROM e
              WHERE h NOT IN (SELECT h FROM banned)),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                FROM ok a JOIN ok b2
                  ON a.h = b2.h AND a.doc_id < b2.doc_id)
       SELECT c.id_a, c.id_b,
              round(CAST(len(list_intersect(sa.grams, sb.grams))
                           AS DOUBLE)
                    / least(len(sa.grams), len(sb.grams)), 6)
                AS containment
       FROM cand c
       JOIN b sa ON sa.doc_id = c.id_a
       JOIN b sb ON sb.doc_id = c.id_b
       WHERE round(CAST(len(list_intersect(sa.grams, sb.grams))
                          AS DOUBLE)
                   / least(len(sa.grams), len(sb.grams)), 6) >= 0.5""",
)
def x77_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup pairs by word-5-gram CONTAINMENT
    (`dedup.containment_pairs` — |A∩B| / min(|A|,|B|)): the
    similarity that catches a short document quoted inside a long
    one, which Jaccard structurally cannot (length skew caps Jaccard
    at |short|/|long| for complete inclusion; x7's blocked form even
    length-windows such pairs away on purpose). Candidates share a
    non-stop gram (md5 ban oracle-mirrored like x69, so parity is
    exact by construction); scores compute over the FULL gram sets.
    Deterministic end-to-end → full DuckDB hash oracle;
    planted-containment semantics in tests/test_extensions.py.

    Scale shape: 16-byte gram digests through one (digest, id)
    exchange with hot grams banned first; id pairs + two id-grain
    array re-attach joins; text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, ngram=5, threshold=0.5, max_ids_per_gram=500
    )


@_q(
    "x78_hard_negative_mining",
    r"""WITH qmap(query_id, term) AS (
         VALUES ('q_ann', 'vector'), ('q_ann', 'hash'),
                ('q_ann', 'spark'),
                ('q_win', 'window'), ('q_win', 'sort'),
                ('q_win', 'merge'),
                ('q_scan', 'scan'), ('q_scan', 'batch')),
       positives AS (
         SELECT ['q_ann', 'q_win', 'q_scan'][CAST(doc_id % 37 AS INT) + 1]
                    AS query_id,
                doc_id
         FROM documents WHERE doc_id % 37 < 3),
       toks AS (
         SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS term
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       stats AS (SELECT avg(dl) AS avgdl FROM dl),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN (SELECT term FROM qmap)
              GROUP BY doc_id, term),
       dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       scored AS (
         SELECT qmap.query_id, tf.doc_id,
                round(sum(
                  ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                  * (tf * 2.2)
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                ), 6) AS bm25
         FROM tf JOIN qmap USING (term) JOIN dl USING (doc_id)
              JOIN dfc USING (term), stats, n
         GROUP BY qmap.query_id, tf.doc_id),
       negs AS (
         SELECT s.query_id, s.doc_id, s.bm25
         FROM scored s ANTI JOIN positives p
           ON s.query_id = p.query_id AND s.doc_id = p.doc_id),
       ranked AS (
         SELECT query_id, doc_id, bm25,
                CAST(row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY bm25 DESC, doc_id) AS INT) AS rank
         FROM negs)
       SELECT query_id, doc_id, bm25, rank
       FROM ranked WHERE rank <= 5""",
)
def x78_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval training
    (`text.bm25_hard_negatives` — the DPR recipe): per query in a
    BATCH, the top-5 BM25 documents that are not known positives.
    The reference serves retrieval-style dashboards one query at a
    time (`scripts/app.py:75-97`); training-data preparation scores
    every query in the batch in ONE corpus pass — the token stream is
    filtered once by the union of all query terms, df/avgdl/N are
    query-independent broadcasts, and the per-query top-k runs
    two-phase ((query, doc_id % 64) then query grain) so no single
    task ranks a whole query's candidates. Positives here are a
    deterministic doc_id rule (the labeled-relevance stand-in);
    production swaps in the real qrels table."""
    docs = load_table(spark, sf_dir, "documents")
    qids = ["q_ann", "q_win", "q_scan"]
    positives = (
        docs.select((F.col("doc_id") % 37).alias("__m"), "doc_id")
        .filter(F.col("__m") < len(qids))
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in qids]),
                F.col("__m").cast("int") + 1,
            ).alias("query_id"),
            "doc_id",
        )
    )
    return text_ops.bm25_hard_negatives(
        docs,
        {
            "q_ann": ["vector", "hash", "spark"],
            "q_win": ["window", "sort", "merge"],
            "q_scan": ["scan", "batch"],
        },
        positives,
        k=5,
    )


@_q(
    "x79_curation_lineage",
    """WITH meta AS (
         SELECT doc_id, n_chars, lang, text,
                (n_chars >= 200 AND lang IN ('en', 'de', 'fr')) AS ok
         FROM documents),
       keepers AS (
         SELECT text, min(doc_id) AS kept_by
         FROM meta WHERE ok GROUP BY text)
       SELECT m.doc_id,
              CASE WHEN m.n_chars < 200 THEN 'too_short'
                   WHEN m.lang NOT IN ('en', 'de', 'fr')
                        THEN 'lang_blocked'
                   WHEN m.doc_id <> k.kept_by THEN 'exact_dup'
                   ELSE 'kept' END AS verdict,
              CASE WHEN m.ok AND m.doc_id <> k.kept_by
                   THEN k.kept_by END AS kept_by
       FROM meta m LEFT JOIN keepers k USING (text)""",
)
def x79_curation_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document drop-reason lineage for the gate → exact-dedup
    pipeline (`dedup.curation_lineage`): every input doc gets the
    FIRST rule that drops it (too_short → lang_blocked → exact_dup →
    kept) plus the surviving copy's id for exact_dup rows — the audit
    table that answers "why did doc X disappear?" after a composed
    x46/x75 run. Dedup keepers are chosen among GATE SURVIVORS only
    (a doc whose twin died at a gate is not a duplicate), matching
    sequential-gate execution exactly. Digests are computed
    scan-side; the keeper aggregate and join move (digest, id, lang,
    n_chars) rows only — text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.curation_lineage(
        docs, min_chars=200, allowed_langs=("en", "de", "fr")
    )


#: The ROUNDED quality-score SQL fragment shared by x80's oracle and
#: n20's (catalog/streaming_queries._psi_score_sql) — ONE definition so
#: the batch drift gate and the streamed monitor can never replay
#: different scores (review r12; x66's `_KB_Q_EXPR` above is the
#: unrounded twin and stays separate because its oracle string is
#: ledger-frozen).
_Q_SCORE_SQL = (
    f"round(0.4 * least(1.0, CAST(len({_TOKS}) AS BIGINT) / 100.0)"
    " + 0.3 * (1.0"
    " - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))"
    " AS DOUBLE) / length(text))"
    f" + 0.3 * CAST(len(list_filter({_TOKS},"
    f" x -> list_contains({_sql_list(STOPWORDS)}, x)))"
    f" AS DOUBLE) / len({_TOKS}), 6)"
)


@_q(
    "x80_score_drift_psi",
    f"""WITH t AS (
         SELECT source,
           {_Q_SCORE_SQL} AS q,
           CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS in_old,
           CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS in_new
         FROM documents),
       hist AS (
         SELECT source, least(9, CAST(floor(q * 10) AS INT)) AS bin,
                CAST(sum(in_old) AS DOUBLE) AS old_n,
                CAST(sum(in_new) AS DOUBLE) AS new_n
         FROM t GROUP BY source, least(9, CAST(floor(q * 10) AS INT))),
       tot AS (
         SELECT source, sum(old_n) AS old_tot, sum(new_n) AS new_tot
         FROM hist GROUP BY source),
       terms AS (
         SELECT h.source,
                (greatest(old_n / old_tot, 1e-4)
                 - greatest(new_n / new_tot, 1e-4))
                * ln(greatest(old_n / old_tot, 1e-4)
                     / greatest(new_n / new_tot, 1e-4)) AS term
         FROM hist h JOIN tot USING (source)),
       agg AS (
         SELECT source, round(sum(term), 6) AS psi
         FROM terms GROUP BY source)
       SELECT source, psi, psi >= 0.2 AS drift_flag FROM agg""",
)
def x80_score_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the quality-score DISTRIBUTION
    between two corpus releases, per source (`importance.psi_drift`
    over `text.quality_score`, k6's release slices) — the standard
    ML-pipeline drift monitor. k6 gates volume/share/mean-length
    movement; x80 catches the shift k6 is blind to: a source whose
    count and mean are flat but whose score SHAPE moved (a scraper
    change collapsing a bimodal distribution reads identical means).
    PSI ≥ 0.2 is the conventional alarm. One scan tags both releases
    (no self-join), one (source, bin) conditional aggregate, and a
    bin-histogram-sized join — documents never shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.round(text_ops.quality_score(F.col("text")), 6).alias("q"),
        F.when(F.col("doc_id") % 3 != 0, 1).otherwise(0).alias("in_old"),
        F.when(F.col("doc_id") % 5 != 0, 1).otherwise(0).alias("in_new"),
    )
    return importance.psi_drift(
        scored, "q", "source", "in_old", "in_new", bins=10
    )


@_q(
    "x81_fim_transform",
    r"""WITH t AS (
         SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS toks
         FROM documents),
       c AS (
         -- pmod-first (review r12): bound the multiplicand below the
         -- prime so the product can never overflow INT64, and keep
         -- every intermediate non-negative so // matches Spark's
         -- floor for any id sign
         SELECT doc_id, toks, len(toks) AS n,
                ((((doc_id % 100) + 100) % 100) * 48271) % 100 AS ha,
                (((((doc_id % 1000003) + 1000003) % 1000003)
                   * 427799) % 1000003) * (len(toks) + 1)
                  // 1000003 AS c1,
                (((((doc_id % 999983) + 999983) % 999983)
                   * 40503 + 480887) % 999983)
                  * (len(toks) + 1) // 999983 AS c2
         FROM t),
       s AS (
         SELECT doc_id, toks, n, ha,
                least(c1, c2) AS lo, greatest(c1, c2) AS hi
         FROM c)
       SELECT doc_id, ha < 90 AS fim_applied,
              CASE WHEN ha < 90 THEN
                array_to_string(
                  ['<PRE>'] || toks[1:lo] || ['<SUF>'] || toks[hi+1:n]
                  || ['<MID>'] || toks[lo+1:hi], ' ')
              ELSE array_to_string(toks, ' ') END AS text_out
       FROM s""",
)
def x81_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (`text.fim_transform`,
    Bavarian et al. 2022): 90% of documents reorder to
    ``<PRE> prefix <SUF> suffix <MID> middle`` at token-boundary cut
    points, the rest pass through — the standard infilling data prep
    for code models. Apply decision and both cuts are pure integer
    arithmetic on doc_id (multiplicative hash mod fixed primes), so
    the transform replays exactly in ANSI SQL: no floats, no seeds,
    stable under re-runs and repartitioning. Zero exchanges — the
    whole transform is array expressions inside the scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.fim_transform(docs, rate_pct=90)


@_q(
    "x82_bitext_margin_pairs",
    """WITH v AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) AS nrm,
                vec_id % 2 = 0 AS is_a
         FROM embeddings),
       p AS (
         SELECT sa.vec_id AS id_a, sb.vec_id AS id_b,
                round(list_dot_product(sa.vec, sb.vec)
                      / (sa.nrm * sb.nrm), 6) AS cos
         FROM v sa, v sb WHERE sa.is_a AND NOT sb.is_a),
       ra AS (
         SELECT id_a, cos,
                row_number() OVER (
                  PARTITION BY id_a ORDER BY cos DESC, id_b) AS r
         FROM p),
       bga AS (SELECT id_a, avg(cos) AS bg_a FROM ra
               WHERE r <= 4 GROUP BY id_a),
       rb AS (
         SELECT id_b, cos,
                row_number() OVER (
                  PARTITION BY id_b ORDER BY cos DESC, id_a) AS r
         FROM p),
       bgb AS (SELECT id_b, avg(cos) AS bg_b FROM rb
               WHERE r <= 4 GROUP BY id_b),
       m AS (
         SELECT p.id_a, p.id_b, p.cos,
                round(p.cos / ((bg_a + bg_b) / 2), 6) AS margin
         FROM p JOIN bga USING (id_a) JOIN bgb USING (id_b)),
       best AS (
         SELECT id_a, id_b, cos, margin,
                row_number() OVER (
                  PARTITION BY id_a ORDER BY margin DESC, id_b) AS rk
         FROM m)
       SELECT id_a, id_b, cos AS cosine_sim, margin
       FROM best WHERE rk = 1 AND margin >= 1.15""",
)
def x82_bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (`similarity.bitext_margin_pairs`,
    Artetxe & Schwenk 2019 — the CCMatrix recipe): per source vector
    (vec_id even = language A) the best target (odd = B) by cosine
    divided by the mean of both directions' average-top-4 cosines,
    kept at margin ≥ 1.15. Margin discounts hub vectors whose raw
    cosines are high against EVERYTHING — the property that makes it
    the standard parallel-corpus miner. Exact A×B form (the x16
    stance — ground truth and oracle twin); at 100 TB the pair
    source swaps to the ANN candidate tiers (the x16 → x17 move)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.bitext_margin_pairs(
        emb, F.col("vec_id") % 2 == 0, k=4, threshold=1.15
    )


@_q("x83_bitext_margin_pairs_ann")
def x83_bitext_margin_pairs_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tier of x82 (`similarity.bitext_margin_pairs_ann`) —
    the x16 → x17 move applied to bitext mining: LSH-bucketed A×B
    candidate pairs, exact cosine on candidates only, avg-top-k
    backgrounds estimated over the candidate set, margin tail shared
    code-for-code with x82 (`bitext_margin_from_pairs`). Bucketing is
    engine-specific → rows-only; evidence trio in
    tests/test_extensions.py: identity seam (the complete A×B pair
    table through the shared tail ≡ x82 bit-for-bit), recall ≥ 0.9 on
    the planted hub/exclusive-partner geometry, and pair agreement vs
    x82 at sf0.01."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.bitext_margin_pairs_ann(
        emb, F.col("vec_id") % 2 == 0, dim=64, k=4, threshold=1.15
    )


@_q(
    "x85_embedding_contamination",
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
              cos AS max_cosine, cos >= 0.4 AS contaminated
       FROM best WHERE rk = 1""",
)
def x85_embedding_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC train-test contamination
    (`similarity.embedding_contamination`): per training vector
    (vec_id % 5 != 0), its nearest eval vector (% 5 == 0) by cosine
    and a ≥ 0.4 flag — the embedding rung that completes the
    contamination family (x26 n-grams, x52 paragraphs, x84 exact
    substrings, THIS for paraphrase/translation leakage lexical
    checks can't see). Audit form: every training id returns with
    its evidence. Exact train×eval twin (the x16 stance); x86 is the
    LSH tier (the x16 → x17 move)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_contamination(
        emb, F.col("vec_id") % 5 == 0, threshold=0.4
    )


@_q("x86_embedding_contamination_lsh")
def x86_embedding_contamination_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ANN tier of x85 (`similarity.embedding_contamination_ann`)
    — LSH-bucketed train×eval candidates, exact cosine on candidates
    only, verdict tail shared code-for-code with x85
    (`contamination_from_pairs`). Bucketing is engine-specific →
    rows-only; evidence trio in tests/test_extensions.py: identity
    seam (complete pair table through the shared tail ≡ x85
    bit-for-bit), flagged-set recall ≥ 0.9, verdict agreement
    floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_contamination_ann(
        emb, F.col("vec_id") % 5 == 0, dim=64, threshold=0.4
    )


@_q(
    "x84_substring_decontamination",
    r"""WITH d AS (
         SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS toks
         FROM documents),
       train AS (SELECT doc_id, toks FROM d WHERE doc_id % 10 < 8),
       b AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
       g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                    unhex(md5(array_to_string(toks[i:i+7], ' '))) AS h
             FROM b, unnest(range(1, len(toks) - 6)) AS t(i)),
       f AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 >= 8),
       hits AS (SELECT doc_id, pos FROM g
                WHERE doc_id % 10 < 8 AND h IN (SELECT h FROM f)),
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
       tok AS (SELECT doc_id, unnest(toks) AS tok,
                      unnest(generate_series(1, len(toks))) AS i
               FROM train),
       kept AS (SELECT t.doc_id, t.tok, t.i FROM tok t
                WHERE NOT EXISTS (
                  SELECT 1 FROM spans s
                  WHERE s.doc_id = t.doc_id
                    AND t.i BETWEEN s.s AND s.e))
       SELECT tr.doc_id,
              coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
                AS clean_text
       FROM train tr LEFT JOIN kept k ON k.doc_id = tr.doc_id
       GROUP BY tr.doc_id
       ORDER BY tr.doc_id""",
)
def x84_substring_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train-test overlap scrub at arbitrary alignment
    (`dedup.contaminated_spans` + `dedup.cut_spans` — Lee et al.
    2021 §6.2's decontamination use of exact-substring matching, the
    surgical form of GPT-3's 13-gram scrub): every training window
    (doc_id % 10 < 8, x26's split) whose k=8-token content appears
    ANYWHERE in the eval split is flagged and excised; the rest of
    the document survives. The flag condition is deliberately NOT
    x74's min_docs counting — training-side duplication is not
    contamination, and one train + one eval occurrence is. Completes
    the contamination family: x26 audits doc-level n-gram overlap
    rates, x52 drops whole paragraph-sharing docs, THIS removes
    exactly the overlapping tokens. Deterministic end-to-end → full
    DuckDB hash oracle; planted-overlap semantics + flag-condition
    tests in tests/test_extensions.py.

    Scale shape: the eval set is frozen per release, so its (hash,
    count) index is write-once (`corpus_window_hashes`, the b25
    artifact form works unchanged); per training batch, cost is the
    batch's own windows + one hash-grain semi-join against the
    index (eval-sized flag set → AQE broadcast) + the id-grain span
    aggregation and one id-grain text join from cut_spans — train
    text crosses at most one exchange, eval text zero after the
    index build."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    ref = docs.filter(F.col("doc_id") % 10 >= 8)
    spans = dedup.contaminated_spans(
        ref, train, k=8, min_ref_docs=1, text_col="text", id_col="doc_id"
    )
    return dedup.cut_spans(
        train, spans, text_col="text", id_col="doc_id"
    )


@_q(
    "x87_curation_pipeline_v5",
    f"""WITH q AS (
          SELECT doc_id, source, text, md5(text) AS h,
            0.4 * least(1.0, len({_TOKS}) / 100.0)
            + 0.3 * (1.0
                - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                       AS DOUBLE) / length(text))
            + 0.3 * (CAST(len(list_filter({_TOKS},
                       x -> list_contains({_sql_list(STOPWORDS)}, x)))
                       AS DOUBLE) / len({_TOKS})) AS qs
          FROM documents WHERE doc_id % 10 < 8),
        a AS (
          SELECT source,
                 round(avg(qs), 6) AS mean_quality,
                 round(1.0 - count(DISTINCT h) * 1.0 / count(*), 6)
                   AS dup_rate
          FROM q GROUP BY source),
        r AS (
          SELECT source, dup_rate,
                 row_number() OVER (ORDER BY mean_quality DESC, source)
                   AS rk,
                 count(*) OVER () AS n
          FROM a),
        keeps AS (
          SELECT source FROM r
          WHERE rk <= CAST(ceil(n / 2.0) AS BIGINT)
            AND dup_rate <= 0.5),
        d AS (
          SELECT doc_id,
                 string_split_regex(trim(text), '\\s+') AS toks
          FROM documents
          WHERE doc_id % 10 < 8
            AND source IN (SELECT source FROM keeps)),
        b AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
        g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     unhex(md5(array_to_string(toks[i:i+7], ' '))) AS wh
              FROM b, unnest(range(1, len(toks) - 6)) AS t(i)),
        f AS (SELECT wh FROM (
                SELECT wh, count(DISTINCT doc_id) AS nd
                FROM g GROUP BY wh)
              WHERE nd >= 2),
        hits AS (SELECT doc_id, pos FROM g
                 WHERE wh IN (SELECT wh FROM f)),
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
        tok AS (SELECT doc_id, unnest(toks) AS tk,
                       unnest(generate_series(1, len(toks))) AS i
                FROM d),
        kept AS (SELECT t.doc_id, t.tk, t.i FROM tok t
                 WHERE NOT EXISTS (
                   SELECT 1 FROM spans s
                   WHERE s.doc_id = t.doc_id
                     AND t.i BETWEEN s.s AND s.e)),
        clean AS (
          SELECT d.doc_id,
                 coalesce(string_agg(k.tk, ' ' ORDER BY k.i), '')
                   AS clean_text
          FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
          GROUP BY d.doc_id),
        ne AS (SELECT * FROM clean WHERE clean_text <> ''),
        dd AS (SELECT doc_id, clean_text,
                      min(doc_id) OVER (PARTITION BY sha256(clean_text))
                        AS keep_id
               FROM ne),
        surv AS (SELECT doc_id, clean_text FROM dd
                 WHERE doc_id = keep_id),
        st AS (SELECT doc_id,
                      string_split_regex(trim(clean_text), '\\s+') AS toks
               FROM surv),
        sb AS (SELECT doc_id, toks FROM st WHERE len(toks) >= 8),
        sg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                      unhex(md5(array_to_string(toks[i:i+7], ' '))) AS wh2
               FROM sb, unnest(range(1, len(toks) - 6)) AS t(i)),
        ed AS (SELECT doc_id,
                      string_split_regex(trim(text), '\\s+') AS toks
               FROM documents WHERE doc_id % 10 >= 8),
        eb AS (SELECT doc_id, toks FROM ed WHERE len(toks) >= 8),
        eg AS (SELECT DISTINCT
                      unhex(md5(array_to_string(toks[i:i+7], ' '))) AS wh2
               FROM eb, unnest(range(1, len(toks) - 6)) AS t(i)),
        shits AS (SELECT doc_id, pos FROM sg
                  WHERE wh2 IN (SELECT wh2 FROM eg)),
        smarked AS (SELECT doc_id, pos,
                      CASE WHEN lag(pos) OVER w IS NULL
                             OR pos > lag(pos) OVER w + 8
                           THEN 1 ELSE 0 END AS brk
                    FROM shits
                    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        sgrp AS (SELECT doc_id, pos,
                        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                          AS gid
                 FROM smarked),
        sspans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
                   FROM sgrp GROUP BY doc_id, gid),
        stok AS (SELECT doc_id, unnest(toks) AS tk,
                        unnest(generate_series(1, len(toks))) AS i
                 FROM st),
        skept AS (SELECT t.doc_id, t.tk, t.i FROM stok t
                  WHERE NOT EXISTS (
                    SELECT 1 FROM sspans s
                    WHERE s.doc_id = t.doc_id
                      AND t.i BETWEEN s.s AND s.e)),
        sclean AS (
          SELECT st.doc_id,
                 coalesce(string_agg(k.tk, ' ' ORDER BY k.i), '')
                   AS clean_text
          FROM st LEFT JOIN skept k ON k.doc_id = st.doc_id
          GROUP BY st.doc_id),
        fin AS (SELECT * FROM sclean WHERE clean_text <> '')
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)
                                 || 'split-v1'), 1, 4) < 'e666'
                      THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)
                                 || 'split-v1'), 1, 4) < 'f333'
                      THEN 'val'
                    ELSE 'test' END AS split,
               CAST(len(string_split_regex(trim(clean_text), '\\s+'))
                    AS BIGINT) AS n_tokens_clean
        FROM fin
        ORDER BY doc_id""",
)
def x87_curation_pipeline_v5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPOSED CURATION FLAGSHIP v5 — x75's stack with the r13
    DECONTAMINATION rung appended, the order a production pipeline
    runs (RefinedWeb/Lee et al. + the GPT-3 decontamination step):
    (1) x73's source-reputation gate over the TRAINING universe
    (doc_id % 10 < 8) drops bad domains first, (2) x71/x72's
    exact-substring flag + cut excise intra-corpus duplicated runs,
    (3) x6's exact dedup keeps the first copy of each now-identical
    cleaned text, (4) **x84's decontamination cuts every surviving
    window that appears in the frozen eval split (% 10 >= 8)** —
    windows computed on the CLEANED text, eval side on raw text, so
    the scrub sees exactly what would ship, (5) x22's deterministic
    hash split labels survivors. Returns (doc_id, split,
    n_tokens_clean); docs fully consumed by decontamination drop.
    Fully deterministic, one CTE-chain oracle.

    Scale shape: x75's (gate broadcast, flag/cut text-once, 32-byte
    dedup hashes, scan-local split) + the decontamination stage at
    the same byte economy — the eval split contributes only its
    window-hash set (write-once per release in production, the b25
    artifact), survivor text crosses one id-grain exchange in the
    second cut. Composition still adds no exchange class beyond the
    sum of its stages."""
    docs = load_table(spark, sf_dir, "documents")
    universe = docs.filter(F.col("doc_id") % 10 < 8)
    evalset = docs.filter(F.col("doc_id") % 10 >= 8)
    rep = text_ops.source_reputation(universe)
    gated = universe.join(
        F.broadcast(rep.filter(F.col("keep")).select("source")),
        "source",
        "left_semi",
    )
    spans = dedup.exact_substring_spans(
        gated, k=8, min_docs=2, text_col="text", id_col="doc_id"
    )
    clean = dedup.cut_spans(gated, spans).filter(
        F.col("clean_text") != ""
    )
    # Exact dedup as a min_by AGGREGATE, not a window over
    # sha2(clean_text) (r15 optimization — the `exact_dedup` house
    # pattern): the survivor text must travel on (the
    # decontamination stage windows it), but the partial combine
    # collapses duplicate texts map-side so the exchange carries at
    # most one candidate row per (hash, input partition) instead of
    # EVERY row, and the per-partition sort the window needed is
    # gone. Keeper rule unchanged: min doc_id per distinct cleaned
    # text.
    survivors = (
        clean.groupBy(F.sha2(F.col("clean_text"), 256).alias("__h"))
        .agg(
            F.min_by(
                F.struct("doc_id", "clean_text"), F.col("doc_id")
            ).alias("__keep")
        )
        .select("__keep.doc_id", F.col("__keep.clean_text").alias("text"))
    )
    dspans = dedup.contaminated_spans(
        evalset, survivors, k=8, min_ref_docs=1,
        text_col="text", id_col="doc_id",
    )
    decon = dedup.cut_spans(
        survivors, dspans, text_col="text", id_col="doc_id"
    ).filter(F.col("clean_text") != "")
    tag = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("split-v1"))),
        1,
        4,
    )
    split = (
        F.when(tag < "e666", "train")
        .when(tag < "f333", "val")
        .otherwise("test")
    )
    return decon.select(
        "doc_id",
        split.alias("split"),
        F.size(F.split(F.trim(F.col("clean_text")), r"\s+"))
        .cast("long")
        .alias("n_tokens_clean"),
    )


@_q("x88_bloom_decontamination")
def x88_bloom_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """x84's train-test scrub with the eval window set held as a
    BLOOM FILTER (`dedup.build_window_bloom` +
    `bloom_contaminated_spans` — the Dolma stance): ~1.2 bytes per
    eval window at 1% FPR instead of 16-byte exact digests, and the
    flag decision is a scan-local membership test with NO join in
    the flag path. Conservative by construction (flags ⊇ x84's —
    same xxhash64 bit family on both sides, so false negatives are
    impossible; false positives cut marginally more training text,
    the safe direction). Bit assignment is engine-specific →
    rows-only; evidence in tests/test_extensions.py::
    test_bloom_decontamination_evidence: span containment (every
    exact span lies inside a bloom span), per-doc conservativeness
    (bloom text ⊆ exact text token-wise), measured window-level FPR
    ≤ 3× the configured 1%, planted leak semantics, empty-reference
    no-op."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    ref = docs.filter(F.col("doc_id") % 10 >= 8)
    bloom = dedup.build_window_bloom(ref, k=8, fpp=0.01)
    spans = dedup.bloom_contaminated_spans(
        bloom, train, k=8, text_col="text", id_col="doc_id"
    )
    return dedup.cut_spans(
        train, spans, text_col="text", id_col="doc_id"
    )
