"""Sampling / splitting / packing / scrubbing showcases over documents.

The training-data-pipeline surface: deterministic train/val/test splits,
stratified subsampling, context-window packing, PII scrubbing, and
repetition-based quality signals — each mirrored by a DuckDB oracle
(hashing is md5-derived on both sides, see ``llm/sampling.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.llm.sampling import (
    pack_sequences,
    sample_by_hash,
    split_by_hash,
    split_leakage_safe,
    sql_hash_unit,
    trim_to_token_budget,
)
from onetl_spark.llm.text import (
    PII_PATTERNS,
    quality_score,
    redact_pii,
    repetition_stats,
    token_count,
)
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views

SQL_TOKENS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


def corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test split as a pure function of doc_id — zero
    shuffle for the assignment itself; the count-by-split is the only
    exchange."""
    ensure_views(spark, sf_dir)
    docs = split_by_hash(spark.table("documents"), "doc_id")
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


CORPUS_SPLIT_SQL = f"""
SELECT CASE WHEN {sql_hash_unit('doc_id', 'split')} < 0.9 THEN 'train'
            WHEN {sql_hash_unit('doc_id', 'split')} < 0.95 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.3, "zh": 0.8}


def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language subsampling (hash-threshold, the
    reproducible sampleBy): scan-side filter, no shuffle until the
    verification count."""
    ensure_views(spark, sf_dir)
    kept = sample_by_hash(
        spark.table("documents"), _SAMPLE_RATES, strata_col="lang", id_col="doc_id",
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


_SQL_RATE = (
    "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3 WHEN 'zh' THEN 0.8 ELSE 0.0 END"
)

STRATIFIED_SAMPLE_SQL = f"""
SELECT lang, COUNT(*) AS n_kept
FROM documents
WHERE {sql_hash_unit('doc_id', 'sample')} < {_SQL_RATE}
GROUP BY lang
"""


_PACK_BUDGET = 512


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy context-window packing of documents into 512-token bins,
    sharded by source (one window shuffle on the shard key; parallelism
    = shard count).

    The bin membership is emitted as canonicalizer-safe scalars — first /
    last doc id plus an order-sensitive md5 digest of the member list —
    because the driver's result canonicalizer cannot sort rows containing
    array columns (pandas ``sort_values`` raises on lists)."""
    ensure_views(spark, sf_dir)
    docs = spark.table("documents")
    packed = pack_sequences(
        docs,
        token_col=token_count("text"),
        budget=_PACK_BUDGET,
        shard_col="source",
        id_col="doc_id",
    )
    return packed.select(
        "shard",
        "bin_id",
        "n_docs",
        "tokens_total",
        F.element_at("member_ids", 1).alias("first_doc"),
        F.element_at("member_ids", -1).alias("last_doc"),
        F.md5(
            F.concat_ws(
                ",", F.transform("member_ids", lambda x: x.cast("string")),
            ),
        ).alias("members_md5"),
    )


SEQUENCE_PACKING_SQL = f"""
WITH t AS (
  SELECT source AS shard, doc_id, len({SQL_TOKENS}) AS tok
  FROM documents
), c AS (
  SELECT shard, doc_id, tok,
         SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT shard,
       CAST(floor((cum - tok) / {_PACK_BUDGET}) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS tokens_total,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS members_md5
FROM c
GROUP BY 1, 2
"""


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub verification: graft synthetic emails/phones/IPs onto each
    document, redact, and emit a digest of the scrubbed text. Pure
    projection — the scrub adds zero exchanges to any plan."""
    ensure_views(spark, sf_dir)
    docs = spark.table("documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-867-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
            F.lit(" at 192.168.0.1"),
        ).alias("_dirty"),
    )
    clean = dirty.select("doc_id", redact_pii("_dirty").alias("_clean"))
    return clean.select(
        "doc_id",
        F.md5(F.col("_clean").cast("binary")).alias("digest"),
        F.length("_clean").alias("clean_len"),
        (F.length("_clean") - F.length(F.regexp_replace("_clean", "<EMAIL>|<PHONE>|<IP>", ""))).alias("redacted_chars"),
    )


def _pii_sql() -> str:
    dirty = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.com or +1-555-867-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 192.168.0.1'"
    )
    clean = dirty
    for pattern, token in PII_PATTERNS:
        escaped = pattern.replace("'", "''")
        clean = f"regexp_replace({clean}, '{escaped}', '{token}', 'g')"
    return f"""
WITH c AS (SELECT doc_id, {clean} AS clean FROM documents)
SELECT doc_id, md5(clean) AS digest, length(clean) AS clean_len,
       length(clean) - length(regexp_replace(clean, '<EMAIL>|<PHONE>|<IP>', '', 'g')) AS redacted_chars
FROM c
"""


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document."""
    ensure_views(spark, sf_dir)
    return repetition_stats(spark.table("documents"))


REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS} AS w FROM documents
), uni AS (
  SELECT doc_id, tok, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(w) AS tok FROM t)
  GROUP BY 1, 2
), us AS (
  SELECT doc_id, SUM(n) AS token_count, COUNT(*) AS distinct_tokens, MAX(n) AS top_n
  FROM uni GROUP BY 1
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS b
  FROM t
), bc AS (
  SELECT doc_id, b, COUNT(*) AS n FROM bg GROUP BY 1, 2
), bs AS (
  SELECT doc_id, SUM(n) AS bi_total, MAX(n) AS bi_top FROM bc GROUP BY 1
)
SELECT us.doc_id,
       CAST(token_count AS BIGINT) AS token_count,
       round(CAST(distinct_tokens AS DOUBLE) / token_count, 9) AS distinct_ratio,
       round(CAST(top_n AS DOUBLE) / token_count, 9) AS top_token_frac,
       round(COALESCE(CAST(bi_top AS DOUBLE) / bi_total, 0.0), 9) AS top_bigram_frac
FROM us LEFT JOIN bs USING (doc_id)
"""


register(corpus_split_counts, CORPUS_SPLIT_SQL)
register(stratified_sample_counts, STRATIFIED_SAMPLE_SQL)
register(sequence_packing, SEQUENCE_PACKING_SQL)
register(pii_redaction, _pii_sql())
register(doc_repetition_stats, REPETITION_SQL)


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (A-ES): 20 documents per language,
    selection probability proportional to document length."""
    from onetl_spark.llm.sampling import weighted_sample_topk

    ensure_views(spark, sf_dir)
    out = weighted_sample_topk(
        spark.table("documents"),
        weight_col="n_chars",
        k=20,
        strata_col="lang",
        id_col="doc_id",
    )
    return out.select("lang", "doc_id", F.col("_wkey").alias("wkey"))


WEIGHTED_SAMPLE_SQL = f"""
SELECT lang, doc_id, wkey
FROM (
  SELECT lang, doc_id,
         round(pow({sql_hash_unit('doc_id', 'wsample')}, 1.0 / n_chars), 12) AS wkey,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY round(pow({sql_hash_unit('doc_id', 'wsample')}, 1.0 / n_chars), 12) DESC,
                                     doc_id ASC) AS rn
  FROM documents
  WHERE n_chars > 0)
WHERE rn <= 20
"""

register(weighted_doc_sample, WEIGHTED_SAMPLE_SQL)


def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware 90/5/5 split: documents sharing a fingerprint (md5 of
    the first 64 chars — the cheap boilerplate/near-dup key; swap in the
    full-text hash or a MinHash cluster id for stricter notions) follow
    their cluster representative into one split, so no training doc's
    copy lands in test. Per-split doc/cluster/char totals; tests assert
    zero fingerprints straddle splits."""
    ensure_views(spark, sf_dir)
    docs = (
        spark.table("documents")
        .select(
            "doc_id",
            "n_chars",
            F.md5(F.substring("text", 1, 64).cast("binary")).alias("fp"),
        )
    )
    split = split_leakage_safe(docs, "fp")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_clusters"),
        F.sum("n_chars").alias("total_chars"),
    )


LEAKAGE_SPLIT_SQL = f"""
WITH fp AS (
  SELECT doc_id, n_chars, md5(substr(text, 1, 64)) AS fp,
         COALESCE(md5(substr(text, 1, 64)),
                  chr(0) || 'id:' || CAST(doc_id AS VARCHAR)) AS fpk
  FROM documents),
reps AS (SELECT fpk, MIN(doc_id) AS rep FROM fp GROUP BY fpk),
assigned AS (
  SELECT f.doc_id, f.n_chars, f.fp,
         CASE WHEN {sql_hash_unit('rep', 'split')} < 0.9 THEN 'train'
              WHEN {sql_hash_unit('rep', 'split')} < 0.95 THEN 'val'
              ELSE 'test' END AS split
  FROM fp f JOIN reps USING (fpk)
)
SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_clusters,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY 1
"""

register(leakage_safe_split_counts, LEAKAGE_SPLIT_SQL)


_TRIM_BUDGET = 10_000


def corpus_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-quality 10k-token slice of the corpus (data-mixing primitive):
    global quality ranking with an exact running token sum, computed via
    quantile-bucketed prefix offsets — never a single-partition global
    window. Per-lang outcome of the kept prefix."""
    ensure_views(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id",
        "lang",
        quality_score("text").alias("q"),
        token_count("text").alias("tok"),
    )
    from pyspark import StorageLevel

    # persist the slim scored projection: the regex-chain quality score
    # otherwise recomputes in each of the operator's three passes
    # (BENCH_NOTES r8 — multi-job queries amplify per-job overhead)
    kept = trim_to_token_budget(
        docs,
        budget=_TRIM_BUDGET,
        score_col="q",
        token_col="tok",
        persist=StorageLevel.MEMORY_AND_DISK,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("tok").alias("tokens_kept"),
        F.max("cum_tokens").alias("max_cum"),
        F.min("q").alias("min_quality"),
    )


_EN_SQL = "['the','of','and','to','in','is','it','you','that','for']"

BUDGET_TRIM_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, {SQL_TOKENS} AS w, length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS n_punct
  FROM documents
), f AS (
  SELECT doc_id, lang, len(w) AS tok,
         round(0.4 * least(len(w) / 100.0, 1.0)
             + 0.3 * round(n_alpha * 1.0 / greatest(n_chars, 1), 9)
             + 0.2 * least(len(list_intersect(list_distinct(w), {_EN_SQL})) / 5.0, 1.0)
             + 0.1 * (1 - least(round(n_punct * 1.0 / greatest(n_chars, 1), 9) * 5, 1.0)),
           9) AS q
  FROM t
), c AS (
  SELECT doc_id, lang, tok, q,
         SUM(tok) OVER (ORDER BY q DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM f
)
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(tok) AS BIGINT) AS tokens_kept,
       CAST(MAX(cum) AS BIGINT) AS max_cum, MIN(q) AS min_quality
FROM c WHERE cum <= {_TRIM_BUDGET}
GROUP BY lang
"""

register(corpus_budget_trim, BUDGET_TRIM_SQL)


_N_SHUFFLE_SHARDS = 8


def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every document lands in one
    of 8 shards with a reproducible pseudorandom within-shard position —
    one shard-key exchange + per-shard window sort, never a global sort."""
    from onetl_spark.llm.sampling import shuffle_into_shards

    ensure_views(spark, sf_dir)
    out = shuffle_into_shards(
        spark.table("documents").select("doc_id"), _N_SHUFFLE_SHARDS
    )
    return out.select("doc_id", "shard", "pos")


def _shuffle_sql() -> str:
    from onetl_spark.llm.sampling import sql_shuffle_shards

    shard, order_key = sql_shuffle_shards(_N_SHUFFLE_SHARDS)
    return f"""
WITH k AS (
  SELECT doc_id, {shard} AS shard, {order_key} AS o FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY o, doc_id) AS BIGINT) AS pos
FROM k
"""


register(training_shuffle_shards, _shuffle_sql())


_CORR_RATE = 15


def span_corruption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style deterministic span corruption over documents: hash-masked
    tokens, adjacent masks collapsed to one sentinel; emits the corrupted
    text plus span statistics (`llm/sampling.py span_corruption`)."""
    from onetl_spark.llm.sampling import span_corruption

    ensure_views(spark, sf_dir)
    return span_corruption(spark.table("documents"), rate_pct=_CORR_RATE)


def _span_corruption_sql() -> str:
    h = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':spancorr:' || CAST(i AS VARCHAR)), 1, 15))::BIGINT"
    start = "m[i] AND (i = 1 OR NOT m[greatest(i - 1, 1)])"
    return rf"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS} AS w FROM documents
), f AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w) + 1), i -> {h} % 100 < {_CORR_RATE}) AS m
  FROM t
), g AS (
  SELECT doc_id, w, m,
         array_to_string(
           list_filter(
             list_transform(range(1, len(w) + 1),
                            i -> CASE WHEN {start} THEN '<X>'
                                      WHEN NOT m[i] THEN w[i]
                                      ELSE NULL END),
             x -> x IS NOT NULL), ' ') AS corrupted_text,
         len(list_filter(m, x -> x)) AS n_masked,
         len(list_filter(range(1, len(w) + 1), i -> {start})) AS n_spans
  FROM f
)
SELECT doc_id, corrupted_text, len(w) AS n_tokens,
       CAST(n_masked AS BIGINT) AS n_masked, CAST(n_spans AS BIGINT) AS n_spans,
       round(n_masked * 1.0 / greatest(len(w), 1), 9) AS mask_frac
FROM g
"""


register(span_corruption_stats, _span_corruption_sql())
