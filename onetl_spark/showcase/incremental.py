"""Cross-batch incremental dedup showcase — `llm/dedup.py
minhash_signature_store` / `incremental_minhash_dedup` as driver-checkable
queries. A NEW operator class: every existing dedup query deduplicates one
fixed corpus; this is the DAILY-INGEST shape — today's batch against the
signature store persisted from all previous batches (the HWM-style
stateful pipeline a 100-TB crawl actually runs, with near-dup semantics
the exact-fingerprint `incremental_dedup` lacks).

Batch simulation: ``doc_id % 5 = 0`` is today's batch (~20%), the rest is
the historical corpus whose TEXT is gone — only its minhash signatures
persist. Similarity is the signature-agreement estimate (exact multiples
of 1/num_perm — integer arithmetic, bit-identical across engines).

Oracle strategy: the signature CTE chain reuses the exact constants of
the minhash oracles (`showcase/llm.py`); the union-population bucket cap
is mirrored with the same GROUP BY + anti-join the operator applies (the
r10 simhash lesson: every algorithm knob appears in the oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.llm.dedup import (
    LSH_BANDS,
    LSH_MAX_BUCKET,
    LSH_ROWS,
    MOD,
    NUM_PERM,
    incremental_minhash_dedup,
    minhash_signature_store,
)
from onetl_spark.showcase.llm import _sql_sig_entries, SQL_MD5LONG, SQL_SHINGLES, SQL_TOKENS
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import batch_stream, run_foreach_batch, stage_batches
from onetl_spark.showcase.util import ensure_views


_THRESHOLD = 0.5


def _split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ensure_views(spark, sf_dir)
    docs = spark.table("documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    history = docs.filter(F.col("doc_id") % 5 != 0)
    return batch, history


def incremental_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verdicts for today's batch against the persisted
    store: dup_of_history / dup_in_batch / fresh, with the best match and
    its signature-agreement estimate."""
    batch, history = _split(spark, sf_dir)
    store = minhash_signature_store(history)
    return incremental_minhash_dedup(batch, store, threshold=_THRESHOLD)


def _sig_sql(source_pred: str) -> str:
    """(doc_id, sig) CTE body over documents rows matching source_pred."""
    return f"""
  SELECT doc_id, {_sql_sig_entries()} AS sig
  FROM (
    SELECT doc_id,
           list_transform(sh, s -> {SQL_MD5LONG.format(x='s')} % {MOD}) AS h
    FROM (
      SELECT doc_id, {SQL_SHINGLES} AS sh
      FROM (SELECT doc_id, {SQL_TOKENS} AS w FROM documents WHERE {source_pred})
    )
  )"""


_EST = f"len(list_filter(range(1, {NUM_PERM + 1}), i -> sa.sig[i] = sb.sig[i])) / {float(NUM_PERM)}"

_VERDICTS_CORE = f"""
bsig AS ({_sig_sql('doc_id % 5 = 0')}
), ssig AS ({_sig_sql('doc_id % 5 <> 0')}
), bbands AS (
  SELECT doc_id, b AS band_id,
         md5(array_to_string(sig[b*{LSH_ROWS}+1 : b*{LSH_ROWS}+{LSH_ROWS}], ',')) AS band_key
  FROM bsig CROSS JOIN range(0, {LSH_BANDS}) t(b)
), sbands AS (
  SELECT doc_id, b AS band_id,
         md5(array_to_string(sig[b*{LSH_ROWS}+1 : b*{LSH_ROWS}+{LSH_ROWS}], ',')) AS band_key
  FROM ssig CROSS JOIN range(0, {LSH_BANDS}) t(b)
), oversized AS (
  -- union-population bucket cap, mirrored from the operator
  SELECT band_id, band_key FROM (
    SELECT band_id, band_key, COUNT(*) AS c FROM (
      SELECT band_id, band_key FROM bbands
      UNION ALL SELECT band_id, band_key FROM sbands
    ) GROUP BY 1, 2
  ) WHERE c > {LSH_MAX_BUCKET}
), bb AS (
  SELECT b.* FROM bbands b ANTI JOIN oversized o
    ON b.band_id = o.band_id AND b.band_key = o.band_key
), sb AS (
  SELECT s.* FROM sbands s ANTI JOIN oversized o
    ON s.band_id = o.band_id AND s.band_key = o.band_key
), hist_cand AS (
  SELECT DISTINCT bb.doc_id AS a_id, sb.doc_id AS b_id
  FROM bb JOIN sb ON bb.band_id = sb.band_id AND bb.band_key = sb.band_key
), hist_best AS (
  SELECT a_id, b_id AS match_id, est FROM (
    SELECT a_id, b_id, est,
           ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY est DESC, b_id ASC) AS rn
    FROM (
      SELECT c.a_id, c.b_id, {_EST} AS est
      FROM hist_cand c
      JOIN bsig sa ON sa.doc_id = c.a_id
      JOIN ssig sb ON sb.doc_id = c.b_id
    ) WHERE est >= {_THRESHOLD}
  ) WHERE rn = 1
), batch_cand AS (
  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
  FROM bb l JOIN bb r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE r.doc_id < l.doc_id
), batch_best AS (
  SELECT a_id, b_id AS match_id, est FROM (
    SELECT a_id, b_id, est,
           ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY est DESC, b_id ASC) AS rn
    FROM (
      SELECT c.a_id, c.b_id, {_EST} AS est
      FROM batch_cand c
      JOIN bsig sa ON sa.doc_id = c.a_id
      JOIN bsig sb ON sb.doc_id = c.b_id
    ) WHERE est >= {_THRESHOLD}
  ) WHERE rn = 1
), verdicts AS (
  SELECT b.doc_id,
         CASE WHEN h.match_id IS NOT NULL THEN 'dup_of_history'
              WHEN p.match_id IS NOT NULL THEN 'dup_in_batch'
              ELSE 'fresh' END AS verdict,
         COALESCE(h.match_id, p.match_id) AS match_id,
         CASE WHEN h.match_id IS NOT NULL THEN h.est ELSE p.est END AS est_jaccard
  FROM bsig b
  LEFT JOIN hist_best h ON h.a_id = b.doc_id
  LEFT JOIN batch_best p ON p.a_id = b.doc_id
)"""

VERDICTS_SQL = f"""
WITH {_VERDICTS_CORE}
SELECT doc_id, verdict, match_id, est_jaccard FROM verdicts
"""


def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-level ingest report: document count and mean match strength
    per verdict — the number a daily pipeline logs and alerts on (a
    dup_of_history spike = the crawler is re-fetching old ground)."""
    v = incremental_dedup_verdicts(spark, sf_dir)
    return v.groupBy("verdict").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # est values are exact multiples of 1/num_perm (exact in binary),
        # so the plain sum is order-independent; round at output only
        (F.round(F.sum("est_jaccard") / F.count("est_jaccard"), 9) + F.lit(0.0)).alias(
            "avg_est_jaccard"
        ),
    )


REPORT_SQL = f"""
WITH {_VERDICTS_CORE}
SELECT verdict, COUNT(*) AS n_docs,
       round(SUM(est_jaccard) / COUNT(est_jaccard), 9) + 0.0 AS avg_est_jaccard
FROM verdicts GROUP BY verdict
"""


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup loop as a REAL streaming pipeline
    (`streaming/incremental.py`): the documents replayed as two
    deterministic micro-batches — history first, then today's batch, the
    split the batch queries use — through ``foreachBatch`` with an
    external parquet signature store: batch 0 (history) bootstraps the
    store, batch 1 (today) emits verdicts and appends its fresh
    signatures. Same output contract — and the SAME ORACLE — as
    `incremental_dedup_verdicts`: the streaming pipeline must reproduce
    the batch operator's verdicts exactly."""
    from onetl_spark.streaming.incremental import incremental_dedup_batch_fn

    ensure_views(spark, sf_dir)
    source = stage_batches(
        "docs",
        sf_dir,
        ["documents"],
        [
            "SELECT * FROM documents WHERE doc_id % 5 <> 0",
            "SELECT * FROM documents WHERE doc_id % 5 = 0",
        ],
    )
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    work = run_foreach_batch(
        "streaming_incremental_dedup",
        batch_stream(spark, source, schema),
        lambda work_dir: incremental_dedup_batch_fn(
            os.path.join(work_dir, "store"),
            os.path.join(work_dir, "verdicts"),
            threshold=_THRESHOLD,
        ),
    )
    return spark.read.parquet(os.path.join(work, "verdicts"))


def incremental_decon_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental decontamination (`llm/dedup.py contamination_index` /
    `incremental_decontamination`): the corpus was ingested long ago —
    only its persisted shingle index remains — and a NEW benchmark set
    (every 4th document plays the just-released eval suite) arrives to
    be checked against it. The inverse flow of
    `benchmark_decontamination`, where the corpus text is at hand."""
    from onetl_spark.llm.dedup import (
        contamination_index,
        incremental_decontamination,
    )

    ensure_views(spark, sf_dir)
    docs = spark.table("documents")
    index = contamination_index(docs.filter(F.col("doc_id") % 4 != 0))
    bench = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    return incremental_decontamination(index, bench, threshold=0.2)


DECON_VERDICTS_SQL = rf"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKENS} AS w FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(sh, s -> {SQL_MD5LONG.format(x='s')} % {MOD}) AS h
  FROM (SELECT doc_id, {SQL_SHINGLES} AS sh FROM tok)
), bench AS (
  SELECT DISTINCT unnest(h) AS g FROM hs WHERE doc_id % 4 = 0
), grams AS (
  SELECT doc_id, unnest(h) AS g FROM hs WHERE doc_id % 4 <> 0
), counts AS (
  SELECT grams.doc_id,
         CAST(SUM(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS matched_shingles,
         COUNT(*) AS total_shingles
  FROM grams LEFT JOIN bench ON grams.g = bench.g
  GROUP BY grams.doc_id
)
SELECT doc_id, matched_shingles, total_shingles,
       round(matched_shingles * 1.0 / total_shingles, 9) AS overlap_ratio,
       round(matched_shingles * 1.0 / total_shingles, 9) >= 0.2 AS contaminated
FROM counts
"""


def incremental_decon_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine report per corpus source: how much of each source's
    already-ingested data the new benchmark set invalidates — the number
    that decides whether a retrain is needed."""
    v = incremental_decon_verdicts(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "source")
    return (
        v.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
            # per-doc ratios are 9-dp rounded already: decimal-sum them
            (
                F.round(
                    F.sum(F.col("overlap_ratio").cast("decimal(38,9)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    9,
                )
                + F.lit(0.0)
            ).alias("avg_overlap"),
        )
    )


DECON_REPORT_SQL = f"""
WITH verdicts AS ({DECON_VERDICTS_SQL})
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN v.contaminated THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       round(CAST(SUM(CAST(v.overlap_ratio AS DECIMAL(38,9))) AS DOUBLE)
             / COUNT(*), 9) + 0.0 AS avg_overlap
FROM verdicts v JOIN documents d ON d.doc_id = v.doc_id
GROUP BY d.source
"""


def el_incremental_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EL surface (SURVEY §2.1/§2.9) composed with the LLM dedup
    operators — the first registry query exercising both halves of the
    engine in one flow: DBReader pulls today's batch and the historical
    corpus through the Hive-dialect connection (column pruning + WHERE
    pushdown rendered into the scan SQL), the incremental-dedup verdicts
    are written through DBWriter (replace_entire_table) to a managed
    table, and the result is read back with a third DBReader. Same
    output contract — and the SAME ORACLE — as
    `incremental_dedup_verdicts`."""
    from onetl_spark.connections.catalog import drop_table_completely
    from onetl_spark.connections.sparksql import (
        SparkSQLConnection,
        SparkSQLWriteOptions,
    )
    from onetl_spark.db import DBReader, DBWriter

    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    batch = DBReader(
        conn, source="documents", columns=["doc_id", "text"],
        where="doc_id % 5 = 0",
    ).run()
    history = DBReader(
        conn, source="documents", columns=["doc_id", "text"],
        where="doc_id % 5 <> 0",
    ).run()
    verdicts = incremental_minhash_dedup(
        batch, minhash_signature_store(history), threshold=_THRESHOLD
    )
    target = "showcase_el_dedup_pipeline"
    drop_table_completely(spark, target)
    DBWriter(
        conn, target, options=SparkSQLWriteOptions(if_exists="replace_entire_table")
    ).run(verdicts)
    return DBReader(conn, source=target).run()


register(incremental_dedup_verdicts, VERDICTS_SQL)
register(incremental_dedup_report, REPORT_SQL)
register(streaming_incremental_dedup, VERDICTS_SQL)
register(incremental_decon_verdicts, DECON_VERDICTS_SQL)
register(incremental_decon_report, DECON_REPORT_SQL)
register(el_incremental_dedup_pipeline, VERDICTS_SQL)
