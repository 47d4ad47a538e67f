"""Importance-resampling (DSIR) showcase — `llm/selection.py` as
driver-checkable queries. A NEW operator class: nothing in the registry
previously scored documents by CONTRASTING two corpus distributions
(`unigram_logprob_scores` ranks under a single self-distribution;
`reweight_domains` reweights labelled groups; DSIR scores each raw
document by the hashed-n-gram log ratio of a target domain vs the raw
pool, then resamples by deterministic Gumbel top-k).

Setup on the committed corpus: target = the English documents (the
"domain we want more of"), raw pool = all documents. Buckets B = 4096.

Oracle strategy: the shared CTE chain replays the feature hashing
(namespaced unigrams + bigrams, md5-derived buckets), the add-1-smoothed
per-bucket log ratios (rounded to 9 dp before any sum), the bounded-
precision decimal weighted sums, and the hash-derived Gumbel keys —
hash-exact on every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.llm.selection import (
    DEFAULT_BUCKETS,
    bucket_log_ratio,
    dsir_importance,
    dsir_select,
    hashed_ngram_features,
)
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views, sql_davg


_B = DEFAULT_BUCKETS
_TOP = 200      # importance-scores query: top docs by weight
_K = 150        # selection queries: Gumbel top-k sample size
_SALT = "dsir-gumbel"

_SQL_TOKENS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
_SQL_MD5LONG = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark pipeline: per-doc DSIR log importance weights.

    Featurize ONCE (the tokenize+hash pass is the hot loop) with the
    lang label carried, materialize, then derive the target model, the
    raw model, and the scoring input all from the checkpointed feature
    relation — the DSIR paper's featurize-once / fit / score shape.
    When the target corpus is a separate table (the production case),
    pass its own `hashed_ngram_features` relation instead.
    """
    ensure_views(spark, sf_dir)
    docs = spark.table("documents")
    # model pass: ONE corpus scan reduced straight to the ≤B×|lang|
    # (bucket, lang) aggregate, materialized TINY (a localCheckpoint of
    # the corpus-sized per-doc feature relation measured 100+ MB heap
    # and made bench timings bimodal — ContextCleaner churn); both model
    # inputs derive from the checkpointed aggregate by filtering
    # (bucket_log_ratio re-aggregates, so sums-of-sums are exact)
    by_lang = (
        hashed_ngram_features(docs, buckets=_B, carry_cols=["lang"])
        .groupBy("bucket", "lang")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    target_feats = by_lang.filter(F.col("lang") == "en").select("bucket", "cnt")
    raw_agg = by_lang.select("bucket", "cnt")
    ratio = bucket_log_ratio(target_feats, raw_agg, buckets=_B)
    # scoring pass: the second (and last) corpus scan, streamed — no
    # corpus-sized materialization anywhere in the pipeline
    return dsir_importance(hashed_ngram_features(docs, buckets=_B), ratio)


def _score_ctes() -> str:
    """Oracle mirror of :func:`_scores` (CTE chain ending in `scores`)."""
    md5b = _SQL_MD5LONG.format(x="t")
    return f"""
toks AS (
  SELECT doc_id, lang, {_SQL_TOKENS} AS w FROM documents
), terms AS (
  SELECT doc_id, lang, unnest(list_concat(
    list_transform(w, x -> '1|' || x),
    CASE WHEN len(w) >= 2
         THEN ['2|' || w[i] || ' ' || w[i+1] for i in range(1, len(w))]
         ELSE CAST([] AS VARCHAR[]) END
  )) AS t
  FROM toks
), feats AS (
  SELECT doc_id, lang, {md5b} % {_B} AS bucket, COUNT(*) AS cnt
  FROM terms GROUP BY 1, 2, 3
), tb AS (
  SELECT bucket, SUM(cnt) AS target_cnt FROM feats WHERE lang = 'en' GROUP BY bucket
), rb AS (
  SELECT bucket, SUM(cnt) AS raw_cnt FROM feats GROUP BY bucket
), totals AS (
  SELECT (SELECT SUM(target_cnt) FROM tb) AS _T, (SELECT SUM(raw_cnt) FROM rb) AS _R
), ratio AS (
  SELECT rb.bucket,
         round(ln((COALESCE(tb.target_cnt, 0) + 1) / (_T + {_B}.0))
               - ln((rb.raw_cnt + 1) / (_R + {_B}.0)), 9) AS log_ratio
  FROM rb LEFT JOIN tb ON tb.bucket = rb.bucket CROSS JOIN totals
), scores AS (
  SELECT f.doc_id,
         CAST(SUM(f.cnt) AS BIGINT) AS n_feats,
         round(CAST(SUM(CAST(r.log_ratio AS DECIMAL(20,9))
                        * CAST(f.cnt AS DECIMAL(10,0))) AS DOUBLE), 9) AS log_weight
  FROM feats f JOIN ratio r ON r.bucket = f.bucket
  GROUP BY f.doc_id
)"""


def _selected_sql_ctes() -> str:
    """`_score_ctes()` extended with the deterministic Gumbel top-k
    (`selected`), mirroring :func:`dsir_select` with T=1."""
    salted = f"'{_SALT}' || CAST(doc_id AS VARCHAR)"
    u = f"({_SQL_MD5LONG.format(x=salted)} % 1000000) / 1000000.0"
    return (
        _score_ctes()
        + f""", keyed AS (
  SELECT doc_id, n_feats, log_weight,
         round(log_weight / 1.0
               - ln(-ln(CASE WHEN {u} > 0 THEN {u} ELSE 5e-7 END)), 9) AS gumbel_key
  FROM scores
), selected AS (
  SELECT doc_id, n_feats, log_weight, gumbel_key
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS _rn
        FROM keyed)
  WHERE _rn <= {_K}
)"""
    )


def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top documents by DSIR log importance weight (target = English
    docs, raw = whole pool), with their source/lang for inspection."""
    scored = _scores(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "source", "lang")
    # orderBy + limit = TakeOrderedAndProject: distributed bounded heaps,
    # never a partition-less window (single-task global sort)
    return (
        scored.join(docs, "doc_id")
        .orderBy(F.desc("log_weight"), F.asc("doc_id"))
        .limit(_TOP)
        .select("doc_id", "source", "lang", "n_feats", "log_weight")
    )


DSIR_SCORES_SQL = f"""
WITH {_score_ctes()}
SELECT s.doc_id, d.source, d.lang, s.n_feats, s.log_weight
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id ASC) AS _rn
      FROM scores) s
JOIN documents d ON d.doc_id = s.doc_id
WHERE s._rn <= {_TOP}
"""


def dsir_selection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the Gumbel top-k DSIR sample: selected docs and
    mean selected weight per (source, lang)."""
    sel = dsir_select(_scores(spark, sf_dir), k=_K, salt=_SALT)
    docs = spark.table("documents").select("doc_id", "source", "lang")
    return (
        sel.join(docs, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.round(sql_like_davg("log_weight"), 9).alias("mean_log_weight"),
        )
    )


def sql_like_davg(col: str):
    """Decimal-exact mean of a 9-dp column (mirrors util.davg at scale 9)."""
    return F.sum(F.col(col).cast("decimal(38,9)")).cast("double") / F.count(F.lit(1))


DSIR_SELECTION_SQL = f"""
WITH {_selected_sql_ctes()}
SELECT d.source, d.lang, COUNT(*) AS n_selected,
       round(CAST(SUM(CAST(s.log_weight AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 9)
         AS mean_log_weight
FROM selected s JOIN documents d ON d.doc_id = s.doc_id
GROUP BY d.source, d.lang
"""


def dsir_composition_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source share in the raw pool vs the DSIR-selected sample —
    the resampling's composition shift (share_ratio > 1 = upweighted)."""
    scores = _scores(spark, sf_dir)
    sel = dsir_select(scores, k=_K, salt=_SALT)
    docs = spark.table("documents").select("doc_id", "source")
    raw = docs.groupBy("source").agg(F.count(F.lit(1)).alias("raw_docs"))
    picked = (
        sel.join(docs, "doc_id").groupBy("source").agg(F.count(F.lit(1)).alias("sel_docs"))
    )
    raw_total = raw.select(F.sum("raw_docs").alias("_nr"))
    joined = (
        raw.join(picked, "source", "left")
        .select("source", "raw_docs", F.coalesce("sel_docs", F.lit(0)).alias("sel_docs"))
        .join(F.broadcast(raw_total))
    )
    raw_share = F.round(F.col("raw_docs") / F.col("_nr"), 9)
    sel_share = F.round(F.col("sel_docs") / F.lit(float(_K)), 9)
    return joined.select(
        "source",
        "raw_docs",
        "sel_docs",
        raw_share.alias("raw_share"),
        sel_share.alias("sel_share"),
        F.round(sel_share / raw_share, 9).alias("share_ratio"),
    )


DSIR_SHIFT_SQL = f"""
WITH {_selected_sql_ctes()},
raw AS (
  SELECT source, COUNT(*) AS raw_docs FROM documents GROUP BY source
), picked AS (
  SELECT d.source, COUNT(*) AS sel_docs
  FROM selected s JOIN documents d ON d.doc_id = s.doc_id
  GROUP BY d.source
), tot AS (SELECT SUM(raw_docs) AS _nr FROM raw)
SELECT r.source, r.raw_docs, COALESCE(p.sel_docs, 0) AS sel_docs,
       round(r.raw_docs / _nr, 9) AS raw_share,
       round(COALESCE(p.sel_docs, 0) / {_K}.0, 9) AS sel_share,
       round(round(COALESCE(p.sel_docs, 0) / {_K}.0, 9)
             / round(r.raw_docs / _nr, 9), 9) AS share_ratio
FROM raw r LEFT JOIN picked p ON p.source = r.source CROSS JOIN tot
"""


register(dsir_importance_scores, DSIR_SCORES_SQL)
register(dsir_selection_report, DSIR_SELECTION_SQL)
register(dsir_composition_shift, DSIR_SHIFT_SQL)
