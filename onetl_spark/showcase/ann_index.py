"""Incremental ANN index maintenance showcase — `llm/ann_store.py` /
`streaming/ann_store.py` as driver-checkable queries. A NEW operator
class: every existing ANN query indexes ONE fixed corpus; this is the
DAILY-INGEST shape for the similarity-search half of the engine — a
persisted centroid store of exactly-mergeable moments updated online as
embedding batches arrive, with per-batch assignment verdicts and the
residual-drift report that decides when to re-cluster.

Batch simulation: ``vec_id % 3`` (the repo's deterministic staging
convention). Oracle strategy: the store fold is unrolled as one CTE
chain per batch — seed moments → centroids (running means) → min-struct
argmin assignment → moment deltas → merged store — reusing the proven
kmeans-oracle vector idioms (`showcase/llm.py _kmeans_cte_prefix`:
list_transform distances fold left-to-right like ``F.aggregate``,
DECIMAL coordinate sums, struct-min tie-breaks). Every emitted double is
fsig-quantized and every report statistic is computed FROM the quantized
values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from onetl_spark.llm.ann_store import (
    incremental_ann_assign,
    incremental_ann_report,
)
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import batch_stream, run_foreach_batch, stage_batches
from onetl_spark.showcase.util import ensure_views, sql_fsig


_N_BATCHES = 3
_K = 4
_DIM = 64

_D2 = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))"
)


def _ann_cte(batch_expr: str) -> str:
    """The unrolled verdict CTE chain, parametrized by the batch-id
    expression (``vec_id % 3`` for the batch operator and the staged
    stream alike)."""
    parts = [
        f"""pts AS (
  SELECT vec_id AS id, CAST({batch_expr} AS INTEGER) AS b,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
)""",
        f"""st0 AS (
  SELECT sd.cluster, r.i AS dim, CAST(1 AS BIGINT) AS cnt,
         CAST(sd.v[r.i + 1] AS DECIMAL(25,12)) AS s
  FROM (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster, v
        FROM (SELECT id, v FROM pts WHERE b = 0 ORDER BY id LIMIT {_K})) sd
  CROSS JOIN range(0, {_DIM}) r(i)
)""",
    ]
    for t in range(_N_BATCHES):
        parts.append(f"""c{t} AS (
  SELECT cluster AS j, list(CAST(s AS DOUBLE) / cnt ORDER BY dim) AS cv
  FROM st{t} GROUP BY cluster
)""")
        parts.append(f"""a{t} AS (
  SELECT p.id, p.v, MIN(struct_pack(d := {_D2}, j := c.j)) AS m
  FROM pts p CROSS JOIN c{t} c WHERE p.b = {t} GROUP BY p.id, p.v
)""")
        if t < _N_BATCHES - 1:
            parts.append(f"""bs{t} AS (
  SELECT m['j'] AS cluster, r.i AS dim, COUNT(*) AS n,
         CAST(SUM(CAST(v[r.i + 1] AS DECIMAL(25,12))) AS DECIMAL(25,12)) AS bs
  FROM a{t} CROSS JOIN range(0, {_DIM}) r(i) GROUP BY 1, 2
)""")
            parts.append(f"""st{t + 1} AS (
  SELECT st.cluster, st.dim,
         CAST(st.cnt + COALESCE(b.n, 0) AS BIGINT) AS cnt,
         CAST(st.s + COALESCE(b.bs, CAST(0 AS DECIMAL(25,12))) AS DECIMAL(25,12)) AS s
  FROM st{t} st LEFT JOIN bs{t} b ON b.cluster = st.cluster AND b.dim = st.dim
)""")
    dist = sql_fsig("m['d']")
    sel = "\n  UNION ALL ".join(
        f"SELECT {t} AS batch_id, id, m['j'] AS cluster, {dist} AS dist FROM a{t}"
        for t in range(_N_BATCHES)
    )
    parts.append(f"verdicts AS (\n  {sel}\n)")
    return "WITH " + ",\n".join(parts)


def incremental_ann_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector assignment verdicts for three ingest batches against
    the online centroid store: which centroid each new embedding joins
    and at what residual distance."""
    ensure_views(spark, sf_dir)
    return incremental_ann_assign(
        spark.table("embeddings"), n_batches=_N_BATCHES, k=_K
    )


VERDICTS_SQL = f"""
{_ann_cte(f"vec_id % {_N_BATCHES}")}
SELECT batch_id, id AS vec_id, cluster, dist FROM verdicts
"""


def incremental_ann_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health series per (batch, centroid): population share, mean
    residual distance, running totals, and the batch-vs-running drift
    ratio — the retraining trigger a production vector index monitors."""
    return incremental_ann_report(incremental_ann_verdicts(spark, sf_dir))


_SHARE = sql_fsig(
    "CAST(n_assigned AS DOUBLE) / SUM(n_assigned) OVER (PARTITION BY batch_id)"
)
_MEAN_D = sql_fsig("CAST(sd AS DOUBLE) / n_assigned")
_CUM_MEAN = sql_fsig("CAST(SUM(sd) OVER w AS DOUBLE) / SUM(n_assigned) OVER w")
_DRIFT = sql_fsig("mean_dist / cum_mean_dist")

REPORT_SQL = f"""
{_ann_cte(f"vec_id % {_N_BATCHES}")},
g AS (
  SELECT batch_id, cluster, CAST(COUNT(*) AS BIGINT) AS n_assigned,
         CAST(SUM(CAST(dist AS DECIMAL(27,9))) AS DECIMAL(27,9)) AS sd
  FROM verdicts GROUP BY 1, 2
), rep AS (
  SELECT batch_id, cluster, n_assigned,
         {_SHARE} AS batch_share,
         {_MEAN_D} AS mean_dist,
         CAST(SUM(n_assigned) OVER w AS BIGINT) AS cum_n,
         {_CUM_MEAN} AS cum_mean_dist
  FROM g
  WINDOW w AS (PARTITION BY cluster ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT batch_id, cluster, n_assigned, batch_share, mean_dist, cum_n,
       cum_mean_dist,
       CASE WHEN cum_mean_dist > 0 THEN {_DRIFT} END AS drift_ratio
FROM rep
"""


def streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-maintenance loop as a REAL streaming pipeline
    (`streaming/ann_store.py`): the embedding corpus replayed as three
    deterministic micro-batches (``vec_id % 3``) through ``foreachBatch``
    with an external parquet centroid store — batch 0 seeds AND assigns,
    later batches assign against the folded store. Must reproduce the
    batch operator's verdicts hash-exactly (SAME ORACLE as
    `incremental_ann_verdicts`)."""
    from onetl_spark.streaming.ann_store import ann_index_batch_fn

    ensure_views(spark, sf_dir)
    source = stage_batches(
        "embeddings",
        sf_dir,
        ["embeddings"],
        [
            f"SELECT * FROM embeddings "
            f"WHERE vec_id % {_N_BATCHES} = {k} AND embedding IS NOT NULL"
            for k in range(_N_BATCHES)
        ],
    )
    schema = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).schema
    work = run_foreach_batch(
        "streaming_ann_index",
        batch_stream(spark, source, schema),
        lambda work_dir: ann_index_batch_fn(
            os.path.join(work_dir, "store"), os.path.join(work_dir, "verdicts"), k=_K
        ),
    )
    return spark.read.parquet(os.path.join(work, "verdicts"))


register(incremental_ann_verdicts, VERDICTS_SQL)
register(incremental_ann_drift_report, REPORT_SQL)
register(streaming_ann_index, VERDICTS_SQL)
