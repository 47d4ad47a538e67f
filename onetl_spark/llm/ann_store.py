"""Incremental ANN index maintenance: a persisted centroid store updated
online as embedding batches arrive.

The "day 2" of the similarity-search suite: `llm/similarity.py` builds
IVF/PQ/LSH indexes over ONE fixed corpus; a production 100-TB pipeline
ingests embeddings daily and cannot re-cluster history. This operator
keeps an EXTERNAL centroid store of exactly-mergeable moments — per
(centroid, dim): member count + decimal coordinate sum — so each batch

1. assigns its vectors to the CURRENT store centroids (one broadcast of
   the k×d centroid table against the batch — no pairwise join),
2. emits per-vector verdicts ``(batch_id, id, cluster, dist)``, and
3. folds its per-centroid sums into the store (running means move the
   centroids online — mini-batch k-means with EXACT merge arithmetic:
   decimal sums are associative, so any batch split of the same corpus
   folds to the identical store).

History vectors are never re-read; the store is k×d rows forever. The
drift report (`incremental_ann_report`) turns the verdict stream into
the retraining signal: per (batch, centroid) population share and mean
residual distance against the running mean — a residual blow-up means
the corpus distribution left the index behind.

Float discipline: store sums use DECIMAL(25,12) — wide enough for
~10^12 magnitude, narrow enough that a (25,12)+(25,12) add stays inside
Spark's 38-digit precision WITHOUT the silent scale-11 downcast that
DecimalPrecision applies to (38,12) adds. Centroid coordinates are
``CAST(s AS DOUBLE) / cnt`` (exact-operand IEEE division), squared
distances fold left-to-right over dims (`F.aggregate`, matching DuckDB
``list_sum``), and every emitted double goes through the composed fsig
rounding. Ties in the argmin break on centroid index via a min-struct —
the `kmeans_assign` convention (`llm/similarity.py:2223`).

Reference parity: the reference engine has no vector-index surface; the
class extends the ANN suite the way `minhash_signature_store` extended
dedup (same persisted-store, fold-per-batch shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.spark_utils import fsig, widen_small_scan

__all__ = [
    "centroid_seed_store",
    "store_centroids",
    "assign_to_centroids",
    "fold_into_store",
    "incremental_ann_assign",
    "incremental_ann_report",
]

_DEC = "decimal(25,12)"
_K = 4


def _pts(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return (
        widen_small_scan(embeddings)
        .filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
    )


def centroid_seed_store(batch: DataFrame, k: int = _K) -> DataFrame:
    """Bootstrap store from a prepared ``(_id, _v)`` batch: the ``k``
    smallest-id vectors seed one centroid each (no RNG — deterministic
    across engines and re-runs), stored as per-dim moments
    ``(cluster, dim, cnt=1, s=v[dim])``. ``dim`` is 0-based."""
    seed = batch.orderBy("_id").limit(k)
    ranked = seed.select(
        (F.row_number().over(W.orderBy("_id")) - 1).alias("cluster"),
        F.col("_v"),
    )
    return ranked.select(
        "cluster",
        F.posexplode("_v").alias("dim", "_x"),
    ).select(
        "cluster",
        "dim",
        F.lit(1).cast("long").alias("cnt"),
        F.col("_x").cast(_DEC).alias("s"),
    )


def store_centroids(store: DataFrame) -> DataFrame:
    """Store moments → ``(cluster, _cv array<double>)``: running means
    per dim, ordered by dim."""
    return (
        store.select(
            "cluster",
            "dim",
            (F.col("s").cast("double") / F.col("cnt")).alias("_mu"),
        )
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "_mu"))),
                lambda s: s["_mu"],
            ).alias("_cv")
        )
    )


def assign_to_centroids(batch: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmin squared-Euclidean assignment of a prepared ``(_id, _v)``
    batch against a broadcast centroid table; ties break on the cluster
    index. Returns ``(_id, _v, cluster, _d)``."""
    d2 = F.aggregate(
        F.zip_with("_v", "_cv", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return (
        batch.crossJoin(F.broadcast(cents))
        .select(
            "_id",
            "_v",
            F.struct(d2.alias("d"), F.col("cluster").alias("j")).alias("_dj"),
        )
        .groupBy("_id", "_v")
        .agg(F.min("_dj").alias("_m"))
        .select(
            "_id",
            "_v",
            F.col("_m")["j"].alias("cluster"),
            F.col("_m")["d"].alias("_d"),
        )
    )


def fold_into_store(assignments: DataFrame, store: DataFrame) -> DataFrame:
    """Merge a batch's per-centroid moment deltas into the store —
    exact decimal arithmetic, so folding is associative across any
    batch split. Clusters the batch never hit pass through unchanged."""
    bsums = (
        assignments.select("cluster", F.posexplode("_v").alias("dim", "_x"))
        .groupBy("cluster", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col("_x").cast(_DEC)).cast(_DEC).alias("_bs"),
        )
    )
    return store.join(bsums, ["cluster", "dim"], "left").select(
        "cluster",
        "dim",
        (F.col("cnt") + F.coalesce(F.col("_n"), F.lit(0))).cast("long").alias("cnt"),
        (F.col("s") + F.coalesce(F.col("_bs"), F.lit(0).cast(_DEC)))
        .cast(_DEC)
        .alias("s"),
    )


def incremental_ann_assign(
    embeddings: DataFrame,
    n_batches: int = 3,
    k: int = _K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full incremental loop replayed over a deterministic batch
    split (``id % n_batches``, the repo's staging convention): batch 0
    seeds the store and is assigned against the seed centroids; every
    later batch is assigned against the store as folded so far, then
    folds itself in. Returns the verdict union
    ``(batch_id, <id_col>, cluster, dist)``.

    Scale shape: each corpus row is scanned once (its own batch's
    assignment), each batch pays one k×d broadcast + one grouped moment
    aggregate; the store is localCheckpoint-cut per fold so lineage
    stays flat across batches."""
    pts = _pts(embeddings, id_col, vec_col).withColumn(
        "_b", (F.col("_id") % n_batches).cast("int")
    )
    store = centroid_seed_store(pts.filter(F.col("_b") == 0), k)
    out = None
    for t in range(n_batches):
        cents = store_centroids(store)
        a = assign_to_centroids(
            pts.filter(F.col("_b") == t), cents
        ).localCheckpoint(eager=False)
        v = a.select(
            F.lit(t).cast("int").alias("batch_id"),
            F.col("_id").alias(id_col),
            "cluster",
            fsig(F.col("_d")).alias("dist"),
        )
        out = v if out is None else out.unionByName(v)
        store = fold_into_store(a, store).localCheckpoint(eager=False)
    return out


def incremental_ann_report(verdicts: DataFrame) -> DataFrame:
    """Per (batch, centroid) index-health series from the verdict
    stream: population count and batch share, mean residual distance,
    and the drift ratio of the batch mean against the RUNNING mean —
    the number that triggers a re-cluster when the ingest distribution
    walks away from the index. All statistics derive from the
    quantized (fsig) distances via exact decimal sums, so the report is
    partitioning- and engine-stable."""
    g = verdicts.groupBy("batch_id", "cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum(F.col("dist").cast("decimal(27,9)")).cast("decimal(27,9)").alias("_sd"),
    )
    w_batch = W.partitionBy("batch_id")
    w_cum = (
        W.partitionBy("cluster")
        .orderBy("batch_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    mean_d = fsig(F.col("_sd").cast("double") / F.col("n_assigned"))
    pre = g.select(
        "batch_id",
        "cluster",
        "n_assigned",
        fsig(
            F.col("n_assigned").cast("double") / F.sum("n_assigned").over(w_batch)
        ).alias("batch_share"),
        mean_d.alias("mean_dist"),
        F.sum("n_assigned").over(w_cum).cast("long").alias("cum_n"),
        fsig(
            F.sum("_sd").over(w_cum).cast("double")
            / F.sum("n_assigned").over(w_cum)
        ).alias("cum_mean_dist"),
    )
    return pre.select(
        "batch_id",
        "cluster",
        "n_assigned",
        "batch_share",
        "mean_dist",
        "cum_n",
        "cum_mean_dist",
        F.when(
            F.col("cum_mean_dist") > 0,
            fsig(F.col("mean_dist") / F.col("cum_mean_dist")),
        ).alias("drift_ratio"),
    )
