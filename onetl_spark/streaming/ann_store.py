"""Streaming incremental ANN index maintenance: the `llm/ann_store.py`
loop as a continuous ``foreachBatch`` pipeline with an EXTERNAL persisted
centroid-moment store.

Each micro-batch of embeddings is assigned against the store's current
centroids (one k×d broadcast), its verdicts land in a sink, and its
per-centroid moment deltas fold into the store — exact decimal
arithmetic, so the stream reproduces the batch operator's verdicts
bit-for-bit when replaying the same batch split. The first batch ever
seen seeds the store (its k smallest-id vectors become the centroids)
and is itself assigned against those seeds, exactly like batch 0 of
`incremental_ann_assign`.

Store consistency: the verdict append and the moment overwrite are two
separate writes; production deployments should point both at a
transactional table. The merged store is eagerly localCheckpoint-cut
before the overwrite (the read path would otherwise race its own
rewrite). The store probe uses the Hadoop FS API via
`streaming/incremental.py _store_exists`, so any Hadoop URI works.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onetl_spark.llm.ann_store import (
    _K,
    _pts,
    assign_to_centroids,
    centroid_seed_store,
    fold_into_store,
    store_centroids,
)
from onetl_spark.spark_utils import fsig
from onetl_spark.streaming.incremental import _store_exists

__all__ = ["ann_index_batch_fn"]


def ann_index_batch_fn(
    store_dir: str,
    verdict_dir: str,
    k: int = _K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callback for an embedding stream.

    Use with any streaming writer::

        StreamDFWriter(
            foreach_batch=ann_index_batch_fn(store, verdicts),
            options=StreamWriteOptions(trigger={"availableNow": True}),
        ).run(embedding_stream)
    """
    moments_path = store_dir.rstrip("/") + "/moments"

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pts = _pts(batch_df, id_col, vec_col)
        if _store_exists(spark, moments_path):
            stored = spark.read.parquet(moments_path)
        else:
            # bootstrap: this batch's k smallest ids seed the centroids;
            # the batch is still assigned (against the seeds) below
            stored = centroid_seed_store(pts, k).localCheckpoint(eager=True)
        a = assign_to_centroids(pts, store_centroids(stored)).localCheckpoint(
            eager=True
        )  # consumed twice: verdict sink + moment fold
        a.select(
            F.lit(int(batch_id)).cast("int").alias("batch_id"),
            F.col("_id").alias(id_col),
            "cluster",
            fsig(F.col("_d")).alias("dist"),
        ).write.mode("append").parquet(verdict_dir)
        merged = fold_into_store(a, stored).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(moments_path)

    return fn
