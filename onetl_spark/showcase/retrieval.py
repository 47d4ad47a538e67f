"""Retrieval-eval showcase — the ANN self-evaluation suite
(`llm/retrieval_eval.py`) as driver-checkable queries. A NEW operator
class for round 10 (VERDICT r9 #4 candidate (a)): `ann_ivf_recall` gave
one aggregate recall number; this family adds the per-slice breakdown,
rank quality (MRR), the per-cell quantization-loss ledger, and the
nprobe sweep — the four tables an IVF deployment actually tunes with.

Oracle strategy: the shared CTE chain replays ivf_assign's broadcast
argmax (ROW_NUMBER over ccos DESC, centroid_id ASC — identical
tie-breaks), the panel probe ranking, and the brute-force top-k with
the same 9-dp rounding the Spark operators apply, so every recall/MRR/
loss value hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.llm.retrieval_eval import (
    mrr_eval,
    probe_sweep,
    quantization_ledger,
    recall_by_slice,
)
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views


_K = 10
# Panel = every 25th vector, SIZE-CAPPED at 500 queries: an evaluation
# panel must not grow with the corpus or the exact brute-force arm turns
# O(panel x corpus) = quadratic — the scale-curve harness measured
# alpha -> 0.92 with an uncapped fractional panel. The cap is inactive at
# the committed sf0.01/sf0.1 data (2,000 vectors < 12,500), so oracle
# values are unchanged; at sf1+ it pins the exact arm to O(500 x corpus).
_PANEL = "vec_id % 25 = 3 AND vec_id < 12500"
_CENTROIDS = "vec_id % 64 = 7"
_PROBES = (1, 2, 4)


def _cos(va: str, vb: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, len({va})+1), "
        f"i -> CAST({va}[i] AS DOUBLE) * CAST({vb}[i] AS DOUBLE))) / "
        f"(sqrt(list_sum(list_transform({va}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        f"sqrt(list_sum(list_transform({vb}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 9)"
    )


def _base_ctes(max_probe: int = 1, with_slice: bool = False) -> str:
    """Shared oracle scaffolding: centroids, argmax assignment, panel,
    probe ranking (top max_probe cells per query), IVF candidates with
    the admitting probe_rank, and exact brute-force top-k."""
    slice_sel = ", label AS slice" if with_slice else ""
    return f"""
centroids AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
  WHERE {_CENTROIDS}
), assigned AS (
  SELECT vec_id, centroid_id
  FROM (SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_cos('v.embedding', 'c.cvec')} DESC,
                                           c.centroid_id ASC) AS rn
        FROM embeddings v CROSS JOIN centroids c)
  WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec{slice_sel}
  FROM embeddings WHERE {_PANEL}
), qprobe AS (
  SELECT query_id, qvec, centroid_id, rn AS probe_rank
  FROM (SELECT q.query_id, q.qvec, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_cos('q.qvec', 'c.cvec')} DESC,
                                           c.centroid_id ASC) AS rn
        FROM q CROSS JOIN centroids c)
  WHERE rn <= {max_probe}
), cands AS (
  SELECT p.query_id, v.vec_id AS neighbor_id,
         {_cos('v.embedding', 'p.qvec')} AS cos_sim,
         p.probe_rank
  FROM embeddings v
  JOIN assigned a ON a.vec_id = v.vec_id
  JOIN qprobe p ON p.centroid_id = a.centroid_id
  WHERE v.vec_id <> p.query_id
), exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT q.query_id, v.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_cos('v.embedding', 'q.qvec')} DESC,
                                           v.vec_id ASC) AS rn
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id)
  WHERE rn <= {_K}
)"""


def ann_recall_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of single-probe IVF per label slice
    (`llm/retrieval_eval.py recall_by_slice`): the per-slice breakdown
    that catches one corpus segment going unfindable while aggregate
    recall looks healthy. Panel = every 25th vector; deterministic
    tie-breaks make the slice means engine-exact."""
    ensure_views(spark, sf_dir)
    return recall_by_slice(
        spark.table("embeddings"), _PANEL, k=_K, slice_col="label",
        centroid_filter=_CENTROIDS,
    ).orderBy("slice")


register(ann_recall_by_label, f"""
WITH {_base_ctes(1, with_slice=True).strip()},
approx AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
        FROM cands)
  WHERE rn <= {_K}
), hits AS (
  SELECT query_id, COUNT(*) AS n
  FROM exact JOIN approx USING (query_id, neighbor_id)
  GROUP BY query_id
), per_query AS (
  SELECT q.slice, round(COALESCE(hits.n, 0) / {float(_K)}, 9) AS r
  FROM q LEFT JOIN hits USING (query_id)
)
SELECT slice,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(CAST(SUM(CAST(r AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*), 9) AS mean_recall,
       round(MIN(r), 9) AS min_recall
FROM per_query
GROUP BY slice
ORDER BY slice
""")


def ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of each panel query's TRUE nearest neighbour
    inside the IVF top-10 (`llm/retrieval_eval.py mrr_eval`): position
    quality, not just set overlap — rr = 0 when the NN's cell wasn't
    probed. Panel-bounded per-query rows."""
    ensure_views(spark, sf_dir)
    return mrr_eval(
        spark.table("embeddings"), _PANEL, k=_K, centroid_filter=_CENTROIDS,
    ).orderBy("query_id")


register(ann_mrr, f"""
WITH {_base_ctes(1).strip()},
nn AS (
  SELECT query_id, neighbor_id AS nn_id
  FROM (SELECT q.query_id, v.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_cos('v.embedding', 'q.qvec')} DESC,
                                           v.vec_id ASC) AS rn
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id)
  WHERE rn = 1
), approx_ranked AS (
  SELECT query_id, neighbor_id, rn AS approx_rank
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
        FROM cands)
  WHERE rn <= {_K}
)
SELECT nn.query_id, nn.nn_id,
       CAST(COALESCE(ar.approx_rank, 0) AS INT) AS approx_rank,
       round(CASE WHEN ar.approx_rank IS NULL THEN 0.0
                  ELSE 1.0 / ar.approx_rank END, 9) AS rr
FROM nn LEFT JOIN approx_ranked ar
  ON nn.query_id = ar.query_id AND nn.nn_id = ar.neighbor_id
ORDER BY nn.query_id
""")


def ivf_quantization_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell quantization-loss ledger
    (`llm/retrieval_eval.py quantization_ledger`): membership,
    corpus share, and mean/max ``1 - cos(v, centroid)`` per IVF cell —
    the imbalance-and-loss table that says where cluster-restricted
    search loses recall. One corpus pass, centroid-bounded output."""
    ensure_views(spark, sf_dir)
    return quantization_ledger(
        spark.table("embeddings"), centroid_filter=_CENTROIDS,
    ).orderBy("centroid_id")


register(ivf_quantization_ledger, f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
  WHERE {_CENTROIDS}
), assigned AS (
  SELECT vec_id, centroid_id
  FROM (SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_cos('v.embedding', 'c.cvec')} DESC,
                                           c.centroid_id ASC) AS rn
        FROM embeddings v CROSS JOIN centroids c)
  WHERE rn = 1
), losses AS (
  SELECT a.centroid_id,
         round(1.0 - {_cos('v.embedding', 'c.cvec')}, 9) AS loss
  FROM assigned a
  JOIN embeddings v ON v.vec_id = a.vec_id
  JOIN centroids c ON c.centroid_id = a.centroid_id
), cells AS (
  SELECT centroid_id,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         round(CAST(SUM(CAST(loss AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*), 9) AS mean_loss,
         round(MAX(loss), 9) AS max_loss
  FROM losses
  GROUP BY centroid_id
)
SELECT centroid_id, n_vecs,
       round(CAST(n_vecs AS DOUBLE) / t.total, 9) AS corpus_share,
       mean_loss, max_loss
FROM cells CROSS JOIN (SELECT CAST(SUM(n_vecs) AS DOUBLE) AS total FROM cells) t
ORDER BY centroid_id
""")


def ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean recall@10 vs nprobe ∈ {{1,2,4}}
    (`llm/retrieval_eval.py probe_sweep`): the latency/recall operating
    curve. Candidates are scored ONCE at nprobe=4 and each sweep point
    filters by the admitting probe rank — no re-scoring per point."""
    ensure_views(spark, sf_dir)
    return probe_sweep(
        spark.table("embeddings"), _PANEL, k=_K, probes=_PROBES,
        centroid_filter=_CENTROIDS,
    ).orderBy("nprobe")


register(ivf_probe_sweep, f"""
WITH {_base_ctes(max(_PROBES)).strip()},
probes(nprobe) AS (VALUES {', '.join(f'({p})' for p in _PROBES)}),
swept AS (
  SELECT nprobe, query_id, neighbor_id
  FROM (SELECT pr.nprobe, c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY c.query_id, pr.nprobe
                                  ORDER BY c.cos_sim DESC, c.neighbor_id ASC) AS rn
        FROM cands c JOIN probes pr ON c.probe_rank <= pr.nprobe)
  WHERE rn <= {_K}
), hits AS (
  SELECT s.nprobe, s.query_id, COUNT(*) AS n
  FROM swept s JOIN exact e USING (query_id, neighbor_id)
  GROUP BY s.nprobe, s.query_id
), per_query AS (
  SELECT pr.nprobe, q.query_id,
         round(COALESCE(h.n, 0) / {float(_K)}, 9) AS r
  FROM q CROSS JOIN probes pr
  LEFT JOIN hits h ON h.nprobe = pr.nprobe AND h.query_id = q.query_id
)
SELECT CAST(nprobe AS INT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(CAST(SUM(CAST(r AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*), 9) AS mean_recall,
       round(MIN(r), 9) AS min_recall
FROM per_query
GROUP BY nprobe
ORDER BY nprobe
""")


def semantic_near_dup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH near-duplicate pairs
    (`llm/similarity.py banded_near_dup_pairs`) — the LINEAR scale path
    for semantic dedup. The cluster-blocked `semantic_near_dup` scores
    the corpus against a corpus/64-sized centroid set (O(N²/64)
    assignment; scale harness measured α = 1.22); here candidates share
    a (band, sign-projection-bucket) key, over-full buckets are dropped
    under a logged cap, and pair work is bounded by bands × N × cap.
    Every reported pair is exactly verified (cos ≥ threshold)."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.similarity import banded_near_dup_pairs

    return banded_near_dup_pairs(
        spark.table("embeddings"), threshold=0.3,
        bands=_ND_BANDS, planes_per_band=_ND_PLANES,
    ).orderBy("a_id", "b_id")


# planes_per_band is the LSH scale knob (~log2(corpus/target_bucket)):
# 4 planes = 16 buckets/band collapses at sf1 (20k vectors -> every bucket
# over the 512 cap -> all dropped, empty result); 8 planes = 256
# buckets/band keeps buckets ~N/256, cap-binding only past ~130k vectors.
_ND_BANDS = 6
_ND_PLANES = 8
# recall-eval population cap (inactive below sf~2: see banded_near_dup_recall)
_RECALL_CAP = 4000


def _banded_near_dup_sql(bands: int = _ND_BANDS, planes_per_band: int = _ND_PLANES,
                         cap: int = 512, threshold: float = 0.3,
                         source: str = "embeddings") -> str:
    from onetl_spark.llm.similarity import lsh_plane_component

    def bucket_expr(band: int) -> str:
        bits = []
        for j in range(planes_per_band):
            p = band * planes_per_band + j
            comps = [lsh_plane_component(p, d) for d in range(64)]
            proj = " + ".join(
                f"CAST(embedding[{d + 1}] AS DOUBLE) * ({comps[d]!r})"
                for d in range(64)
            )
            bits.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(bits)

    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id AS id, embedding, {b} AS band, ({bucket_expr(b)}) AS bkt FROM {source}"
        for b in range(bands)
    )
    return f"""
WITH rows_all AS MATERIALIZED (
{band_rows}
), sizes AS (
  SELECT band, bkt, COUNT(*) AS bn FROM rows_all GROUP BY band, bkt
), kept AS (
  SELECT r.* FROM rows_all r JOIN sizes s ON r.band = s.band AND r.bkt = s.bkt
  WHERE s.bn <= {cap}
)
SELECT DISTINCT a.id AS a_id, b.id AS b_id,
       round(list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 9)
           AS cos_sim
FROM kept a JOIN kept b ON a.band = b.band AND a.bkt = b.bkt AND a.id < b.id
WHERE round(list_sum(list_transform(range(1, len(a.embedding)+1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
            (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 9)
      >= {threshold}
ORDER BY a_id, b_id
"""


register(semantic_near_dup_banded, _banded_near_dup_sql())


def banded_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the LINEAR banded near-dup path against its exact
    ground truth — the measurement that justifies (or vetoes) swapping
    the quadratic exact variant out of a pipeline. Ground truth =
    `near_dup_pairs_by_label` (exact, complete within each label);
    predictions = `semantic_near_dup_banded`'s pair set restricted to
    same-label pairs (the slice where truth is complete, so recall is
    well-defined). Precision on that slice is 1 by construction — every
    banded pair is exactly cosine-verified — so the one number that
    matters is recall, reported with the band/plane operating point
    implied by the showcase constants. Returns one row:
    ``(n_truth_pairs, n_found, recall)``.

    The evaluation POPULATION is size-capped (``vec_id < _RECALL_CAP``),
    the retrieval-eval panel rule: the exact ground-truth arm is
    quadratic within label groups, so an uncapped eval re-grows with the
    corpus — the wide-net scale screen measured 8.6 s -> 181 s on 10x
    data before the cap. Inactive at the committed sf0.01/sf0.1 data
    (500/2,000 vectors < 4,000), so oracle values are unchanged; at sf1+
    it pins the exact arm to a fixed 4,000-vector population while the
    production banded path stays evaluated at that population's scale."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.similarity import banded_near_dup_pairs, near_dup_pairs_by_label

    emb = spark.table("embeddings").filter(F.col("vec_id") < _RECALL_CAP)
    # both pair relations feed two consumers (overlap join + totals) —
    # checkpoint the bounded outputs so the expensive builds run once
    truth = (
        near_dup_pairs_by_label(emb, threshold=0.3)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    labels = emb.select(F.col("vec_id").alias("a_id"), F.col("label").alias("_la"))
    labels_b = emb.select(F.col("vec_id").alias("b_id"), F.col("label").alias("_lb"))
    pred = (
        banded_near_dup_pairs(emb, threshold=0.3, bands=_ND_BANDS,
                              planes_per_band=_ND_PLANES)
        .join(F.broadcast(labels), "a_id")
        .join(F.broadcast(labels_b), "b_id")
        .filter(F.col("_la") == F.col("_lb"))
        .select("a_id", "b_id")
    )
    hit = truth.join(pred, ["a_id", "b_id"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    tot = truth.agg(F.count(F.lit(1)).alias("n_truth_pairs"))
    return tot.crossJoin(F.broadcast(hit)).select(
        "n_truth_pairs",
        "n_found",
        F.round(
            F.col("n_found").cast("double") / F.col("n_truth_pairs"), 9
        ).alias("recall"),
    )


def _banded_recall_sql() -> str:
    # the banded pipeline runs over the SAME capped eval population as the
    # Spark side (cap inactive at committed SFs — see banded_near_dup_recall)
    banded = _banded_near_dup_sql(source="eval_emb")
    return f"""
WITH eval_emb AS MATERIALIZED (
  SELECT * FROM embeddings WHERE vec_id < {_RECALL_CAP}
), banded AS MATERIALIZED (
  SELECT a_id, b_id FROM ({banded})
), truth AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM eval_emb a JOIN eval_emb b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(range(1, len(a.embedding)+1),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 9)
        >= 0.3
), pred AS (
  SELECT banded.a_id, banded.b_id
  FROM banded
  JOIN eval_emb ea ON ea.vec_id = banded.a_id
  JOIN eval_emb eb ON eb.vec_id = banded.b_id
  WHERE ea.label = eb.label
), hit AS (
  SELECT COUNT(*) AS n FROM truth JOIN pred USING (a_id, b_id)
)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth_pairs,
       CAST(hit.n AS BIGINT) AS n_found,
       round(CAST(hit.n AS DOUBLE) / (SELECT COUNT(*) FROM truth), 9) AS recall
FROM hit
"""


register(banded_near_dup_recall, _banded_recall_sql())
