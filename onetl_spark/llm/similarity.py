"""Similarity search over embedding columns (``array<float>``).

- ``cosine``: double-precision fold (zip_with + aggregate), JVM-side.
- ``bruteforce_topk``: exact top-k for a query vector — the broadcast side
  is one row, the scan is embarrassingly parallel, and the final top-k is
  Catalyst's TakeOrderedAndProject (per-partition heap + driver merge),
  so it holds at any scale.
- ``topk_per_query``: N query vectors joined broadcast against the corpus,
  per-query top-k via window row_number (single shuffle on query id).
- ``lsh_bucket_topk``: sign-random-projection LSH — deterministic
  hyperplanes derived from md5 hashes, bucket join, search only within the
  query's bucket. The scale path when the corpus no longer fits a
  per-partition scan per query.
"""

from __future__ import annotations

import logging
import math
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.spark_utils import widen_small_scan

log = logging.getLogger(__name__)

_NANO = Decimal("1E-9")
_ROUND9 = Context(prec=309 + 9, rounding=ROUND_HALF_UP)


def _spark_round9(x: float) -> float:
    """Driver-side replica of Spark's ``F.round(x, 9)`` on a double:
    HALF_UP over the double's SHORTEST decimal repr (Spark rounds
    ``BigDecimal.valueOf(x)`` = ``Double.toString`` = Python ``repr``),
    with the −0.0 result normalized to +0.0 exactly as BigDecimal does
    (it cannot represent signed zero). The repo-wide ``_ref_fsig``
    quantize convention, packaged for iterative drivers that fold a
    collected d-vector back into the next Spark expression. Total over
    doubles: ±inf and NaN come back unchanged, as from Spark, and the
    context holds the largest double's 309 integer digits plus 9 places."""
    if not math.isfinite(x):
        return x
    r = float(Decimal(repr(x)).quantize(_NANO, context=_ROUND9))
    return 0.0 if r == 0.0 else r


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")),
    )


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def bruteforce_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbours of corpus vector ``query_id``."""
    query = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"),
    )
    return (
        embeddings.filter(F.col(id_col) != query_id)
        .join(F.broadcast(query))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 9).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def topk_per_query(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k corpus neighbours for every query vector (broadcast join +
    windowed rank). queries must have columns (query_id, qvec).

    Scale note — this IS two-phase top-k: Catalyst rewrites the
    ``row_number() <= k`` filter into ``WindowGroupLimit`` with a PARTIAL
    pass before the exchange (verified in the executed plan:
    ``WindowGroupLimit ... row_number(), k, Partial`` above the scan,
    ``Final`` after the shuffle), so every map partition ships only its
    local top-k per query and the per-query window sees ≤ partitions×k
    rows — never the scored corpus. A hand-rolled collect_list/slice
    phase-1 was measured strictly worse: spark_partition_id() is
    non-deterministic, forcing an extra full shuffle on (query, pid).
    """
    scored = (
        widen_small_scan(embeddings)
        .join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col(vec_col), F.col("qvec")), 9).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def near_dup_pairs_by_label(
    embeddings: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    salt_groups: int = 8,
    max_bucket_rows: int = 100_000,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking groups
    (block_col keeps the pair join off the full cross product).

    Norms are precomputed per ROW before the pair join (computing them
    inside the pair expression re-evaluates each norm once per pair —
    O(pairs·d) extra work). ``dot/(na·nb)`` is arithmetically identical.

    The join key is SALTED: the right side sub-buckets its block members
    by ``hash(id) % salt_groups`` and the left side is replicated once
    per sub-bucket, so one block fans out to ``salt_groups`` join keys
    instead of ONE. Without this, parallelism is capped at the number of
    distinct blocks (10 labels → 10 busy tasks on a 1000-core cluster)
    and a hot block is a straggler task; with it, the quadratic work of
    every block spreads across the cluster. Each unordered pair still
    meets exactly once (at key (blk, g(b))), so results are identical.
    Replication cost is salt_groups× on the left side — the standard
    skew-join price; raise salt_groups with cluster width.

    CAVEAT: TOTAL cost is still quadratic in each block size
    (Σ |block|²); salting spreads it, it doesn't shrink it. If a hot
    block dominates the corpus, switch to ``lsh_bucket_topk``-style
    sign-LSH blocking or MinHash banding to cut candidate counts.

    RUNTIME GUARD: because the cost is exact-by-construction quadratic,
    a salt-bucket holding more than ``max_bucket_rows`` rows (block size
    ≳ salt_groups·max_bucket_rows, i.e. ≥ ~10¹¹ candidate pairs per
    block at the default) raises at execution time instead of silently
    launching a corpus-scale cross product. The check rides a window
    over the join key itself, so in the at-scale SortMergeJoin regime
    the window's exchange IS the join's right-side exchange (no
    dedicated validation scan — the gini convention) and it fires
    BEFORE any pair is formed; only in the small-data broadcast-join
    regime does it cost one extra (then small) shuffle. Pass
    ``allow_quadratic=True`` (or raise ``max_bucket_rows``) to
    deliberately run bigger blocks; `banded_near_dup_pairs` /
    `minhash_lsh` are the linear-cost paths.
    """
    b_norm = norm(F.col("b_vec"))
    if not allow_quadratic:
        bucket_n = F.count(F.lit(1)).over(W.partitionBy("_blk", "_gb"))
        b_norm = F.when(
            bucket_n > max_bucket_rows,
            F.raise_error(
                F.lit(
                    f"near_dup_pairs_by_label: a {block_col} block exceeds "
                    f"~{salt_groups}×{max_bucket_rows} rows — exact all-pairs "
                    "at this size is quadratic; use banded_near_dup_pairs / "
                    "minhash_lsh, or pass allow_quadratic=True"
                )
            ).cast("double"),
        ).otherwise(b_norm)
    left = embeddings.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col)).alias("a_norm"),
        F.col(block_col).alias("_blk"),
        F.explode(
            F.sequence(F.lit(0), F.lit(salt_groups - 1)),
        ).alias("_gb"),
    )
    right = embeddings.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        F.col(block_col).alias("_blk"),
        F.pmod(F.hash(F.col(id_col)), F.lit(salt_groups)).alias("_gb"),
    ).select(
        "b_id",
        "b_vec",
        "_blk",
        "_gb",
        # guarded norm: the bucket-count window partitions by the join
        # key, so its exchange is the join's own right-side shuffle and
        # the cap fires BEFORE any pair is formed
        b_norm.alias("b_norm"),
    )
    return (
        left.join(right, ["_blk", "_gb"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(
                dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm")), 9,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q[i] = round(x[i] / scale).

    The 100 TB rationale: quantized vectors are 4× smaller than float32
    (8× vs float64), which shrinks the scan, the shuffle, AND the cache
    footprint of every ANN pass; the int dot product below is exact
    integer arithmetic, so scoring is deterministic across engines and
    hardware. Returns (id, qvec array<smallint-range ints>, scale).
    """
    x = F.col(vec_col)
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    # scale is hoisted into its own projection so it's evaluated ONCE per
    # row; inlining it in the transform lambda would re-run the array_max
    # fold for every element (O(d²) per row, and higher-order functions
    # run interpreted — measured 3× slower at d=64)
    staged = widen_small_scan(embeddings).select(
        F.col(id_col),
        x.alias("_x"),
        (F.greatest(max_abs, F.lit(1e-30)) / F.lit(127.0)).alias("scale"),
    )
    return staged.select(
        F.col(id_col),
        F.transform(
            F.col("_x"), lambda v: F.round(v.cast("double") / F.col("scale")).cast("long"),
        ).alias("qvec"),
        F.col("scale"),
    )


def quantized_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors.

    cos(a,b) ≈ (sa·sb·Σqa[i]qb[i]) / (sa·√Σqa² · sb·√Σqb²) — the scales
    cancel in the ratio, so the score is a pure INTEGER dot over integer
    norms: exact, engine-independent arithmetic until the final double
    division. Candidates never touch the float vectors."""
    q = quantize_embeddings(embeddings, id_col, vec_col)
    qnorm = F.sqrt(
        F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda a, v: a + v * v).cast("double"),
    )
    scored = q.select(F.col(id_col), "qvec", qnorm.alias("qn"))
    query = scored.filter(F.col(id_col) == query_id).select(
        F.col("qvec").alias("_qq"), F.col("qn").alias("_qqn"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("_qq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        scored.join(F.broadcast(query))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(idot.cast("double") / (F.col("qn") * F.col("_qqn")), 9).alias("qcos_sim"),
        )
        .orderBy(F.desc("qcos_sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5-derived, no RNG state — any engine can reproduce it."""
    import hashlib

    h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def sign_lsh_bucket(vec_col, dim: int, n_planes: int = 8, plane_offset: int = 0):
    """Sign-random-projection bucket id (0..2^n_planes-1). Plane values are
    Python-precomputed constants embedded as ARRAY literals and folded
    with higher-order functions — a chained multiply-add expression tree
    (n_planes × dim terms) blows janino's 64 KB generated-method limit
    past ~1k terms and silently drops the whole stage to interpreted
    eval; the HOF form keeps the plan O(1)-sized regardless of plane
    count. Arithmetic is bit-identical to the chained form: the fold is
    the same left-to-right order and IEEE ``0.0 + t0 == t0``.
    ``plane_offset`` selects a disjoint plane family — band b of a banded
    scheme uses planes [b*r, (b+1)*r)."""
    planes_lit = F.array(
        *[
            F.array(
                *[F.lit(lsh_plane_component(plane_offset + p, d)) for d in range(dim)]
            )
            for p in range(n_planes)
        ]
    )
    projs = F.transform(
        planes_lit,
        lambda plane: F.aggregate(
            F.zip_with(vec_col, plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )
    weights_lit = F.array(*[F.lit(1 << p).cast("long") for p in range(n_planes)])
    weighted = F.zip_with(
        projs, weights_lit,
        lambda x, w: F.when(x > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, b: acc + b)


def banded_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    bands: int = 6,
    planes_per_band: int = 4,
    max_bucket_size: int = 512,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs via BANDED sign-LSH — the linear
    scale path for semantic dedup, mirroring the MinHash-banding posture
    the text side uses (`llm/dedup.py minhash_lsh_pairs`).

    Why this exists: the cluster-blocked variant
    (`semantic_near_dup_pairs`) scores the corpus against a centroid set
    that grows as corpus/64, so its assignment arm is O(N²/64) — the r10
    scale harness measured α = 1.22 at sf1 (SCALE_CURVE.json). Here each
    vector lands in ``bands`` buckets keyed by sign-random-projection
    bits (deterministic md5-derived hyperplanes, disjoint plane family
    per band), candidate pairs share a (band, bucket) key, and buckets
    above ``max_bucket_size`` are anti-joined out and LOGGED (the
    standard web-dedup recall knob — never silent). With the cap, pair
    work is bounded by bands × N × cap: LINEAR in the corpus.

    Recall is tunable: a pair at cosine angle θ collides in one band
    with (1 − θ/π)^r and anywhere with 1 − (1 − p)^bands — raise
    ``bands`` for recall, ``planes_per_band`` for precision. Every
    surviving candidate is verified exactly (cosine ≥ threshold), so
    precision of REPORTED pairs is 1; only recall is approximate.

    Returns ``(a_id, b_id, cos_sim)``, deduplicated across bands.
    """
    if bands < 1 or planes_per_band < 1:
        raise ValueError("banded_near_dup_pairs: bands and planes_per_band must be >= 1")
    buckets = F.array(
        *[
            F.struct(
                F.lit(b).alias("_band"),
                sign_lsh_bucket(
                    F.col(vec_col), dim, planes_per_band,
                    plane_offset=b * planes_per_band,
                ).alias("_bkt"),
            )
            for b in range(bands)
        ]
    )
    # r13 note: a dedupe-candidates-before-verify rewrite (ids-only band
    # relation, pairs .distinct(), vectors attached by two id-joins) was
    # A/B'd per the r12 verdict and REVERTED: it measured 1.8x slower at
    # sf0.1 AND 1.25-1.5x slower at sf1 (matched canaries) — the extra
    # join/distinct stages cost more than the band-carried vector bytes
    # save at these scales. Evidence: .scratch/r13 + OPTIMIZATION_r13.md.
    rows = (
        widen_small_scan(embeddings)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            norm(F.col(vec_col)).alias("_norm"),
            F.explode(buckets).alias("_bb"),
        )
        .select("_id", "_vec", "_norm", "_bb._band", "_bb._bkt")
        .persist()
    )
    oversized = (
        rows.groupBy("_band", "_bkt")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket_size)
        .select("_band", "_bkt")
        .localCheckpoint(eager=False)
    )
    n_oversized = oversized.count()
    if n_oversized:
        log.warning(
            "banded_near_dup_pairs: dropped %d LSH buckets larger than %d members; "
            "recall is reduced for mass-duplicated regions — run exact dedup first",
            n_oversized,
            max_bucket_size,
        )
        rows = rows.join(F.broadcast(oversized), ["_band", "_bkt"], "left_anti")
    left = rows.select(
        "_band", "_bkt",
        F.col("_id").alias("a_id"), F.col("_vec").alias("_av"), F.col("_norm").alias("_an"),
    )
    right = rows.select(
        "_band", "_bkt",
        F.col("_id").alias("b_id"), F.col("_vec").alias("_bv"), F.col("_norm").alias("_bn"),
    )
    return (
        left.join(right, ["_band", "_bkt"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(
                dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn")), 9,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket."""
    bucketed = embeddings.withColumn("_bucket", sign_lsh_bucket(F.col(vec_col), dim, n_planes))
    query = bucketed.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"), F.col("_bucket").alias("_qbucket"),
    )
    return (
        bucketed.join(F.broadcast(query), F.col("_bucket") == F.col("_qbucket"))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 9).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_seed_centroids(
    embeddings: DataFrame,
    centroid_filter: str = "vec_id % 64 = 7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF seeds (centroid_id, cvec): a fixed id predicate
    stands in for k-means++ init — reproducible on any engine."""
    return embeddings.filter(centroid_filter).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cvec"),
    )


def ivf_assign(
    embeddings: DataFrame,
    centroid_filter: str = "vec_id % 64 = 7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    carry_vec: bool = False,
) -> DataFrame:
    """IVF coarse quantization: every vector assigned to its highest-cosine
    centroid (ties → smallest centroid_id).

    Returns (id, centroid_id) — plus the vector itself when ``carry_vec``
    (riding inside the max(struct) aggregate, so consumers that need
    (vector, cluster) together — Lloyd means, cluster-restricted search —
    skip an entire corpus self-join shuffle). The centroid set is tiny →
    broadcast; the argmax is a partial-aggregating groupBy that map-side-
    combines the N×C expansion down to ONE row per vector before any
    exchange — unlike a row_number window, which would sort-shuffle all
    N×C rows."""
    if centroids is None:
        centroids = ivf_seed_centroids(embeddings, centroid_filter, id_col, vec_col)
    cent = centroids.select("centroid_id", "cvec", norm(F.col("cvec")).alias("cnorm"))
    # the N×C scoring expansion below is the hot loop — widen a
    # scan-starved corpus first (no-op on production inputs)
    scored = (
        widen_small_scan(embeddings)
        .select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("vnorm"))
        .join(F.broadcast(cent))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id"),
            F.round(
                dot(F.col(vec_col), F.col("cvec")) / (F.col("vnorm") * F.col("cnorm")), 9,
            ).alias("ccos"),
        )
    )
    # max of (ccos, -centroid_id) == highest cosine, ties to smallest id.
    # max(struct) rather than max_by: both are partial-aggregating, but
    # max(struct) is a DeclarativeAggregate that stays inside whole-stage
    # codegen (measured ~1.7× faster on the expansion)
    struct_fields = [
        F.col("ccos"),
        (-F.col("centroid_id")).alias("_nc"),
        F.col("centroid_id").alias("centroid_id"),
    ]
    if carry_vec:
        struct_fields.append(F.col(vec_col).alias("_vec"))
    out_cols = [F.col(id_col), F.col("_best.centroid_id").alias("centroid_id")]
    if carry_vec:
        out_cols.append(F.col("_best._vec").alias(vec_col))
    return scored.groupBy(id_col).agg(
        F.max(F.struct(*struct_fields)).alias("_best"),
    ).select(*out_cols)


def ivf_refine_centroids(
    embeddings: DataFrame,
    centroid_filter: str = "vec_id % 64 = 7",
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-iteration refinement of the deterministic seeds.

    Each iteration: assign (broadcast centroids + max_by argmax — no
    corpus shuffle) → new centroid = element-wise mean of its members
    (posexplode + map-side-combined per-(centroid, dim) partial sums).
    Empty clusters keep their previous centroid.

    Mean arithmetic is deterministic cross-engine: components are summed
    exactly as DECIMAL(38,12) and a single double division by the member
    count happens at the end (float summation order never matters).
    """
    centroids = ivf_seed_centroids(embeddings, centroid_filter, id_col, vec_col)
    for _ in range(iterations):
        # carry_vec: the member vectors ride through the assignment
        # aggregate, so the means step needs NO corpus self-join (one
        # shuffle per iteration instead of two corpus-sized ones)
        assigned = ivf_assign(
            embeddings, id_col=id_col, vec_col=vec_col, centroids=centroids, carry_vec=True,
        )
        members = assigned.select(
            "centroid_id", F.posexplode(F.col(vec_col)).alias("_d", "_x"),
        )
        means = (
            members.groupBy("centroid_id", "_d")
            .agg(
                (
                    # float → double → decimal: Spark's direct float→decimal
                    # cast goes through the float's 9-digit shortest string,
                    # which diverges from engines that widen via double first
                    F.sum(F.col("_x").cast("double").cast("decimal(38,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("_m"),
            )
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("_d"), F.col("_m")))),
                    lambda s: s["_m"],
                ).alias("mvec"),
            )
        )
        centroids = (
            centroids.join(means, "centroid_id", "left")
            .select("centroid_id", F.coalesce("mvec", "cvec").alias("cvec"))
            # materialize each iteration: centroids are tiny (C × dim), and
            # without this every downstream reference re-executes ALL prior
            # assign+mean rounds (lineage doubles per iteration)
            .localCheckpoint(eager=False)
        )
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    centroid_filter: str = "vec_id % 64 = 7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: candidates restricted to the vectors assigned to the
    ``nprobe`` centroids nearest the query vector.

    nprobe=1 searches only the query's own cluster; larger nprobe trades
    compute for recall. The probe list is centroid-sized (tiny, driver-safe)
    and broadcast; the corpus is touched once through the assignment join.
    """
    if centroids is None:
        centroids = ivf_seed_centroids(embeddings, centroid_filter, id_col, vec_col)
    # carry_vec: assignment output already holds (id, centroid, vector) —
    # no corpus self-join to recover the vectors for the cluster search
    clustered = ivf_assign(
        embeddings, id_col=id_col, vec_col=vec_col, centroids=centroids, carry_vec=True,
    )
    qvec = embeddings.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("_qvec"))
    probes = (
        centroids.join(F.broadcast(qvec))
        .select(
            "centroid_id",
            F.round(cosine(F.col("cvec"), F.col("_qvec")), 9).alias("_qcos"),
        )
        .orderBy(F.desc("_qcos"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    return (
        clustered.join(F.broadcast(probes), "centroid_id")
        .join(F.broadcast(qvec))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 9).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def multiprobe_assign(
    embeddings: DataFrame,
    nprobe: int = 2,
    centroid_filter: str = "vec_id % 64 = 7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its ``nprobe`` highest-cosine centroids
    (ties → smaller centroid id). Returns (id, vec, centroid_id) with one
    row per (vector, probe).

    The rank-limit filter executes as ``WindowGroupLimit``: each task
    keeps a per-vector heap of size nprobe BEFORE the shuffle, so the
    N×C expansion collapses to N×nprobe rows on the map side.
    """
    from pyspark.sql.window import Window as W

    cent = ivf_seed_centroids(embeddings, centroid_filter, id_col, vec_col)
    cent = cent.select("centroid_id", "cvec", norm(F.col("cvec")).alias("cnorm"))
    scored = (
        embeddings.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("vnorm"))
        .join(F.broadcast(cent))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id"),
            F.round(
                dot(F.col(vec_col), F.col("cvec")) / (F.col("vnorm") * F.col("cnorm")), 9,
            ).alias("ccos"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("centroid_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(id_col, vec_col, "centroid_id")
    )


def semantic_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    nprobe: int = 2,
    centroid_filter: str = "vec_id % 64 = 7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_groups: int = 8,
    max_bucket_rows: int = 100_000,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs blocked by IVF clusters instead of a
    metadata label: the scale path when no natural blocking column exists.

    Each vector lands in its ``nprobe`` nearest clusters (multi-probe
    cuts the boundary-miss rate — a pair split across two clusters still
    meets if EITHER assignment overlaps); candidate pairs form only
    inside a cluster, so cost is Σ|cluster|²·nprobe² instead of N².
    Pairs that meet in several shared clusters are de-duplicated (their
    cos_sim is identical, so ``distinct`` is exact).

    NOTE the centroid set here grows as corpus/64 (measured α=1.22 at
    sf1) — this variant is exact-by-construction ground truth. The
    inherited ``max_bucket_rows`` guard makes a corpus-scale launch
    raise instead of running O(N²/64); `banded_near_dup_pairs` is the
    measured-linear production path (α=0.30).
    """
    assigned = multiprobe_assign(embeddings, nprobe, centroid_filter, id_col, vec_col)
    pairs = near_dup_pairs_by_label(
        assigned,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="centroid_id",
        salt_groups=salt_groups,
        max_bucket_rows=max_bucket_rows,
        allow_quadratic=allow_quadratic,
    )
    return pairs.distinct()


def embedding_outlier_scores(
    embeddings: DataFrame,
    centroid_filter: str = "vec_id % 64 = 7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector outlier score = 1 − cosine to the nearest coarse
    centroid: vectors far from every cluster are candidate junk
    (mis-embedded, corrupted, off-distribution) — the embedding-space
    analogue of text quality filtering.

    Same partial-aggregating argmax shape as :func:`ivf_assign` — the
    N×C expansion folds map-side; one shuffle keyed by the vector id.
    """
    cent = ivf_seed_centroids(embeddings, centroid_filter, id_col, vec_col)
    cent = cent.select("centroid_id", "cvec", norm(F.col("cvec")).alias("cnorm"))
    scored = (
        widen_small_scan(embeddings)
        .select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("vnorm"))
        .join(F.broadcast(cent))
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            F.round(
                dot(F.col(vec_col), F.col("cvec")) / (F.col("vnorm") * F.col("cnorm")), 9,
            ).alias("ccos"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("ccos"),
                (-F.col("centroid_id")).alias("_nc"),
                F.col("centroid_id").alias("centroid_id"),
            ),
        ).alias("_best"),
    )
    return best.select(
        id_col,
        F.col("_best.centroid_id").alias("centroid_id"),
        F.round(1.0 - F.col("_best.ccos"), 9).alias("outlier_score"),
    )


def hybrid_filtered_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_id: int,
    keyword: str,
    k: int = 10,
    doc_id_col: str = "doc_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    text_col: str = "text",
) -> DataFrame:
    """Pre-filtered vector search: a metadata/text predicate prunes the
    candidate set BEFORE any vector math, then exact cosine ranks the
    survivors (filter-then-rank — the production hybrid-search shape;
    post-filtering a fixed-k ANN result under-returns when the filter is
    selective).

    The doc filter is a semi-join (no payload duplication), the query
    vector broadcasts, and the top-k is ``TakeOrderedAndProject`` — no
    global sort.
    """
    keep = docs.filter(F.col(text_col).contains(keyword)).select(
        F.col(doc_id_col).alias(id_col)
    )
    qvec = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"), norm(F.col(vec_col)).alias("_qn")
    )
    cand = (
        embeddings.join(keep, id_col, "semi")
        .filter(F.col(id_col) != query_id)
        .join(F.broadcast(qvec))
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), F.col("_qv")) / (norm(F.col(vec_col)) * F.col("_qn")), 9,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def two_stage_rerank_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Retrieve-then-rerank: a cheap int8-quantized pass selects
    ``candidates`` coarse winners, then exact float cosine reranks only
    those down to the final top-k — the canonical production ANN shape
    (coarse quantizer + exact refinement, as in Faiss IndexIVF + refine).

    The 100 TB rationale: the expensive exact scoring touches only
    ``candidates`` rows instead of the corpus. Stage 1 scans the 4×-smaller
    quantized representation and reduces via ``TakeOrderedAndProject``
    (per-partition heap, driver merges ``candidates`` rows); stage 2 is a
    broadcast semi-join of that tiny winner set back to the float vectors.
    Candidate selection ties break on id, so the result is deterministic
    cross-engine.
    """
    coarse = quantized_topk(embeddings, query_id, k=candidates, id_col=id_col, vec_col=vec_col)
    winner_ids = coarse.select(id_col)
    qvec = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"), norm(F.col(vec_col)).alias("_qn"),
    )
    return (
        embeddings.join(F.broadcast(winner_ids), id_col, "semi")
        .join(F.broadcast(qvec))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), F.col("_qv")) / (norm(F.col(vec_col)) * F.col("_qn")), 9,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 8,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss style dense random projection to ``out_dim``
    dimensions using the same deterministic md5-derived hyperplanes as
    :func:`sign_lsh_bucket` (components in [-1, 1), no RNG state — any
    engine reproduces them bit-for-bit).

    The 100 TB rationale: an 8×-smaller vector column shrinks every
    downstream scan, shuffle, and cache; the projection is a pure per-row
    expression over Python-precomputed literal constants — zero UDFs,
    zero shuffles.

    The planes are emitted as ONE literal matrix folded with
    ``zip_with``+``aggregate`` rather than an unrolled ``out_dim×in_dim``
    multiply-add chain. Measured at 8×64 on 50k rows: the unrolled chain
    generates a codegen method so large that Janino takes ~7 s to compile
    it AND HotSpot refuses to JIT it (huge-method bailout), making it 2×
    slower than the higher-order-function fold even steady-state (0.19 s
    vs 0.09 s/run). Both shapes produce bit-identical doubles (same
    left-to-right add order — pinned by a test).
    """
    src = widen_small_scan(embeddings)
    planes = F.array(
        *[
            F.array(*[F.lit(lsh_plane_component(p, d)) for d in range(in_dim)])
            for p in range(out_dim)
        ],
    )
    comp = F.transform(
        planes,
        lambda plane: F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda v, c: v.cast("double") * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return src.select(F.col(id_col), comp.alias(out_col))


def projected_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    out_dim: int = 8,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k in the random-projection space — the
    reduced-dimension approximation of full-vector search (JL preserves
    pairwise angles to within epsilon, so projected cosine rank-correlates
    with true cosine).

    Same scale shape as :func:`bruteforce_topk`: broadcast single-row
    query, embarrassingly-parallel scan over the (now 8× narrower)
    vectors, partial-heap ``TakeOrderedAndProject`` top-k.
    """
    proj = random_projection(embeddings, out_dim, in_dim, id_col, vec_col)
    query = proj.filter(F.col(id_col) == query_id).select(
        F.col("proj").alias("_qp"), norm(F.col("proj")).alias("_qn"),
    )
    return (
        proj.filter(F.col(id_col) != query_id)
        .join(F.broadcast(query))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col("proj"), F.col("_qp")) / (norm(F.col("proj")) * F.col("_qn")), 9,
            ).alias("pcos_sim"),
        )
        .orderBy(F.desc("pcos_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_classify(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-nearest-neighbour label vote: for each query vector, the
    majority label among its k highest-cosine neighbours (ties →
    smallest label). The label-propagation / auto-labeling primitive for
    semi-supervised corpus curation.

    Scale shape: the query set broadcasts against one corpus scan; the
    per-query top-k runs as ``WindowGroupLimit`` (pre-shuffle partial
    heap per partition, then one shuffle keyed by query id); the vote is
    a count aggregate over ≤ ``len(query_ids)×k`` rows. Neighbour ties
    at rank k break on (cos desc, id asc), vote ties on (votes desc,
    label asc) — fully deterministic.
    """
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    scored = (
        widen_small_scan(embeddings)
        .join(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("_qid"))
        .select(
            F.col("_qid"),
            F.col(id_col),
            F.col(label_col),
            F.round(
                dot(F.col(vec_col), F.col("_qv")) / (norm(F.col(vec_col)) * F.col("_qn")), 9,
            ).alias("_cos"),
        )
    )
    w = W.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc(id_col))
    neighbours = scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k)
    votes = neighbours.groupBy("_qid", label_col).agg(F.count(F.lit(1)).alias("votes"))
    best = votes.groupBy("_qid").agg(
        F.max(F.struct(F.col("votes"), (-F.col(label_col)).alias("_nl"), F.col(label_col).alias("_lbl"))).alias("_b"),
    )
    return best.select(
        F.col("_qid").alias(id_col),
        F.col("_b._lbl").alias("knn_label"),
        F.col("_b.votes").alias("votes"),
    )


def _l2sq(a, b):
    """Squared L2 distance as a left-to-right double fold (both engines
    fold list_sum/aggregate in array order; 0.0 + t1 == t1 exactly, so
    the seeded fold matches DuckDB's unseeded list_sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_subvectors(embeddings, m, d_sub, id_col, vec_col):
    """(id, m, sv): corpus split into m contiguous subvectors, elements
    cast to double up front (float→double→decimal is the cross-engine-
    stable widening chain — see ivf_refine_centroids)."""
    slices = F.array(
        *[
            F.transform(
                F.slice(F.col(vec_col), mi * d_sub + 1, d_sub),
                lambda x: x.cast("double"),
            )
            for mi in range(m)
        ]
    )
    return widen_small_scan(embeddings).select(
        F.col(id_col).alias("_id"),
        F.posexplode(slices).alias("_m", "_sv"),
    )


def _pq_assign(subs, codebooks):
    """Per-(vector, subspace) nearest code by squared L2 (ties → smallest
    code id) — broadcast codebooks, min(struct) partial-aggregating argmin
    (same scale shape as ivf_assign: the N×K expansion combines map-side
    to one row per (vector, subspace) before any exchange)."""
    scored = subs.join(F.broadcast(codebooks), "_m").select(
        "_id",
        "_m",
        "_sv",
        F.col("code_id"),
        F.round(_l2sq(F.col("_sv"), F.col("cvec")), 9).alias("_d"),
    )
    return (
        scored.groupBy("_id", "_m")
        .agg(
            F.min(F.struct(F.col("_d"), F.col("code_id"))).alias("_best"),
            # _sv is identical across the K scored rows of one group —
            # first() is deterministic here by construction
            F.first("_sv").alias("_sv"),
        )
        .select("_id", "_m", F.col("_best.code_id").alias("code_id"), "_sv")
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    dim: int = 64,
    seed_filter: str = "vec_id % 64 = 5",
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11): the vector space is split
    into ``m`` orthogonal subspaces and each gets an independent k-means
    codebook, so ``m`` 1-byte codes replace a ``dim``-float vector —
    the memory-side complement of IVF's candidate pruning (a 100-TB
    embedding corpus becomes ~1.5 TB of codes that FIT IN CLUSTER RAM).

    Deterministic like the IVF stack: fixed-id seeds stand in for
    k-means++ and Lloyd means are exact decimal sums, so any engine
    reproduces the codebooks bit-for-bit. Per iteration: one broadcast
    assign (no corpus shuffle) + one (m·K·d_sub)-sized means aggregation.
    Empty codes keep their previous centroid.
    """
    d_sub = dim // m
    subs = _pq_subvectors(embeddings, m, d_sub, id_col, vec_col)
    # seeds: filter the corpus FIRST, then expand subvectors — expanding
    # the whole corpus and joining seed ids afterwards can't push the
    # filter below the generate, so it cost a full corpus scan+explode
    # for a K-row result (r8 job audit)
    codebooks = _pq_subvectors(
        embeddings.filter(seed_filter), m, d_sub, id_col, vec_col
    ).select(
        "_m", F.col("_id").alias("code_id"), F.col("_sv").alias("cvec")
    ).localCheckpoint(eager=False)
    for _ in range(iterations):
        assigned = _pq_assign(subs, codebooks)
        members = assigned.select(
            "_m", "code_id", F.posexplode("_sv").alias("_d", "_x")
        )
        means = (
            members.groupBy("_m", "code_id", "_d")
            .agg(
                (
                    F.sum(F.col("_x").cast("decimal(38,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("_mu"),
            )
            .groupBy("_m", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("_d"), F.col("_mu")))),
                    lambda s: s["_mu"],
                ).alias("mvec"),
            )
        )
        codebooks = (
            codebooks.join(means, ["_m", "code_id"], "left")
            .select("_m", "code_id", F.coalesce("mvec", "cvec").alias("cvec"))
            .localCheckpoint(eager=False)
        )
    return codebooks


def pq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 4,
    dim: int = 64,
    seed_filter: str = "vec_id % 64 = 5",
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): the query stays
    un-quantized, each corpus vector is its ``m`` codes, and distance is
    the sum of per-subspace query→codeword distances from an
    (m·K)-row lookup table — broadcast, so scoring the whole corpus is a
    code-table join + a per-id sum, NO vector arithmetic per corpus row.
    Distances accumulate as exact decimals (sum order can't matter);
    ties break by id.
    """
    d_sub = dim // m
    codebooks = pq_codebooks(
        embeddings, m, dim, seed_filter, iterations, id_col, vec_col
    )
    subs = _pq_subvectors(embeddings, m, d_sub, id_col, vec_col)
    codes = _pq_assign(subs, codebooks).select("_id", "_m", "code_id")
    # query subvectors: filter to the one query row BEFORE expanding
    # (id pushdown reaches the parquet scan; the explode is then 1 row)
    q_subs = _pq_subvectors(
        embeddings.filter(F.col(id_col) == query_id), m, d_sub, id_col, vec_col
    ).select("_m", F.col("_sv").alias("_qsv"))
    dtab = q_subs.join(codebooks, "_m").select(
        "_m",
        "code_id",
        F.round(_l2sq(F.col("_qsv"), F.col("cvec")), 9).alias("_qd"),
    )
    return (
        codes.join(F.broadcast(dtab), ["_m", "code_id"])
        .groupBy("_id")
        .agg(F.sum(F.col("_qd").cast("decimal(38,9)")).cast("double").alias("approx_l2"))
        .filter(F.col("_id") != query_id)
        .select(F.col("_id").alias(id_col), "approx_l2")
        .orderBy(F.asc("approx_l2"), F.asc(id_col))
        .limit(k)
    )


def embedding_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic benchmark decontamination: flag corpus vectors whose
    cosine to ANY benchmark vector reaches ``threshold`` — the embedding
    complement of n-gram decontamination (`llm/dedup.py
    benchmark_contamination`), catching paraphrased or translated eval
    leakage that shares no shingles with the benchmark text.

    Returns (id, max_bench_cos, contaminated) for every corpus vector.
    The benchmark side is small by definition → broadcast; the corpus is
    scanned once, scored against each benchmark vector JVM-side, and
    max-aggregated with map-side combine. NO similarity-join machinery
    needed because the right side is benchmark-sized, not corpus-sized —
    for corpus×corpus semantics use ``semantic_near_dup_pairs``.
    """
    bench = benchmark.select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_bvec"),
        norm(F.col(vec_col)).alias("_bnorm"),
    )
    scored = (
        widen_small_scan(corpus)
        .select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_vnorm"))
        .join(F.broadcast(bench))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), F.col("_bvec")) / (F.col("_vnorm") * F.col("_bnorm")),
                9,
            ).alias("_cos"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.max("_cos").alias("max_bench_cos"))
        .select(
            id_col,
            "max_bench_cos",
            (F.col("max_bench_cos") >= threshold).alias("contaminated"),
        )
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame | None = None,
    m: int = 4,
    dim: int = 64,
    seed_filter: str = "vec_id % 64 = 5",
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize the corpus to PQ codes: ``(id, m, code_id)`` — one row per
    (vector, subspace), the storage format that replaces ``dim`` floats
    with ``m`` small ints (what actually gets persisted for a 100-TB
    corpus; ``pq_topk`` then searches it with a broadcast distance
    table). Pass ``codebooks`` from :func:`pq_codebooks` to reuse trained
    codebooks across incremental ingests — encoding new batches with the
    FROZEN codebooks is what keeps old and new codes comparable."""
    d_sub = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(
            embeddings, m, dim, seed_filter, iterations, id_col, vec_col
        )
    subs = _pq_subvectors(embeddings, m, d_sub, id_col, vec_col)
    return _pq_assign(subs, codebooks).select(
        F.col("_id").alias(id_col), F.col("_m").alias("m"), "code_id"
    )


def kcenter_coreset(
    embeddings: DataFrame,
    k: int = 8,
    start_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez's 2-approximation —
    the diversity-sampling primitive behind active learning and "select
    the most representative N examples" data curation): start from one
    point, then repeatedly add the point FARTHEST from everything chosen
    so far (max min-squared-L2, ties to the smallest id). Returns
    ``(round, id, min_dist_sq)`` — ``min_dist_sq`` is the selected
    point's distance to the previously-chosen set (round 0 → 0.0),
    i.e. the classic decreasing coverage-radius curve.

    Scale shape: each of the ``k`` rounds is one corpus pass — the newest
    center is BROADCAST (1 row), the running min-distance column updates
    per-row, and the argmax is a 1-row ``max(struct)`` aggregate pulled
    to the driver (a bounded scalar probe, k of them total). State rides
    in a localCheckpointed (id, vec, min_dist) frame, so the plan stays
    constant-size. O(k·corpus) work — the standard trade for exact greedy
    k-center; use IVF/PQ blocking first if k must be large.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    state = widen_small_scan(embeddings).select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        F.lit(float("inf")).alias("_d"),
    ).localCheckpoint(eager=False)
    if start_id is None:
        start_id = state.agg(F.min("_id")).collect()[0][0]
    picked = [(0, start_id, 0.0)]
    for rnd in range(1, k):
        center = state.filter(F.col("_id") == picked[-1][1]).select(
            F.col("_v").alias("_cv")
        )
        state = state.join(F.broadcast(center)).select(
            "_id",
            "_v",
            F.least(F.col("_d"), F.round(_l2sq(F.col("_v"), F.col("_cv")), 9)).alias("_d"),
        ).localCheckpoint(eager=False)
        # exclude EVERY picked id (not just the newest): in a corpus of
        # exact duplicates all distances tie at 0 and an already-picked
        # point would otherwise win the smallest-id tie-break again
        chosen = [p[1] for p in picked]
        far = (
            state.filter(~F.col("_id").isin(chosen))
            .agg(F.max(F.struct(F.col("_d"), (-F.col("_id")).alias("_ni"), F.col("_id"))).alias("_b"))
            .collect()[0]["_b"]
        )
        if far is None:  # corpus exhausted before k centers
            break
        picked.append((rnd, far["_id"], float(far["_d"])))
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        picked, f"round long, {id_col} long, min_dist_sq double"
    )


def label_noise_rate(
    embeddings: DataFrame,
    sample_filter: str = "vec_id % 10 = 0",
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise screening (Confident-Learning-style neighborhood
    disagreement): for a deterministic sample of labeled vectors, compare
    each one's own label against the majority label of its k nearest
    neighbours; report per-label sample size, disagreement count, and
    noise rate. Labels whose neighborhoods systematically vote otherwise
    are the mislabeled / ambiguous strata to re-annotate first.

    Scale shape: the SAMPLE broadcasts against one corpus scan (size it
    with ``sample_filter``; at full-corpus scale run the kNN through the
    IVF-blocked path instead), per-query top-k as the WindowGroupLimit
    partial heap, vote + disagreement as count aggregates. Ties break as
    in :func:`knn_classify`.
    """
    queries = embeddings.filter(sample_filter).select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
        F.col(label_col).alias("_own"),
    )
    scored = (
        widen_small_scan(embeddings)
        .join(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("_qid"))
        .select(
            "_qid",
            "_own",
            F.col(id_col),
            F.col(label_col),
            F.round(
                dot(F.col(vec_col), F.col("_qv")) / (norm(F.col(vec_col)) * F.col("_qn")), 9,
            ).alias("_cos"),
        )
    )
    w = W.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc(id_col))
    neighbours = scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k)
    votes = neighbours.groupBy("_qid", "_own", label_col).agg(
        F.count(F.lit(1)).alias("_votes")
    )
    best = votes.groupBy("_qid", "_own").agg(
        F.max(
            F.struct(
                F.col("_votes"), (-F.col(label_col)).alias("_nl"),
                F.col(label_col).alias("_lbl"),
            )
        ).alias("_b"),
    )
    return (
        best.select("_own", (F.col("_b._lbl") != F.col("_own")).cast("long").alias("_dis"))
        .groupBy(F.col("_own").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum("_dis").alias("n_disagree"),
        )
        .withColumn("noise_rate", F.round(F.col("n_disagree") / F.col("n_checked"), 9))
    )


def hard_negative_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` highest-cosine corpus vectors whose label DIFFERS
    from the query's — the near-misses that teach an embedding model the
    most (easy negatives are already far away).

    Scale shape: identical to :func:`knn_classify` — the query set (with
    labels) broadcasts against ONE corpus scan, the different-label
    predicate filters scan-side, and the per-query top-k runs as a
    ``WindowGroupLimit`` partial heap before the only shuffle (keyed by
    query id). Output is ``len(query_ids) × k`` rows. Deterministic:
    rank ties break (cos desc, id asc).
    """
    # zero-norm vectors (failed encoder outputs) are excluded on BOTH
    # sides: under ANSI mode the 0/0 cosine would abort the job, and a
    # norm-less vector has no meaningful similarity anyway
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("_qid"),
            F.col(label_col).alias("_qlabel"),
            F.col(vec_col).alias("_qv"),
            norm(F.col(vec_col)).alias("_qn"),
        )
        .filter(F.col("_qn") > 0)
    )
    scored = (
        widen_small_scan(embeddings)
        .select(
            F.col(id_col),
            F.col(label_col),
            F.col(vec_col),
            norm(F.col(vec_col)).alias("_vn"),
        )
        .filter(F.col("_vn") > 0)
        .join(F.broadcast(queries))
        .filter(F.col(label_col) != F.col("_qlabel"))
        .select(
            F.col("_qid"),
            F.col(id_col).alias("neg_id"),
            F.col(label_col).alias("neg_label"),
            F.round(
                dot(F.col(vec_col), F.col("_qv")) / (F.col("_vn") * F.col("_qn")),
                9,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("_qid").orderBy(F.desc("cos_sim"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            "neg_id",
            "neg_label",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def mmr_rerank_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 5,
    candidates: int = 16,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversified
    top-k: greedily pick the candidate maximizing
    ``lam*relevance - (1-lam)*max_similarity_to_already_selected`` — the
    standard retrieve-then-diversify reranker (dedupes near-identical
    hits a plain top-k would return k times).

    Scale shape: relevance scores come from ONE distributed corpus scan
    (broadcast 1-row query, TakeOrdered partial heap keeps only the
    ``candidates`` best); the candidate×candidate similarity matrix is
    computed distributed on the tiny candidate set and collected —
    BOUNDED at ``candidates²`` rows by construction (the rerank window
    of a retrieval system, 16-200 in practice), never corpus-sized. The
    greedy loop then runs driver-side over that matrix, exactly like a
    production reranker runs on the retrieval head's output. Relevance
    and pairwise similarities round to 9 decimals; the lam-combination
    stays un-re-rounded IEEE arithmetic, so any engine reproduces the
    selection bit-for-bit.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr_rerank_topk: lam must be in [0, 1], got {lam}")
    spark = embeddings.sparkSession
    # zero-norm guard (ANSI 0/0 aborts; NULL relevance would poison the
    # driver loop): a zero-norm query yields an empty result, zero-norm
    # candidates are excluded
    q = (
        embeddings.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("_qv"), norm(F.col(vec_col)).alias("_qn"))
        .filter(F.col("_qn") > 0)
    )
    rel = (
        widen_small_scan(embeddings)
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            norm(F.col(vec_col)).alias("_vn"),
        )
        .filter(F.col("_vn") > 0)
        .join(F.broadcast(q))
        .select(
            F.col("_id"),
            F.col("_v"),
            F.round(
                dot(F.col("_v"), F.col("_qv")) / (F.col("_vn") * F.col("_qn")),
                9,
            ).alias("_rel"),
        )
        .orderBy(F.desc("_rel"), F.asc("_id"))
        .limit(candidates)
        # the candidate frame feeds BOTH the pairwise-sim join and the
        # score collect; checkpointing its `candidates` rows eagerly costs
        # nothing and stops the corpus scan from running twice
        .localCheckpoint(eager=False)
    )
    a, b = rel.alias("a"), rel.alias("b")
    sims = (
        a.join(b, F.col(f"a._id") < F.col(f"b._id"))
        .select(
            F.col("a._id").alias("x"),
            F.col("b._id").alias("y"),
            F.round(
                dot(F.col("a._v"), F.col("b._v"))
                / (norm(F.col("a._v")) * norm(F.col("b._v"))),
                9,
            ).alias("s"),
        )
        .collect()
    )
    rel_rows = rel.select("_id", "_rel").collect()
    rel_map = {r["_id"]: r["_rel"] for r in rel_rows}
    sim = {}
    for r in sims:
        sim[(r["x"], r["y"])] = r["s"]
        sim[(r["y"], r["x"])] = r["s"]

    selected: list[tuple[int, int, float]] = []  # (rank, id, score)
    remaining = set(rel_map)
    while remaining and len(selected) < k:
        best_id, best_score = None, None
        for cid in remaining:
            if selected:
                max_sim = max(sim.get((cid, s[1]), 0.0) for s in selected)
            else:
                max_sim = 0.0
            # no re-rounding: rel and sim are 9-rounded, and the lam
            # combination of two such doubles is deterministic IEEE
            # arithmetic any engine reproduces (a decimal re-round here
            # would hit Python half-even vs SQL half-away on exact .5s)
            score = lam * rel_map[cid] - (1.0 - lam) * max_sim
            if (
                best_id is None
                or score > best_score
                or (score == best_score and cid < best_id)
            ):
                best_id, best_score = cid, score
        selected.append((len(selected) + 1, best_id, best_score))
        remaining.discard(best_id)
    return spark.createDataFrame(
        [(r, i, rel_map[i], s) for r, i, s in selected],
        f"rank int, {id_col} long, relevance double, mmr_score double",
    )


def label_centroid_similarity(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Class-separability report: the pairwise cosine similarity between
    per-label centroid vectors (plus both class sizes) — high
    centroid-centroid cosine means the embedding space barely separates
    those classes, the first thing to check before trusting kNN labels
    or training a probe head.

    Scale shape: ONE corpus scan exploded to (label, dim, value) rows —
    map-side combined into |labels|×dim partial sums, so the shuffle is
    centroid-sized, never corpus-sized; means are decimal-exact then
    double (the ivf_refine_centroids discipline); the pairwise matrix is
    |labels|² rows of pure JVM array math. No driver loops, no UDFs.
    """
    dims = embeddings.select(
        F.col(label_col).alias("_lbl"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_i", "_x"),
    )
    cent = dims.groupBy("_lbl", "_i").agg(
        (
            F.sum(F.col("_x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_mu"),
        (F.count(F.lit(1))).alias("_n"),
    )
    vecs = cent.groupBy("_lbl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_mu"))), lambda s: s["_mu"]
        ).alias("_cv"),
        F.max("_n").alias("_cnt"),
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    return (
        a.join(F.broadcast(b), F.col("a._lbl") < F.col("b._lbl"))
        .select(
            F.col("a._lbl").alias("label_a"),
            F.col("b._lbl").alias("label_b"),
            F.col("a._cnt").alias("n_a"),
            F.col("b._cnt").alias("n_b"),
            F.round(
                dot(F.col("a._cv"), F.col("b._cv"))
                / (norm(F.col("a._cv")) * norm(F.col("b._cv"))),
                9,
            ).alias("centroid_cos"),
        )
    )


def top_principal_component(
    embeddings: DataFrame,
    iterations: int = 3,
    vec_col: str = "embedding",
    persist: "StorageLevel | None" = None,
) -> DataFrame:
    """Top principal component of the embedding cloud by power iteration
    — the first step of PCA whitening / spectral de-biasing ("all-but-
    the-top" removes exactly this direction), and the classic
    matrix-free distributed eigensolver: the covariance matrix is NEVER
    materialized; each iteration computes ``C·v`` as
    ``Σ_i ((x_i−μ)·v)·(x_i−μ)`` in one corpus scan.

    Scale shape: one scan per iteration over the CENTERED frame, which
    is staged once (mu is fixed after the mean pass); pass
    ``persist=StorageLevel.MEMORY_AND_DISK`` to cache it so iterations
    2+ and the final Rayleigh pass read the cache instead of re-scanning
    the corpus (unpersisted before returning). Per row the work is two
    d-length folds; the only shuffle is the d-row per-dimension reduce.
    The d-vector round-trips through the driver between iterations —
    d-bounded, the kcenter/MMR class of probe.

    Exactness: per-row terms round to 9 and accumulate as exact
    decimals (order-independent sums); dot folds run in array order
    (both engines fold lists left-to-right); normalization + rounding
    happen on the driver in IEEE double with a pinned fold order and
    Spark's HALF_UP rounding of the shortest repr (``_spark_round9``),
    so an external SQL engine doing them as expressions reproduces the
    whole trajectory bit-for-bit. Returns one row per dimension
    ``(dim, component, eigenvalue)`` — eigenvalue is the Rayleigh
    quotient of the RETURNED component (one extra s-pass with the final
    iterate, so the pair is consistent even before convergence),
    constant across rows.
    """
    spark = embeddings.sparkSession
    # NULL payload rows are excluded up front (posexplode would silently
    # drop them from the means while a separate count() kept them in the
    # eigenvalue denominator — diverging from any oracle)
    embeddings = widen_small_scan(embeddings.filter(F.col(vec_col).isNotNull()))

    dims = embeddings.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_i", "_x")
    )
    # n and d fall out of the mean pass for free — no extra first()/count()
    # collect unsorted + sort the d rows driver-side: an orderBy before a
    # d-row collect costs a range exchange plus its sampling job per pass
    mu_rows = sorted(
        dims.groupBy("_i")
        .agg(
            (
                F.sum(F.col("_x").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_mu"),
            F.count(F.lit(1)).alias("_n"),
        )
        .collect(),
        key=lambda r: r["_i"],
    )
    if not mu_rows:
        raise ValueError("top_principal_component: empty input")
    mu = [r["_mu"] for r in mu_rows]
    d = len(mu_rows)
    n_vecs = int(mu_rows[0]["_n"])

    def lit_arr(values):
        return F.array(*[F.lit(float(x)) for x in values])

    # centering depends only on mu — stage it ONCE; every iteration and
    # the final Rayleigh pass scan this frame (cached when persist is set)
    centered_df = embeddings.select(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            lit_arr(mu),
            lambda x, m: x - m,
        ).alias("_c")
    )
    if persist is not None:
        centered_df = centered_df.persist(persist)

    def s_expr(vec):
        return F.aggregate(
            F.zip_with(F.col("_c"), lit_arr(vec), lambda c, vv: c * vv),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    try:
        v = [1.0] + [0.0] * (d - 1)
        for _ in range(iterations):
            staged = centered_df.select(F.col("_c"), s_expr(v).alias("_s"))
            terms = staged.select(
                F.posexplode("_c").alias("_j", "_cj"),
                F.col("_s"),
            ).select(
                "_j",
                F.round(F.col("_s") * F.col("_cj"), 9)
                .cast("decimal(30,9)")
                .alias("_t"),
            )
            red = sorted(
                terms.groupBy("_j")
                .agg(F.sum("_t").cast("double").alias("_w"))
                .collect(),
                key=lambda r: r["_j"],
            )
            w = [r["_w"] for r in red]
            # normalize + round DRIVER-SIDE, engine-identically, fusing
            # away the former 1-row spark.range(1) normalize job (one
            # scheduling round-trip per iteration, r12 verdict item 8):
            # the fold/sqrt/divide are IEEE-double ops with a pinned
            # order, so Python reproduces the Spark expressions bit-for-
            # bit, and F.round's semantics (HALF_UP over the double's
            # SHORTEST decimal repr — BigDecimal.valueOf) are exactly
            # Decimal(repr(x)).quantize(1e-9, ROUND_HALF_UP), the repo's
            # _ref_fsig convention (CLAUDE.md float discipline).
            nrm = 0.0
            for x in w:  # left-to-right fold = F.aggregate order
                nrm += x * x
            nrm = math.sqrt(nrm)
            if nrm == 0.0:  # degenerate iterate; the old shape errored too
                raise ValueError("top_principal_component: zero-norm iterate")
            v = [_spark_round9(x / nrm) for x in w]

        # Rayleigh quotient of the FINAL iterate: vᵀCv = (Σ s_i²) / n —
        # one extra s-pass so eigenvalue pairs with the returned component
        ss_row = centered_df.select(
            F.round(s_expr(v) * s_expr(v), 9).cast("decimal(30,9)").alias("_s2")
        ).agg(F.sum("_s2").cast("double").alias("_ss")).collect()[0]
        eigenvalue = float(ss_row["_ss"]) / n_vecs
    finally:
        if persist is not None:
            centered_df.unpersist()

    eig = F.round(F.lit(eigenvalue), 9)
    return spark.range(d).select(
        F.col("id").cast("int").alias("dim"),
        F.element_at(lit_arr(v), (F.col("id") + 1).cast("int")).alias("component"),
        eig.alias("eigenvalue"),
    )


def top_two_principal_components(
    embeddings: DataFrame,
    iterations: int = 3,
    vec_col: str = "embedding",
    persist: "StorageLevel | None" = None,
) -> DataFrame:
    """Top TWO principal components by BLOCK (orthogonal/subspace) power
    iteration: iterate a d×2 basis with per-iteration Gram-Schmidt
    instead of two sequential deflated :func:`top_principal_component`
    runs — ONE corpus scan per iteration advances BOTH directions
    (each row's two inner products s1 = (x−μ)·v1, s2 = (x−μ)·v2 come
    from the same cached centered frame), where Hotelling deflation
    costs two scans per iteration plus a full deflation pass and a
    second mean pass. Halves the scan count for the same spectral
    answer (Golub & Van Loan §8.2 orthogonal iteration).

    Exactness contract (DuckDB-reproducible, same conventions as
    :func:`top_principal_component`): per-row terms round to 9 and
    accumulate as exact decimals; all folds run in array order; the
    Gram-Schmidt scalars (norms, the w2-on-v1 projection) are plain
    IEEE-double left folds — computed driver-side, bit-identical to the
    engine folds the oracle CTEs use — and only the final normalize
    rounds (to 9) as an ENGINE expression, so SQL round-half-up
    semantics apply, not Python's round-half-even.

    Returns one row per dimension ``(dim, component1, component2,
    eigenvalue1, eigenvalue2)``; eigenvalues are Rayleigh quotients of
    the RETURNED basis (one extra s-pass computes both), constant
    across rows, and ``component2 ⊥ component1`` up to the 1e-9
    rounding of the last normalize.
    """
    spark = embeddings.sparkSession
    embeddings = widen_small_scan(embeddings.filter(F.col(vec_col).isNotNull()))

    dims = embeddings.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_i", "_x")
    )
    # collect unsorted + sort the d rows driver-side: an orderBy before a
    # d-row collect costs a range exchange plus its sampling job per pass
    mu_rows = sorted(
        dims.groupBy("_i")
        .agg(
            (
                F.sum(F.col("_x").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_mu"),
            F.count(F.lit(1)).alias("_n"),
        )
        .collect(),
        key=lambda r: r["_i"],
    )
    if not mu_rows:
        raise ValueError("top_two_principal_components: empty input")
    mu = [r["_mu"] for r in mu_rows]
    d = len(mu_rows)
    n_vecs = int(mu_rows[0]["_n"])
    if d < 2:
        raise ValueError("top_two_principal_components: need dimension >= 2")

    def lit_arr(values):
        return F.array(*[F.lit(float(x)) for x in values])

    centered_df = embeddings.select(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            lit_arr(mu),
            lambda x, m: x - m,
        ).alias("_c")
    )
    if persist is not None:
        centered_df = centered_df.persist(persist)

    def s_expr(vec):
        return F.aggregate(
            F.zip_with(F.col("_c"), lit_arr(vec), lambda c, vv: c * vv),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _fold_sum(values):
        # left fold in list order — the exact addition order of both
        # F.aggregate and the oracle's list_sum(list_transform(...))
        acc = 0.0
        for x in values:
            acc = acc + x
        return acc

    try:
        v1 = [1.0] + [0.0] * (d - 1)
        v2 = [0.0, 1.0] + [0.0] * (d - 2)
        for _ in range(iterations):
            # ONE corpus scan: both matvecs C·v1, C·v2 from the same rows
            staged = centered_df.select(
                F.col("_c"), s_expr(v1).alias("_s1"), s_expr(v2).alias("_s2")
            )
            terms = staged.select(
                F.posexplode("_c").alias("_j", "_cj"), F.col("_s1"), F.col("_s2")
            ).select(
                "_j",
                F.round(F.col("_s1") * F.col("_cj"), 9)
                .cast("decimal(30,9)")
                .alias("_t1"),
                F.round(F.col("_s2") * F.col("_cj"), 9)
                .cast("decimal(30,9)")
                .alias("_t2"),
            )
            red = sorted(
                terms.groupBy("_j")
                .agg(
                    F.sum("_t1").cast("double").alias("_w1"),
                    F.sum("_t2").cast("double").alias("_w2"),
                )
                .collect(),
                key=lambda r: r["_j"],
            )
            w1 = [r["_w1"] for r in red]
            w2 = [r["_w2"] for r in red]
            # Gram-Schmidt scalars: IEEE-double left folds (engine-identical)
            n1 = math.sqrt(_fold_sum([x * x for x in w1]))
            # v1_new needs the ENGINE round (Python round-half-even and
            # even decimal-half-up can differ from Spark's BigDecimal
            # path in the last ulp); v2's residual is built FROM the
            # rounded v1, so the tiny 1-row round-trip per vector is the
            # price of bit-exact oracle parity — not worth fusing.
            v1 = list(
                spark.range(1)
                .select(
                    F.transform(
                        lit_arr(w1), lambda x: F.round(x / F.lit(n1), 9)
                    ).alias("_v")
                )
                .collect()[0]["_v"]
            )
            pj = _fold_sum([a * b for a, b in zip(w2, v1)])
            r2 = [a - pj * b for a, b in zip(w2, v1)]
            n2 = math.sqrt(_fold_sum([x * x for x in r2]))
            v2 = list(
                spark.range(1)
                .select(
                    F.transform(
                        lit_arr(r2), lambda x: F.round(x / F.lit(n2), 9)
                    ).alias("_v")
                )
                .collect()[0]["_v"]
            )

        # Rayleigh quotients of the FINAL basis — both from one s-pass
        ss_row = (
            centered_df.select(
                F.round(s_expr(v1) * s_expr(v1), 9)
                .cast("decimal(30,9)")
                .alias("_a"),
                F.round(s_expr(v2) * s_expr(v2), 9)
                .cast("decimal(30,9)")
                .alias("_b"),
            )
            .agg(
                F.sum("_a").cast("double").alias("_ss1"),
                F.sum("_b").cast("double").alias("_ss2"),
            )
            .collect()[0]
        )
        eig1 = float(ss_row["_ss1"]) / n_vecs
        eig2 = float(ss_row["_ss2"]) / n_vecs
    finally:
        if persist is not None:
            centered_df.unpersist()

    return spark.range(d).select(
        F.col("id").cast("int").alias("dim"),
        F.element_at(lit_arr(v1), (F.col("id") + 1).cast("int")).alias("component1"),
        F.element_at(lit_arr(v2), (F.col("id") + 1).cast("int")).alias("component2"),
        F.round(F.lit(eig1), 9).alias("eigenvalue1"),
        F.round(F.lit(eig2), 9).alias("eigenvalue2"),
    )


def remove_top_component(
    embeddings: DataFrame,
    component: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "debiased",
) -> DataFrame:
    """All-but-the-top de-biasing (Mu & Viswanath 2018): subtract each
    vector's projection onto the dominant direction (from
    :func:`top_principal_component`) — removing the common component is
    the cheap post-processing that measurably improves cosine-similarity
    quality on most embedding models. Pure per-row array expressions
    (one fold + one zip), zero shuffles, pushes through any plan."""
    c = F.array(*[F.lit(float(x)) for x in component])
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    proj = F.aggregate(
        F.zip_with(x, c, lambda a, b: a * b), F.lit(0.0), lambda acc, t: acc + t
    )
    staged = embeddings.select(F.col(id_col), x.alias("_x"), proj.alias("_p"))
    return staged.select(
        F.col(id_col),
        F.zip_with(
            F.col("_x"), c, lambda a, b: F.round(a - F.col("_p") * b, 9)
        ).alias(out_col),
    )


def geometric_median(
    embeddings: DataFrame,
    iterations: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Geometric median of the embedding cloud by Weiszfeld iteration —
    the ROBUST centroid (minimizes summed distances, not squared), the
    estimator to anchor outlier screens and prototype selection on when
    a fat tail of junk embeddings would drag the mean (cf. Cohen et al.,
    "Geometric Median in Nearly Linear Time", STOC 2016 for why this is
    the standard robust location estimate).

    Per iteration: one corpus scan computes each row's distance to the
    current estimate (a d-length broadcast literal), then inverse-
    distance-weighted per-dimension sums reduce to d rows; the d-vector
    round-trips through the driver — the same matrix-free posture as
    :func:`top_principal_component`. Rows exactly AT the estimate
    (dist == 0) are excluded from that iteration's weights (standard
    Weiszfeld guard — their gradient is undefined), deterministically in
    both engines.

    Exactness: per-row terms (``x_j/dist`` and ``1/dist``) round to 9
    and accumulate as exact decimals (order-independent); distance folds
    run in array order; each new estimate rounds to 9 as an ENGINE
    expression. Returns one row per dimension ``(dim, mean, geo_median)``
    — the mean alongside, so the robust-vs-moment gap is visible.
    """
    if iterations < 1:
        raise ValueError("geometric_median: iterations must be >= 1")
    spark = embeddings.sparkSession
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())

    # Contract: fixed dimensionality. The one-scan-per-iteration fusion
    # takes the global inverse-distance denominator from dimension 0's
    # group, which equals the whole-relation sum only when every vector
    # is non-empty and the same length — ragged input must fail loudly,
    # not shift the estimate. One no-shuffle 1-row aggregate validates.
    sz = embeddings.agg(
        F.min(F.size(vec_col)).alias("_lo"), F.max(F.size(vec_col)).alias("_hi")
    ).collect()[0]
    if sz["_lo"] is not None and (sz["_lo"] != sz["_hi"] or sz["_lo"] == 0):
        raise ValueError(
            "geometric_median: embedding arrays must be non-empty and "
            f"fixed-length (saw sizes {sz['_lo']}..{sz['_hi']})"
        )

    dims = embeddings.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_i", "_x")
    )
    mu_rows = sorted(
        dims.groupBy("_i")
        .agg(
            (
                F.sum(F.col("_x").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_mu")
        )
        .collect(),
        key=lambda r: r["_i"],
    )
    if not mu_rows:
        raise ValueError("geometric_median: empty input")
    d = len(mu_rows)

    def lit_arr(values):
        return F.array(*[F.lit(float(x)) for x in values])

    # pin the starting point to 9 dp as an engine expression
    mu = list(
        spark.range(1)
        .select(
            F.transform(lit_arr([r["_mu"] for r in mu_rows]), lambda x: F.round(x, 9)).alias("_m")
        )
        .collect()[0]["_m"]
    )

    xs = embeddings.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
    )

    def dist_expr(y):
        return F.sqrt(
            F.aggregate(
                F.zip_with(F.col("_v"), lit_arr(y), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    y = mu
    for _ in range(iterations):
        staged = (
            xs.select("_v", dist_expr(y).alias("_d")).filter(F.col("_d") > 0)
        )
        # ONE corpus pass per iteration: the inverse-distance total rides
        # the same per-dimension aggregation — after posexplode every
        # source row appears exactly once per _j, and the decimal terms
        # are order-independent, so each group's Σ round(1/d, 9) IS the
        # global denominator (bit-identical for every j; the separate
        # denom pass re-scanned the un-persisted corpus)
        numer = sorted(
            staged.select(
                F.posexplode("_v").alias("_j", "_xj"), F.col("_d")
            )
            .select(
                "_j",
                F.round(F.col("_xj") / F.col("_d"), 9)
                .cast("decimal(30,9)")
                .alias("_t"),
                F.round(F.lit(1.0) / F.col("_d"), 9)
                .cast("decimal(30,9)")
                .alias("_iw"),
            )
            .groupBy("_j")
            .agg(
                F.sum("_t").cast("double").alias("_w"),
                F.sum("_iw").cast("double").alias("_den"),
            )
            .collect(),
            key=lambda r: r["_j"],
        )
        denom = numer[0]["_den"] if numer else None
        if not numer or not denom:
            break  # every point sits at the estimate — converged exactly
        w = [r["_w"] for r in numer]
        y = list(
            spark.range(1)
            .select(
                F.transform(
                    lit_arr(w), lambda x: F.round(x / F.lit(float(denom)), 9)
                ).alias("_y")
            )
            .collect()[0]["_y"]
        )

    return spark.range(d).select(
        F.col("id").cast("int").alias("dim"),
        F.element_at(lit_arr(mu), (F.col("id") + 1).cast("int")).alias("mean"),
        F.element_at(lit_arr(y), (F.col("id") + 1).cast("int")).alias("geo_median"),
    )


def ivf_recall_eval(
    embeddings: DataFrame,
    query_ids: "list[int]",
    k: int = 10,
    centroid_filter: str = "vec_id % 64 = 7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF scale path against exact brute force, per
    query — the self-evaluation every ANN deployment needs before
    trusting its candidate generation (recall@k IS the quality metric
    an IVF index is tuned by; cf. the FAISS evaluation protocol).

    One pass builds everything batched: the corpus is assigned to
    centroids ONCE (broadcast centroids, no corpus shuffle), each panel
    query probes its top-1 centroid, approximate top-k searches only
    that cluster, exact top-k scans the corpus via the broadcast panel
    (cost = panel × corpus, bounded by the panel size), and recall is
    the overlap join of the two bounded top-k relations. Deterministic
    tie-breaks (cos desc, id asc) make the result sets — hence recall —
    engine-exact. Returns ``(query_id, n_hits, recall)``.
    """
    if not query_ids:
        raise ValueError("ivf_recall_eval: query_ids must be non-empty")
    queries = embeddings.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    exact = topk_per_query(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)

    centroids = ivf_seed_centroids(embeddings, centroid_filter, id_col, vec_col)
    clustered = ivf_assign(
        embeddings, id_col=id_col, vec_col=vec_col, centroids=centroids, carry_vec=True,
    )
    qprobe = (
        queries.join(F.broadcast(centroids))
        .select(
            "query_id",
            "qvec",
            "centroid_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 9).alias("_qcos"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("_qcos"), F.asc("centroid_id"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("query_id", "qvec", "centroid_id")
    )
    approx = (
        clustered.join(F.broadcast(qprobe), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col(vec_col), F.col("qvec")), 9).alias("cos_sim"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
            ),
        )
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)).cast("double") / k, 9).alias(
                "recall"
            ),
        )
    )


def centroid_silhouette(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Centroid-based silhouette per label: ``s = (b − a)/max(a, b)``
    with ``a`` the Euclidean distance to the OWN label centroid and
    ``b`` the distance to the nearest OTHER centroid — the
    O(n·k) simplification of the classic O(n²) silhouette that stays
    corpus-scan-shaped (the standard label-quality score before
    trusting kNN votes or training on weak labels). Returns one row per
    label: ``(label, n, mean_silhouette, mean_a, mean_b)``.

    Scale shape: centroids come from ONE exploded scan map-side combined
    to |labels|×dim partial sums (the label_centroid_similarity
    discipline, decimal-exact means); each point then meets the
    broadcast k-row centroid table — no pairwise corpus join. Distance
    folds run left-to-right over the dims on both engines; per-point
    silhouettes are O(1)-scale, so their round-9 decimal accumulation
    is cross-engine safe. Degenerate ``max(a,b) = 0`` pins s to NULL.
    """
    dims = embeddings.filter(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(label_col).alias("_lbl"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_i", "_x"),
    )
    cent = dims.groupBy("_lbl", "_i").agg(
        (
            F.sum(F.col("_x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_mu")
    )
    vecs = cent.groupBy("_lbl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_mu"))), lambda s: s["_mu"]
        ).alias("_cv")
    )
    pts = embeddings.filter(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    pairs = pts.crossJoin(
        F.broadcast(vecs.select(F.col("_lbl").alias("_cl"), "_cv"))
    )
    d2 = F.aggregate(
        F.zip_with("_v", "_cv", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    per_pt = (
        pairs.select("_id", "_lbl", "_cl", F.sqrt(d2).alias("_d"))
        .groupBy("_id", "_lbl")
        .agg(
            F.max(F.when(F.col("_cl") == F.col("_lbl"), F.col("_d"))).alias("_a"),
            F.min(F.when(F.col("_cl") != F.col("_lbl"), F.col("_d"))).alias("_b"),
        )
    )
    mx = F.greatest(F.col("_a"), F.col("_b"))
    s = F.when(mx > 0, (F.col("_b") - F.col("_a")) / mx)

    out = per_pt.groupBy("_lbl").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(s, 9).cast("decimal(38,9)")).cast("double").alias("_ss"),
        F.sum(F.round(F.col("_a"), 9).cast("decimal(38,9)")).cast("double").alias("_sa"),
        F.sum(F.round(F.col("_b"), 9).cast("decimal(38,9)")).cast("double").alias("_sb"),
    )
    n = F.col("_n").cast("double")
    return out.select(
        F.col("_lbl").alias("label"),
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_ss") / n, 9).alias("mean_silhouette"),
        F.round(F.col("_sa") / n, 9).alias("mean_a"),
        F.round(F.col("_sb") / n, 9).alias("mean_b"),
    ).orderBy("label")


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-point Lloyd k-means assignments, fully deterministic:
    centroids initialize from the ``k`` SMALLEST ids (no RNG), each of
    the ``iters`` rounds assigns every point to its argmin-squared-
    Euclidean centroid (ties broken by cluster index via a min-struct —
    identical on every engine because both fold the distance
    left-to-right over the dims) and recomputes per-cluster per-dim
    means with decimal(38,12) accumulation. Returns one row per point:
    ``(<id_col>, cluster, _d)`` with ``_d`` the final squared distance.

    Precondition: ``id_col`` must be UNIQUE. Duplicate ids return
    duplicate output rows and weight centroid means by multiplicity
    (the pre-r12 shape deduplicated exact-duplicate ``(_id, _v)`` rows
    as a side effect of its per-iteration groupBy; the broadcast-argmin
    shape does not). Every committed caller feeds unique vec_ids.

    Scale shape: per round, one broadcast of the k×d centroid table
    against the corpus (no pairwise join) plus one |k|·d-row grouped
    aggregate; the point relation is checkpoint-cut once so the
    ``iters``+1 scans don't replay upstream lineage. Empty clusters
    drop out deterministically (both engines see identical
    assignments)."""
    pts = (
        widen_small_scan(embeddings)
        .filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .localCheckpoint(eager=False)
    )
    seed = pts.orderBy("_id").limit(k)
    cents = seed.select(
        (F.row_number().over(W.orderBy("_id")) - 1).alias("_j"),
        F.col("_v").alias("_cv"),
    )

    # Assignment is a PER-ROW argmin over the k-struct centroid array
    # (1-row broadcast), not a crossJoin + corpus groupBy: the former
    # shape shuffled every corpus row — with the full vector inside the
    # GROUPING KEY — once per iteration (guide §2.3: never shuffle the
    # payload to make a decision a map-side expression can make). The
    # array_min comparator is the same lexicographic (d, j) struct
    # ordering F.min used, and the per-dim squared-distance fold is the
    # identical left-to-right expression, so assignments and distances
    # are bit-identical. Per iteration the only shuffle left is the
    # map-side-combined k×d mean aggregate.
    def amin_expr():
        return F.array_min(
            F.transform(
                "_cs",
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with("_v", c["_cv"], lambda x, cc: (x - cc) * (x - cc)),
                        F.lit(0.0),
                        lambda acc, e: acc + e,
                    ).alias("d"),
                    c["_j"].alias("j"),
                ),
            )
        )

    def carr_expr(c):
        # deterministic k-struct array: sorted by _j (unique), 1 row
        return c.agg(F.array_sort(F.collect_list(F.struct("_j", "_cv"))).alias("_cs"))

    for _ in range(iters):
        assign = (
            pts.crossJoin(F.broadcast(carr_expr(cents)))
            .select("_id", "_v", amin_expr()["j"].alias("_j"))
        )
        dims = assign.select(
            "_j", F.posexplode("_v").alias("_i", "_x")
        )
        cent = dims.groupBy("_j", "_i").agg(
            (
                F.sum(F.col("_x").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_mu")
        )
        cents = cent.groupBy("_j").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_mu"))),
                lambda s: s["_mu"],
            ).alias("_cv")
        )

    return (
        pts.crossJoin(F.broadcast(carr_expr(cents)))
        .select("_id", amin_expr().alias("_m"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_m")["j"].alias("cluster"),
            F.col("_m")["d"].alias("_d"),
        )
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster summary of :func:`kmeans_assign`: one row per
    surviving cluster — ``(cluster, n_points, inertia)`` with inertia
    accumulated as round-9 decimals (cross-engine exact)."""
    final = kmeans_assign(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(
                F.sum(F.round("_d", 9).cast("decimal(38,9)")).cast("double"), 9
            ).alias("inertia"),
        )
        .orderBy("cluster")
    )
