"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point is 100 TB of documents, not 500 rows):

- Shingling / hashing / signatures are per-row JVM array expressions —
  zero shuffles until the LSH band group-by.
- MinHash+LSH shuffles once on (band_id, band_hash) — tiny keys — and the
  candidate-pair self-join happens inside buckets only.
- The exact-Jaccard verifier is an inverted-index join (explode shingle →
  join on shingle → count), NOT a cross join: cost is Σ_s df(s)², which is
  what MapReduce dedup pipelines use at web scale.
- SimHash is computed entirely per-row (bit counts over the token-hash
  array) — a map-only job.

Hash parity: ``md5_long % MOD`` and the ``(a·h + b) % MOD`` permutations
use constants small enough that all arithmetic stays in signed-64 range on
both Spark and DuckDB, so showcase oracles reproduce signatures exactly.
"""

from __future__ import annotations

import functools
import logging
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onetl_spark.llm.text import md5_long, word_tokens
from onetl_spark.spark_utils import widen_small_scan

log = logging.getLogger(__name__)

MOD = 1_000_000_007  # all permutation math stays < 2^61, no int64 overflow
NUM_PERM = 32
LSH_BANDS = 8
LSH_ROWS = NUM_PERM // LSH_BANDS
SHINGLE_N = 3
SIMHASH_BITS = 48
LSH_MAX_BUCKET = 1000  # max members per (band_id, band_key) bucket


def perm_constants(num_perm: int = NUM_PERM) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for minhash permutations — formula-based
    so the DuckDB oracle can embed the identical constants."""
    return [((2 * i + 1) * 40503 % MOD, (i * 69069 + 12345) % MOD) for i in range(num_perm)]


def word_shingles(col, n: int = SHINGLE_N):
    """Distinct n-gram word shingles; documents shorter than n words get a
    single whole-document shingle.

    Built by zipping n shifted slices of the token array — ~15× faster
    than per-index ``element_at`` lambdas (which stay interpreted inside
    the higher-order function)."""
    tokens = word_tokens(col)
    joined = F.array_join(tokens, " ")
    m = F.size(tokens) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(tokens, k + 1, m) for k in range(n)])
    grams = F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
    )
    return F.when(F.size(tokens) >= n, F.array_distinct(grams)).otherwise(F.array(joined))


def shingle_hashes(col, n: int = SHINGLE_N):
    """Shingles → 64-bit-ish hashes reduced mod MOD (per-row, JVM)."""
    return F.transform(word_shingles(col, n), lambda s: md5_long(s) % MOD)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by raw text: survivor = min id per distinct text."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    ).select(id_col, "n_copies")


def minhash_signature_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """(id, sig) via explode + partial aggregation.

    The naive per-row expression (32 × array_min(transform(...))) makes
    Catalyst re-expand the shingle+md5 subtree once per permutation —
    measured 30× slower. Exploding shingle hashes computes md5 ONCE per
    shingle and the 32 mins are map-side-combined aggregates: the shape
    that scales on a cluster (shuffle rows = distinct shingles per doc,
    combine happens before the exchange).
    """
    hashes = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_hashes(F.col(text_col))).alias("_h"),
    )
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % MOD).alias(f"_s{i}")
        for i, (a, b) in enumerate(perm_constants(num_perm))
    ]
    sig_rows = hashes.groupBy("_id").agg(*aggs)
    return sig_rows.select("_id", F.array(*[f"_s{i}" for i in range(num_perm)]).alias("_sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS,
    max_bucket_size: int = LSH_MAX_BUCKET,
    block_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding, verified
    with exact shingle Jaccard.

    ``block_col`` (e.g. a language column) salts every band key with the
    block value, so candidate pairs can only form INSIDE a block: cross-
    language near-dups are almost always false positives, and blocking
    both removes them and splits hot LSH buckets across blocks — the
    standard way multilingual web dedup keeps bucket sizes bounded.

    Returns (a_id, b_id, jaccard) for every candidate pair that shares at
    least one LSH band AND has exact Jaccard >= threshold.

    ``max_bucket_size`` caps the membership of a single (band_id, band_key)
    bucket: a mass-duplicated document (boilerplate, empty pages) would put
    k copies in one bucket and the self-join would emit k²/2 candidates —
    the classic LSH blowup at web scale. Buckets above the cap are dropped
    (standard web-dedup practice; the cap is a recall knob, so the dropped
    count is logged, never silent). Mass-duplicate groups a cap could hide
    should be removed by exact dedup BEFORE near-dup detection — see
    ``training_corpus_pipeline``.

    The returned pairs are eagerly materialized (``localCheckpoint``): the
    output is orders of magnitude smaller than the corpus, and doing so
    lets this function release its internal caches deterministically
    instead of leaking them into executor memory across calls.
    """
    rows = num_perm // bands
    # persist HASHED shingle sets (long arrays ≈ 10× smaller than string
    # arrays to cache); Jaccard is verified over the hash sets — identical
    # to string-shingle Jaccard modulo md5 collisions, and the showcase
    # oracle intersects the same hash lists, so results stay exact
    block_cols = (
        [F.coalesce(F.col(block_col).cast("string"), F.lit("")).alias("_blk")]
        if block_col
        else []
    )
    # widen a scan-starved input first: the per-doc md5 shingle hashing
    # and the 32-permutation signature aggregation below are CPU-bound
    # and inherit the scan's task count (see spark_utils.widen_small_scan)
    hashed = widen_small_scan(df).select(
        F.col(id_col).alias("_id"),
        shingle_hashes(F.col(text_col)).alias("_h"),
        *block_cols,
    ).persist()
    # the block value rides through the explode + groupBy as an extra
    # grouping key (one value per id → same groups), so no corpus-wide
    # join is needed to recover it for the band keys
    sig_keys = ["_id", "_blk"] if block_col else ["_id"]
    exploded = hashed.select(*sig_keys, F.explode("_h").alias("_hx"))
    aggs = [
        F.min((F.lit(a) * F.col("_hx") + F.lit(b)) % MOD).alias(f"_s{i}")
        for i, (a, b) in enumerate(perm_constants(num_perm))
    ]
    sig = (
        exploded.groupBy(*sig_keys)
        .agg(*aggs)
        .select(*sig_keys, F.array(*[f"_s{i}" for i in range(num_perm)]).alias("_sig"))
    )

    # persist the BANDED rows (docs × bands, tiny): both the bucket-size
    # audit job and the candidate self-join read them, so the expensive
    # shingle→signature pipeline runs exactly once. The block value is
    # hashed INTO the band key, so blocking costs nothing extra.
    def _band_key(b):
        joined = F.array_join(F.slice("_sig", b * rows + 1, rows), ",")
        if block_col:
            joined = F.concat_ws("|", F.col("_blk"), joined)
        return F.md5(joined)

    banded = sig.select(
        "_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _band_key),
        ).alias("band_id", "band_key"),
    ).persist()

    # bucket-size cap: find over-capacity buckets (few, by construction) and
    # anti-join them out before the quadratic-in-bucket-size self-join
    oversized = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket_size)
        .select("band_id", "band_key")
        # lazy: the count() below materializes the checkpoint in the
        # SAME job (eager + count was two scheduling round-trips)
        .localCheckpoint(eager=False)
    )
    n_oversized = oversized.count()
    if n_oversized:
        log.warning(
            "minhash_lsh_pairs: dropped %d LSH buckets larger than %d members; "
            "recall is reduced for mass-duplicated documents — run exact dedup first",
            n_oversized,
            max_bucket_size,
        )
        banded = banded.join(F.broadcast(oversized), ["band_id", "band_key"], "left_anti")

    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a_id"), F.col("r._id").alias("b_id"))
        .distinct()
    )

    a = hashed.select(F.col("_id").alias("a_id"), F.col("_h").alias("a_sh"))
    b = hashed.select(F.col("_id").alias("b_id"), F.col("_h").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    result = (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("jaccard", F.round(inter / union, 9))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
        .localCheckpoint(eager=True)
    )
    banded.unpersist()
    hashed.unpersist()
    return result


def _shingle_inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int | None,
    op_name: str,
):
    """Shared exploded (doc, shingle) index for the exact pair operators.

    With ``max_df`` set, shingles appearing in more than ``max_df``
    documents are removed from the shingle UNIVERSE (from intersections
    AND set sizes — consistent "similarity over informative shingles"
    semantics, exactly mirrorable in SQL). The inverted-index join costs
    Σ df(shingle)²; without a cap one boilerplate shingle shared by a
    million documents is a 10¹²-row join — the same failure mode the LSH
    bucket cap guards, and the same remedy: drop the hot keys and LOG it
    (a recall knob, not a silent truncation). Hot shingles carry almost
    no signal anyway — ubiquitous boilerplate is what you deliberately
    don't want deciding near-duplication.

    Returns ``(inv, sizes)``: the (possibly filtered) index and per-doc
    set sizes over the same universe. Shingles are distinct per document
    (see :func:`word_shingles`), so with ``max_df=None`` the sizes equal
    ``F.size(shingles)`` and semantics match the uncapped definition.
    """
    sh = widen_small_scan(df).select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), n).alias("_shingles"),
    )
    inv = sh.select("_id", F.explode("_shingles").alias("_s"))
    if max_df is not None:
        hot = (
            inv.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_s")
            # lazy: materialized by the count() below in one job
            .localCheckpoint(eager=False)
        )
        n_hot = hot.count()
        if n_hot:
            log.warning(
                "%s: dropped %d shingles with document frequency > %d; "
                "similarity is computed over the remaining (informative) "
                "shingles — run exact dedup first for mass-duplicated text",
                op_name,
                n_hot,
                max_df,
            )
            inv = inv.join(F.broadcast(hot), "_s", "left_anti")
    sizes = inv.groupBy("_id").agg(F.count(F.lit(1)).alias("_size"))
    return inv, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    n: int = SHINGLE_N,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold via inverted-index join
    (explode shingle → join on shingle → count common), never a cross
    join. ``max_df`` caps hot-shingle fan-out (see
    :func:`_shingle_inverted_index`) — mandatory at web scale."""
    inv, sizes = _shingle_inverted_index(df, text_col, id_col, n, max_df, "ngram_jaccard_pairs")
    l, r = inv.alias("l"), inv.alias("r")
    common = (
        l.join(r, (F.col("l._s") == F.col("r._s")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(
            F.col("l._id").alias("a_id"),
            F.col("r._id").alias("b_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("_id").alias("a_id"), F.col("_size").alias("a_size"))
    sb = sizes.select(F.col("_id").alias("b_id"), F.col("_size").alias("b_size"))
    return (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("a_size") + F.col("b_size") - F.col("n_common")), 9),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash over token hashes: bit b is set when more token hashes have
    bit b set than unset.

    Built as explode + 48 conditional partial aggregates: one md5 per
    token (a per-row expression tree would re-expand the hash 48×), and
    the bit counts combine map-side before the shuffle.
    """
    tokens = widen_small_scan(df).select(
        F.col(id_col).alias("_id"),
        F.explode(word_tokens(F.col(text_col))).alias("_t"),
    ).select("_id", md5_long(F.col("_t")).alias("_h"))

    aggs = [
        F.sum(
            F.when(F.col("_h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(0),
        ).alias(f"_c{b}")
        for b in range(bits)
    ] + [F.count(F.lit(1)).alias("_n")]
    counts = tokens.groupBy("_id").agg(*aggs)

    terms = [
        F.when(F.col(f"_c{b}") * 2 > F.col("_n"), F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(bits)
    ]
    sig = counts.select("_id", functools.reduce(operator.add, terms).cast("long").alias("simhash"))
    # docs with zero tokens fall out of the explode — restore them with simhash 0
    return (
        df.select(F.col(id_col))
        .join(sig.withColumnRenamed("_id", id_col), id_col, "left")
        .select(id_col, F.coalesce("simhash", F.lit(0)).cast("long").alias("simhash"))
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    collect_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected-component dedup: given near-duplicate pairs (a_id, b_id),
    assign every document the MIN doc id of its duplicate group
    (``rep_id``); documents not in any pair represent themselves.

    The duplicate-pair graph is orders of magnitude smaller than the
    corpus, so below ``collect_threshold`` edges we run exact union-find
    on the driver (one collect of the edge list, microseconds of CPU) and
    broadcast the mapping back — 3 Spark jobs total. Above the threshold
    we run distributed large-star/small-star contraction
    (:func:`onetl_spark.operators.graph.connected_components`) — each
    round shuffles only the edge set, and the round count is O(log^2 n)
    regardless of component diameter.
    """
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .distinct()
        .persist()
    )

    if edges.count() <= collect_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for row in edges.collect():
            a, b = find(row["src"]), find(row["dst"])
            if a != b:
                # min id becomes the representative
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        mapping = [(node, find(node)) for node in set(parent) | set(parent.values())]
        edges.unpersist()
        all_docs = df.select(F.col(id_col))
        if not mapping:
            return all_docs.select(F.col(id_col), F.col(id_col).alias("rep_id"))
        spark = df.sparkSession
        map_df = spark.createDataFrame(mapping, f"{id_col}_m BIGINT, rep BIGINT")
        return (
            all_docs.join(
                F.broadcast(map_df), all_docs[id_col] == map_df[f"{id_col}_m"], "left",
            )
            .select(F.col(id_col), F.coalesce("rep", F.col(id_col)).alias("rep_id"))
        )
    from onetl_spark.operators.graph import connected_components

    # labels is edge-node-sized (nodes appearing in any pair), far smaller
    # than the corpus; connected_components localCheckpoints internally so
    # the edges cache can be released immediately
    final_map = connected_components(edges)
    edges.unpersist()
    all_docs = df.select(F.col(id_col))
    return (
        all_docs.join(final_map, all_docs[id_col] == final_map.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("rep", F.col(id_col)).alias("rep_id"),
        )
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    threshold: float = 0.2,
) -> DataFrame:
    """Flag corpus documents whose n-gram shingles overlap a benchmark set
    (training-data decontamination, the GPT-3/FLAN n-gram-overlap recipe).

    Returns (doc_id, matched_shingles, total_shingles, overlap_ratio,
    contaminated) for every corpus document.

    Scale shape: the benchmark side (eval sets, a few MB–GB) collapses to a
    DISTINCT hashed-shingle set and is explicitly broadcast — the 100-TB
    corpus is never shuffled; each task left-joins its exploded shingles
    against the in-memory benchmark set and the per-doc counts map-side
    combine. If the benchmark ever outgrows broadcast range, drop the hint
    and the same plan degrades gracefully to a shuffle join.
    """
    bench = (
        benchmark.select(F.explode(shingle_hashes(F.col(text_col), n)).alias("_g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    grams = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_hashes(F.col(text_col), n)).alias("_g"),
    )
    counts = (
        grams.join(F.broadcast(bench), "_g", "left")
        .groupBy("_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("matched_shingles"),
            F.count(F.lit(1)).alias("total_shingles"),
        )
    )
    ratio = F.round(F.col("matched_shingles") / F.col("total_shingles"), 9)
    return counts.select(
        F.col("_id").alias(id_col),
        "matched_shingles",
        "total_shingles",
        ratio.alias("overlap_ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


def contamination_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Persistable per-document shingle index ``(id, g)`` — the store
    side of INCREMENTAL decontamination: once the corpus is ingested its
    text is gone, but this inverted index (one row per distinct hashed
    shingle per document, ~8 bytes each) lets every FUTURE benchmark
    set be checked against the full corpus without re-reading a byte of
    text. The inverse of :func:`benchmark_contamination`'s flow, where
    the corpus is at hand and the benchmark is fixed.

    Shingles are de-duplicated per document (``word_shingles`` emits
    distinct grams), so the index is a set relation and
    ``incremental_decontamination(contamination_index(corpus), bench)``
    equals ``benchmark_contamination(corpus, bench)`` row for row.
    """
    return corpus.select(
        F.col(id_col),
        F.explode(shingle_hashes(F.col(text_col), n)).alias("g"),
    )


def incremental_decontamination(
    index: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    threshold: float = 0.2,
) -> DataFrame:
    """Score every ALREADY-INGESTED corpus document against a NEWLY
    ARRIVED benchmark set using only the persisted shingle index — the
    day-2 decontamination loop (a new eval suite is released; which
    training documents must now be quarantined?).

    Returns the :func:`benchmark_contamination` contract per indexed
    document: (id, matched_shingles, total_shingles, overlap_ratio,
    contaminated).

    Scale shape: the new benchmark collapses to a broadcast DISTINCT
    hashed-shingle set; the index — the big side, but already just
    hashes — is left-joined in place and the per-doc counts map-side
    combine into one hash aggregate on ``id``. The corpus text is never
    re-read; nothing the size of the corpus shuffles.
    """
    bench = (
        benchmark.select(F.explode(shingle_hashes(F.col(text_col), n)).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    counts = (
        index.join(F.broadcast(bench), "g", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("matched_shingles"),
            F.count(F.lit(1)).alias("total_shingles"),
        )
    )
    ratio = F.round(F.col("matched_shingles") / F.col("total_shingles"), 9)
    return counts.select(
        F.col(id_col),
        "matched_shingles",
        "total_shingles",
        ratio.alias("overlap_ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


def remove_repeated_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_tokens: int = 16,
    max_df: int = 2,
    broadcast_boilerplate: bool = True,
) -> DataFrame:
    """Line/segment-level dedup (the CCNet/RefinedWeb recipe adapted to
    fixed token windows): segments appearing in more than ``max_df``
    distinct documents are boilerplate and are removed from every
    document; the remaining segments are reassembled in order.

    Returns (doc_id, clean_text, n_segments, n_segments_removed); a fully
    boilerplate document keeps its row with ``clean_text = ''`` so the
    caller decides whether to drop it.

    Scale shape: two shuffles — the (segment-hash → distinct-doc-count)
    aggregate, and the per-doc reassembly. The boilerplate set (hashes
    with df > max_df) is usually tiny relative to the corpus, so by
    default it is BROADCAST and the corpus-side segments are never
    re-shuffled by hash; set ``broadcast_boilerplate=False`` if the
    boilerplate set itself is huge (low max_df over web-scale data) to
    fall back to a plain shuffle join.
    """
    from onetl_spark.llm.sampling import chunk_documents

    segs = chunk_documents(
        df, chunk_tokens=segment_tokens, overlap=0, text_col=text_col, id_col=id_col
    ).select(id_col, "chunk_idx", "chunk_text", md5_long(F.col("chunk_text")).alias("_h"))
    boiler = (
        segs.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_h", F.lit(True).alias("_boiler"))
    )
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    marked = segs.join(boiler, "_h", "left")
    keep = F.col("_boiler").isNull()
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(keep, F.struct("chunk_idx", "chunk_text")))
            ).alias("_kept"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(keep, 0).otherwise(1)).alias("n_segments_removed"),
        )
        .select(
            id_col,
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["chunk_text"]), " "
            ).alias("clean_text"),
            "n_segments",
            "n_segments_removed",
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = SHINGLE_N,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-containment: pairs where one document's shingle set
    is mostly INSIDE another's (``|Sa ∩ Sb| / |Sa| ≥ threshold``) — the
    quote/excerpt/subset detector Jaccard misses (a paragraph quoted in a
    book has tiny Jaccard but containment ≈ 1).

    Same inverted-index join as :func:`ngram_jaccard_pairs` — cost
    Σ df(shingle)², never a cross join — and each unordered pair is
    scored once in both directions; a row is emitted per direction that
    clears the threshold (a_id = the contained document). ``max_df``
    caps hot-shingle fan-out (see :func:`_shingle_inverted_index`).
    """
    inv, sizes = _shingle_inverted_index(
        df, text_col, id_col, n, max_df, "ngram_containment_pairs"
    )
    l, r = inv.alias("l"), inv.alias("r")
    common = (
        l.join(r, (F.col("l._s") == F.col("r._s")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(
            F.col("l._id").alias("x_id"),
            F.col("r._id").alias("y_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sx = sizes.select(F.col("_id").alias("x_id"), F.col("_size").alias("x_size"))
    sy = sizes.select(F.col("_id").alias("y_id"), F.col("_size").alias("y_size"))
    common = common.join(sx, "x_id").join(sy, "y_id")
    fwd = common.select(
        F.col("x_id").alias("a_id"),
        F.col("y_id").alias("b_id"),
        F.round(F.col("n_common") / F.col("x_size"), 9).alias("containment"),
    )
    rev = common.select(
        F.col("y_id").alias("a_id"),
        F.col("x_id").alias("b_id"),
        F.round(F.col("n_common") / F.col("y_size"), 9).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= threshold)


def hamming_near_dup_pairs(
    df: DataFrame,
    hash_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_dist: int = 3,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """All pairs within ``max_dist`` Hamming distance of a ``bits``-wide
    hash column (SimHash, perceptual aHash, …) via multi-index hashing.

    Pigeonhole: split the hash into ``max_dist + 1`` disjoint bands — two
    hashes differing in ≤ max_dist bits must agree EXACTLY on at least
    one band, so candidates come from equi-joins on (band_idx, band_bits)
    and the full N² comparison never happens. Verification is one
    ``bit_count(xor)`` per candidate. Oversized bands (a constant-ish
    hash region at web scale) are dropped under the same logged cap as
    MinHash-LSH buckets.
    """
    n_bands = max_dist + 1
    width = bits // n_bands
    if width == 0:
        raise ValueError(f"max_dist {max_dist} too large for {bits}-bit hashes")
    h = F.col(hash_col)
    mask = (1 << width) - 1
    bands = df.select(
        F.col(id_col).alias("_id"),
        h.alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        # final band takes the remainder bits too
                        F.shiftright(h, b * width)
                        .bitwiseAND(
                            F.lit(mask if b < n_bands - 1 else (1 << (bits - b * width)) - 1)
                        )
                        .alias("band_bits"),
                    )
                    for b in range(n_bands)
                ],
            ),
        ).alias("_band"),
    ).select("_id", "_h", "_band.band_idx", "_band.band_bits")
    from pyspark.sql.window import Window as _W

    sized = bands.withColumn(
        "_bucket_n", F.count(F.lit(1)).over(_W.partitionBy("band_idx", "band_bits"))
    )
    dropped = sized.filter(F.col("_bucket_n") > max_bucket_size)
    n_dropped = dropped.select("band_idx", "band_bits").distinct().count()
    if n_dropped:
        log.warning(
            "hamming_near_dup_pairs: dropped %d over-capacity bands (> %d members) — "
            "recall knob, not silent truncation",
            n_dropped,
            max_bucket_size,
        )
    kept = sized.filter(F.col("_bucket_n") <= max_bucket_size)
    l, r = kept.alias("l"), kept.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_bits") == F.col("r.band_bits"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("a_id"),
            F.col("r._id").alias("b_id"),
            F.bit_count(F.col("l._h").bitwiseXOR(F.col("r._h"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_dist)


def normalized_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup after canonical normalization (lower-case, strip
    punctuation, collapse whitespace — :func:`onetl_spark.llm.text.
    normalize_text`): catches the re-encoded / re-punctuated / re-cased
    copies that raw-byte dedup misses, at the same map-side cost.

    Groups by the md5 fingerprint of the normalized text rather than the
    normalized text itself — the shuffle key is 32 bytes instead of the
    document body, which at 100 TB is the difference between shuffling
    hashes and shuffling the corpus. Survivor = min id per group.
    """
    from onetl_spark.llm.text import fingerprint

    return (
        df.groupBy(fingerprint(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "fp", "n_copies")
    )


def incremental_dedup(
    new_batch: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingestion-time dedup: keep only the rows of ``new_batch`` whose
    normalized fingerprint appears neither in the ``existing`` corpus nor
    earlier (min id) within the batch itself — the operator every
    continuously-crawled corpus runs on each increment so the stored
    corpus never needs re-deduplication.

    Scale shape: the existing corpus contributes ONLY its fingerprint
    column (32-byte keys; in production this is a pre-materialized
    fingerprint table, not a rescan) to a left ANTI join keyed by hash —
    no payloads move. The intra-batch survivor pass is the same
    min-id-per-fingerprint aggregate as :func:`normalized_dedup`, keyed
    on the batch side only.
    """
    from onetl_spark.llm.text import fingerprint

    seen = existing.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    staged = new_batch.withColumn("fp", fingerprint(F.col(text_col)))
    fresh = staged.join(seen, "fp", "anti")
    survivors = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(survivors, [id_col, "fp"], "semi")
        .drop("fp")
    )


def minhash_signature_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """The persisted signature-store relation ``(id, sig)`` a daily-ingest
    pipeline keeps between batches: ``num_perm`` longs per document
    (~256 bytes at the default) — the historical TEXT is never needed
    again. Feed yesterday's store plus today's fresh rows back in as
    ``store`` for :func:`incremental_minhash_dedup` (the HWM-style state
    the exact-fingerprint :func:`incremental_dedup` keeps as a
    fingerprint table, upgraded to NEAR-duplicate semantics)."""
    return minhash_signature_df(df, text_col, id_col, num_perm).select(
        F.col("_id").alias(id_col), F.col("_sig").alias("sig")
    )


def _banded_sigs(sigs: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    def _band_key(b):
        return F.md5(F.array_join(F.slice("sig", b * rows + 1, rows), ","))

    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _band_key)
        ).alias("band_id", "band_key"),
    )


def incremental_minhash_dedup(
    new_batch: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS,
    max_bucket_size: int = LSH_MAX_BUCKET,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Cross-batch NEAR-duplicate verdicts: today's ``new_batch`` against
    the persisted :func:`minhash_signature_store` — the daily-ingest shape
    a 100-TB pipeline actually runs (the corpus is deduplicated ONCE;
    every increment dedups only against stored signatures + itself).

    Returns one row per batch document::

        (id, verdict, match_id, est_jaccard)

    - ``dup_of_history`` — ≥1 shared LSH band with a stored signature and
      signature-agreement ≥ threshold; ``match_id`` = the historical doc
      (highest agreement, ties → smallest id).
    - ``dup_in_batch`` — not a history dup, but agrees ≥ threshold with
      an EARLIER (smaller-id) batch document sharing a band — the earlier
      copy is the survivor that enters the store.
    - ``fresh`` — neither; its signature is the store increment.

    Similarity is the MinHash ESTIMATE (fraction of agreeing
    permutations, an exact multiple of 1/num_perm — integer arithmetic,
    bit-identical across engines): unlike :func:`minhash_lsh_pairs` no
    exact-Jaccard verification is possible, because the historical text
    is gone by design — only signatures persist. Precision is tuned by
    ``num_perm``; banding recall by ``bands``.

    Scale shape: the store contributes ``bands`` band keys per historical
    doc to the candidate equi-join — no text, no shingles. Over-capacity
    (band_id, band_key) buckets are dropped from BOTH sides under the
    same logged cap as :func:`minhash_lsh_pairs` (bucket membership is
    counted over the UNION of store and batch, so a boilerplate key hot
    on either side is capped consistently — and the ORACLE must mirror
    this cap, the r10 simhash lesson).
    """
    rows = num_perm // bands
    if batch_sigs is None:
        batch_sigs = minhash_signature_store(new_batch, text_col, id_col, num_perm)
    else:
        # caller-provided (id, sig) relation — a streaming ingest loop
        # computes signatures ONCE per batch and shares them between this
        # operator and its store append (the shingle+md5 pipeline is the
        # batch side's dominant cost)
        batch_sigs = batch_sigs.select(F.col(id_col), F.col("sig"))
    batch_sigs = batch_sigs.localCheckpoint(
        eager=False
    )  # consumed by banding + both verify arms
    store_sigs = store.select(F.col(id_col), F.col("sig"))

    b_bands = _banded_sigs(batch_sigs, id_col, bands, rows)
    s_bands = _banded_sigs(store_sigs, id_col, bands, rows)

    oversized = (
        b_bands.select("band_id", "band_key")
        .unionAll(s_bands.select("band_id", "band_key"))
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket_size)
        .select("band_id", "band_key")
        .localCheckpoint(eager=False)
    )
    n_oversized = oversized.count()
    if n_oversized:
        log.warning(
            "incremental_minhash_dedup: dropped %d LSH buckets larger than %d "
            "members (union of store + batch); recall is reduced for "
            "mass-duplicated documents — run exact dedup first",
            n_oversized,
            max_bucket_size,
        )
        b_bands = b_bands.join(
            F.broadcast(oversized), ["band_id", "band_key"], "left_anti"
        )
        s_bands = s_bands.join(
            F.broadcast(oversized), ["band_id", "band_key"], "left_anti"
        )

    est = F.aggregate(
        F.zip_with("a_sig", "b_sig", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(float(num_perm))

    def _verified(cand: DataFrame, right_sigs: DataFrame) -> DataFrame:
        """candidate (a_id, b_id) pairs → best (max est, min b_id) per a."""
        a = batch_sigs.select(F.col(id_col).alias("a_id"), F.col("sig").alias("a_sig"))
        b = right_sigs.select(F.col(id_col).alias("b_id"), F.col("sig").alias("b_sig"))
        scored = (
            cand.join(a, "a_id")
            .join(b, "b_id")
            .select("a_id", "b_id", est.alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold)
        )
        return scored.groupBy("a_id").agg(
            F.max(
                F.struct(
                    F.col("est_jaccard"),
                    (-F.col("b_id")).alias("_nb"),
                    F.col("b_id").alias("b_id"),
                )
            ).alias("_m")
        ).select(
            "a_id",
            F.col("_m.b_id").alias("match_id"),
            F.col("_m.est_jaccard").alias("est_jaccard"),
        )

    hist_cand = (
        b_bands.select(F.col(id_col).alias("a_id"), "band_id", "band_key")
        .join(
            s_bands.select(F.col(id_col).alias("b_id"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .select("a_id", "b_id")
        .distinct()
    )
    hist_best = _verified(hist_cand, store_sigs)

    l = b_bands.select(F.col(id_col).alias("b_id"), "band_id", "band_key")
    r = b_bands.select(F.col(id_col).alias("a_id"), "band_id", "band_key")
    batch_cand = (
        l.join(r, ["band_id", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
        .distinct()
    )  # (later doc, earlier candidate): the earlier copy is the survivor
    batch_best = _verified(batch_cand, batch_sigs)

    return (
        batch_sigs.select(F.col(id_col))
        .join(
            hist_best.select(
                F.col("a_id").alias(id_col),
                F.col("match_id").alias("_hm"),
                F.col("est_jaccard").alias("_he"),
            ),
            id_col,
            "left",
        )
        .join(
            batch_best.select(
                F.col("a_id").alias(id_col),
                F.col("match_id").alias("_bm"),
                F.col("est_jaccard").alias("_be"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.when(F.col("_hm").isNotNull(), F.lit("dup_of_history"))
            .when(F.col("_bm").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("fresh"))
            .alias("verdict"),
            F.coalesce(F.col("_hm"), F.col("_bm")).alias("match_id"),
            F.when(F.col("_hm").isNotNull(), F.col("_he"))
            .otherwise(F.col("_be"))
            .alias("est_jaccard"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    score_col,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection: within each normalized-
    fingerprint duplicate group, keep the row with the HIGHEST score
    (ties → smallest id) instead of the arbitrary min-id copy — the
    curation policy when duplicates differ in truncation or cleanliness
    (keep-longest is ``score_col=length(text)``).

    Same single map-side-combined aggregate as :func:`normalized_dedup`
    — the argmax rides a ``max(struct)`` DeclarativeAggregate (stays in
    whole-stage codegen, partial-aggregates before the one fingerprint-
    keyed exchange; a per-group window sort would shuffle whole rows).
    """
    from onetl_spark.llm.text import fingerprint

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    staged = df.select(
        fingerprint(F.col(text_col)).alias("fp"),
        score.cast("double").alias("_score"),
        F.col(id_col),
    )
    return (
        staged.groupBy("fp")
        .agg(
            F.max(
                F.struct(
                    F.col("_score"),
                    (-F.col(id_col)).alias("_ni"),
                    F.col(id_col).alias("_id"),
                ),
            ).alias("_best"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col("_best._id").alias(id_col),
            F.col("_best._score").alias("best_score"),
            "n_copies",
        )
    )


def duplicate_ngram_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-substring signal: the fraction of each
    document's distinct n-gram shingles that occur in at least
    ``min_docs`` documents corpus-wide, as ``(id, n_shingles,
    n_dup_shingles, dup_frac)``.

    This is the aggregate form of exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" — the
    suffix-array substring criterion recast per-shingle): documents whose
    shingles are mostly shared elsewhere are boilerplate or near-copies
    even when no single pair passes a Jaccard threshold (N-way partial
    overlap that pairwise dedup misses).

    Scale shape: explode to the (doc, shingle) inverted index, partial-agg
    the per-shingle document frequency, join back on the shingle key, and
    re-aggregate per doc — two shuffles keyed by shingle, one by doc id,
    output one row per document. NO pair join anywhere, so unlike the
    pairwise operators this needs no hot-shingle cap: a shingle shared by
    a million docs contributes a million index rows (linear), not 10^12
    join rows (quadratic).
    """
    inv = widen_small_scan(df).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("_s"),
    )
    docfreq = inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    return (
        inv.join(docfreq, "_s")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_df") >= min_docs).cast("long")).alias("n_dup_shingles"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_dup_shingles",
            F.round(F.col("n_dup_shingles") / F.col("n_shingles"), 9).alias("dup_frac"),
        )
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Estimator-quality report for the MinHash/LSH stack: over every LSH
    candidate pair, compare the SIGNATURE-estimated Jaccard (matching
    permutation fraction) against the EXACT hashed-shingle Jaccard, micro-
    averaged per exact-similarity decile.

    This is the operational knob-tuning query for web-scale dedup: before
    committing a threshold/band configuration to a 100-TB run, measure on
    a sample how biased and how noisy the estimator actually is per
    similarity band (recall loss concentrates where the estimate straddles
    the threshold). All bucket statistics are INTEGER sums (matching
    positions, intersection and union sizes, and the cross-multiplied
    absolute error ``|matches*union - inter*num_perm|``), so results are
    bit-exact and engine-portable — no float accumulation ordering to
    drift between Spark and an oracle. The two micro-averaged ratios are
    single divisions over those sums.

    Cost shape: identical to :func:`minhash_lsh_pairs` (signatures via
    map-side-combined explode aggregation, banded candidate join with the
    bucket-size cap) plus one decile groupBy over the pair set.
    """
    rows = num_perm // bands
    hashed = widen_small_scan(df).select(
        F.col(id_col).alias("_id"),
        shingle_hashes(F.col(text_col)).alias("_h"),
    ).persist()
    exploded = hashed.select("_id", F.explode("_h").alias("_hx"))
    aggs = [
        F.min((F.lit(a) * F.col("_hx") + F.lit(b)) % MOD).alias(f"_s{i}")
        for i, (a, b) in enumerate(perm_constants(num_perm))
    ]
    sig = (
        exploded.groupBy("_id")
        .agg(*aggs)
        .select("_id", F.array(*[f"_s{i}" for i in range(num_perm)]).alias("_sig"))
        .persist()
    )
    banded = sig.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(F.array_join(F.slice("_sig", b * rows + 1, rows), ",")),
            ),
        ).alias("band_id", "band_key"),
    )
    oversized = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket_size)
        .select("band_id", "band_key")
        .localCheckpoint(eager=False)
    )
    if oversized.count():
        log.warning("minhash_calibration: dropped oversized LSH buckets (cap %d)", max_bucket_size)
        banded = banded.join(F.broadcast(oversized), ["band_id", "band_key"], "left_anti")
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a_id"), F.col("r._id").alias("b_id"))
        .distinct()
    )
    a_sh = hashed.select(F.col("_id").alias("a_id"), F.col("_h").alias("a_sh"))
    b_sh = hashed.select(F.col("_id").alias("b_id"), F.col("_h").alias("b_sh"))
    a_sig = sig.select(F.col("_id").alias("a_id"), F.col("_sig").alias("a_sig"))
    b_sig = sig.select(F.col("_id").alias("b_id"), F.col("_sig").alias("b_sig"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    matches = F.size(
        F.filter(F.zip_with("a_sig", "b_sig", lambda x, y: x == y), lambda v: v)
    )
    # decile bucket by integer arithmetic: floor(10*inter/union) is exact
    # here (numerators and denominators are small ints, so the double
    # quotient is never within an ulp of the wrong integer); DuckDB mirrors
    # it with `//` integer division
    pairs = (
        cand.join(a_sh, "a_id").join(b_sh, "b_id")
        .join(a_sig, "a_id").join(b_sig, "b_id")
        .select(
            F.least(F.floor((inter * 10).cast("long") / union), F.lit(9)).cast("long").alias("bucket"),
            matches.cast("long").alias("_m"),
            inter.cast("long").alias("_i"),
            union.cast("long").alias("_u"),
        )
    )
    out = (
        pairs.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("_m").alias("sum_matches"),
            F.sum("_i").alias("sum_inter"),
            F.sum("_u").alias("sum_union"),
            F.sum(F.abs(F.col("_m") * F.col("_u") - F.col("_i") * F.lit(num_perm))).alias("sum_abs_err_scaled"),
        )
        .select(
            "bucket", "n_pairs", "sum_matches", "sum_inter", "sum_union", "sum_abs_err_scaled",
            F.round(F.col("sum_matches") / (F.col("n_pairs") * num_perm), 9).alias("micro_est_jaccard"),
            F.round(F.col("sum_inter") / F.col("sum_union"), 9).alias("micro_exact_jaccard"),
        )
        .localCheckpoint(eager=True)
    )
    sig.unpersist()
    hashed.unpersist()
    return out
