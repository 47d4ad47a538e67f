"""Unit tests: benchmark decontamination, corpus stats, document chunking."""

from __future__ import annotations

import pytest

from onetl_spark.llm.dedup import benchmark_contamination
from onetl_spark.llm.sampling import chunk_documents
from onetl_spark.llm.text import corpus_stats


def test_contamination_full_and_none(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dogs")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over dogs"),  # identical → ratio 1.0
            (2, "completely different words entirely here now"),  # disjoint → 0.0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in benchmark_contamination(corpus, bench).collect()}
    assert out[1]["overlap_ratio"] == 1.0 and out[1]["contaminated"]
    assert out[2]["overlap_ratio"] == 0.0 and not out[2]["contaminated"]
    assert out[1]["total_shingles"] == out[1]["matched_shingles"]


def test_contamination_partial_overlap(spark):
    bench = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    # doc shares shingle "a b c" and "b c d" but also has unseen shingles
    corpus = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    row = benchmark_contamination(corpus, bench, threshold=0.4).collect()[0]
    # shingles: "a b c","b c d","c d e","d e f" → 2 of 4 matched
    assert row["matched_shingles"] == 2 and row["total_shingles"] == 4
    assert row["overlap_ratio"] == 0.5 and row["contaminated"]


def test_chunk_documents_windows(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # stride 2 over 10 tokens → starts 0,2,4,6,8
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[1]["chunk_text"] == "t2 t3 t4 t5"
    assert rows[-1]["chunk_text"] == "t8 t9"  # trailing partial window
    assert rows[-1]["n_tokens"] == 2


def test_chunk_documents_short_and_empty(spark):
    df = spark.createDataFrame([(1, "only three words"), (2, "")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=64).collect()
    assert len(rows) == 1  # empty doc emits nothing
    assert rows[0]["chunk_text"] == "only three words"


def test_chunk_documents_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_corpus_stats_basic(spark):
    df = spark.createDataFrame(
        [("en", "one two"), ("en", "one two three four"), ("fr", "un")],
        "lang string, text string",
    )
    out = {r["lang"]: r for r in corpus_stats(df).collect()}
    assert out["en"]["n_docs"] == 2 and out["en"]["total_tokens"] == 6
    assert out["en"]["avg_tokens"] == 3.0
    assert out["en"]["p50_tokens"] == 3.0  # interpolated between 2 and 4
    assert out["fr"]["min_tokens"] == out["fr"]["max_tokens"] == 1


def test_remove_repeated_segments(spark):
    boiler = " ".join(f"b{i}" for i in range(16))
    uniq = lambda d: " ".join(f"u{d}_{i}" for i in range(16))
    df = spark.createDataFrame(
        [(d, boiler + " " + uniq(d)) for d in range(4)], "doc_id long, text string"
    )
    from onetl_spark.llm.dedup import remove_repeated_segments

    out = {r["doc_id"]: r for r in remove_repeated_segments(df, max_df=2).collect()}
    assert len(out) == 4
    for d in range(4):
        # boilerplate segment (in 4 docs > max_df=2) removed, unique kept
        assert out[d]["clean_text"] == uniq(d)
        assert out[d]["n_segments"] == 2 and out[d]["n_segments_removed"] == 1


def test_remove_repeated_segments_all_boiler(spark):
    text = " ".join(f"b{i}" for i in range(16))
    df = spark.createDataFrame([(d, text) for d in range(3)], "doc_id long, text string")
    from onetl_spark.llm.dedup import remove_repeated_segments

    rows = remove_repeated_segments(df, max_df=1).collect()
    assert len(rows) == 3
    assert all(r["clean_text"] == "" and r["n_segments_removed"] == 1 for r in rows)


def test_reweight_domains_caps_listed_only(spark):
    from onetl_spark.llm.sampling import reweight_domains

    rows = [(i, "hot", "w " * 10) for i in range(500)] + [
        (1000 + i, "cold", "w " * 10) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = reweight_domains(df, {"hot": 0.1}, domain_col="source").collect()
    by_dom = {}
    for r in kept:
        by_dom.setdefault(r["source"], []).append(r)
    # cold unlisted → all 50 kept at rate 1.0
    assert len(by_dom["cold"]) == 50
    assert all(r["sample_rate"] == 1.0 for r in by_dom["cold"])
    # hot capped at 10% of 5500 total tokens = 550 → rate 0.11 → ~55 docs
    hot_rate = by_dom["hot"][0]["sample_rate"]
    assert abs(hot_rate - 0.11) < 1e-9
    assert 30 <= len(by_dom["hot"]) <= 85  # hash-thresholded, concentrates near 55


def test_reweight_domains_rate_above_one_clamps(spark):
    from onetl_spark.llm.sampling import reweight_domains

    df = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "b", "x y z")], "doc_id long, source string, text string"
    )
    kept = reweight_domains(df, {"a": 0.9}).collect()  # target > actual share → keep all
    assert {r["doc_id"] for r in kept} == {1, 2}


def test_multiprobe_assign_and_semantic_pairs(spark, testdata):
    from onetl_spark.llm.similarity import multiprobe_assign, semantic_near_dup_pairs

    emb = spark.table("embeddings")
    a2 = multiprobe_assign(emb, nprobe=2)
    per_vec = a2.groupBy("vec_id").count().collect()
    assert all(r["count"] == 2 for r in per_vec)  # two probes per vector

    p1 = {
        (r["a_id"], r["b_id"])
        for r in semantic_near_dup_pairs(emb, threshold=0.3, nprobe=1).collect()
    }
    p2 = {
        (r["a_id"], r["b_id"])
        for r in semantic_near_dup_pairs(emb, threshold=0.3, nprobe=2).collect()
    }
    assert p1 <= p2  # multi-probe can only add boundary pairs
    # pair list has no duplicates even with shared multi-probe clusters
    rows = semantic_near_dup_pairs(emb, threshold=0.3, nprobe=2).collect()
    assert len(rows) == len({(r["a_id"], r["b_id"]) for r in rows})


def test_near_dup_quadratic_guard(spark, testdata):
    """Exact all-pairs variants must RAISE past the bucket bound instead
    of silently launching a corpus-scale cross product (r10 verdict:
    the two unguarded quadratic shapes were the only perf-weak items)."""
    import pytest

    from onetl_spark.llm.similarity import (
        near_dup_pairs_by_label,
        semantic_near_dup_pairs,
    )

    emb = spark.table("embeddings")
    with pytest.raises(Exception, match="quadratic"):
        near_dup_pairs_by_label(emb, max_bucket_rows=3).collect()
    with pytest.raises(Exception, match="quadratic"):
        semantic_near_dup_pairs(emb, nprobe=1, max_bucket_rows=3).collect()

    # escape hatch: identical pairs with the guard disabled entirely
    guarded = {
        (r["a_id"], r["b_id"], r["cos_sim"])
        for r in near_dup_pairs_by_label(emb).collect()
    }
    unguarded = {
        (r["a_id"], r["b_id"], r["cos_sim"])
        for r in near_dup_pairs_by_label(
            emb, max_bucket_rows=3, allow_quadratic=True
        ).collect()
    }
    assert guarded == unguarded and guarded


def test_ngram_containment_detects_quote(spark):
    from onetl_spark.llm.dedup import ngram_containment_pairs

    quote = "alpha beta gamma delta epsilon"
    book = quote + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, book), (3, "totally unrelated text here")],
        "doc_id long, text string",
    )
    rows = ngram_containment_pairs(df, threshold=0.9).collect()
    got = {(r["a_id"], r["b_id"]): r["containment"] for r in rows}
    # the quote is fully contained in the book; the book is NOT in the quote
    assert got.get((1, 2)) == 1.0
    assert (2, 1) not in got and all(3 not in k for k in got)


def test_ngram_pairs_max_df_drops_hot_shingles(spark):
    from onetl_spark.llm.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    boiler = "subscribe to our newsletter now"
    rows = [(i, f"unique{i} body{i} text{i} " + boiler) for i in range(20)]
    # two genuinely near-identical docs on top of the boilerplate
    rows += [(100, "the quick brown fox jumps high"), (101, "the quick brown fox jumps high today")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # uncapped: the shared boilerplate shingles relate all 20 docs pairwise
    uncapped = ngram_jaccard_pairs(df, threshold=0.3).collect()
    assert len(uncapped) > 50
    # capped at df<=2: boilerplate (df=20) leaves the universe; only the
    # genuine near-dup pair (and its boilerplate-free similarity) remains
    capped = {(r["a_id"], r["b_id"]) for r in ngram_jaccard_pairs(df, threshold=0.3, max_df=2).collect()}
    assert capped == {(100, 101)}

    # max_df=None keeps exact uncapped semantics bit-for-bit
    again = ngram_jaccard_pairs(df, threshold=0.3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, uncapped))

    # containment: capped universe, the quote pair survives, boiler pairs don't
    cont = {
        (r["a_id"], r["b_id"]): r["containment"]
        for r in ngram_containment_pairs(df, threshold=0.9, max_df=2).collect()
    }
    assert cont.get((100, 101)) == 1.0
    assert all(a == 100 or a == 101 for a, _ in cont)


def test_ahash_properties(spark):
    from onetl_spark.llm.multimodal import ahash_bits, image_ahash, with_binary_payload

    # pure function invariants
    assert ahash_bits(b"") == 0
    assert ahash_bits(b"\x00" * 100) == 0  # uniform payload: no cell above mean
    ramp = bytes(i % 256 for i in range(480))
    assert ahash_bits(ramp) == ahash_bits(ramp)  # deterministic
    # distinct content → (almost surely) distinct hashes
    df = spark.createDataFrame(
        [(1, "the quick brown fox " * 10), (2, "zzz yyy xxx www vvv " * 10), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["ahash"] for r in image_ahash(with_binary_payload(df)).collect()}
    assert out[3] == 0
    assert out[1] != out[2]


def test_hamming_near_dup_pigeonhole_complete(spark):
    from onetl_spark.llm.dedup import hamming_near_dup_pairs

    base = 0b101010101010101010101010101010101010101010101010
    rows = [
        (1, base),
        (2, base ^ 0b111),            # dist 3 — all flips in band 0
        (3, base ^ (1 << 47)),        # dist 1 — flip in the last band
        (4, base ^ ((1 << 13) | (1 << 25) | (1 << 37))),  # dist 3, spread across 3 bands
        (5, 0),                       # far away
    ]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in hamming_near_dup_pairs(df, max_dist=3).collect()
    }
    # exact reference: all pairs with bit_count(xor) <= 3
    import itertools

    want = {}
    for (i, hi), (j, hj) in itertools.combinations(rows, 2):
        d = bin(hi ^ hj).count("1")
        if d <= 3:
            want[(min(i, j), max(i, j))] = d
    assert got == want
    assert (1, 2) in got and (1, 3) in got and (1, 4) in got


def test_hamming_near_dup_validation(spark):
    import pytest as _pytest

    from onetl_spark.llm.dedup import hamming_near_dup_pairs

    df = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    with _pytest.raises(ValueError):
        hamming_near_dup_pairs(df, bits=4, max_dist=10)


def test_embedding_outlier_scores_range_and_centroid_zero(spark, testdata):
    from onetl_spark.llm.similarity import embedding_outlier_scores

    rows = embedding_outlier_scores(spark.table("embeddings")).collect()
    assert len(rows) == spark.table("embeddings").count()
    assert all(0.0 <= r["outlier_score"] <= 2.0 for r in rows)
    # a centroid is its own nearest centroid at distance 0
    by_id = {r["vec_id"]: r for r in rows}
    cid = next(i for i in by_id if i % 64 == 7)
    assert by_id[cid]["outlier_score"] == 0.0 and by_id[cid]["centroid_id"] == cid


def test_hybrid_filtered_topk_respects_filter(spark, testdata):
    from onetl_spark.llm.similarity import hybrid_filtered_topk

    docs = spark.table("documents")
    out = hybrid_filtered_topk(docs, spark.table("embeddings"), query_id=0, keyword="spark", k=5)
    rows = out.collect()
    assert 0 < len(rows) <= 5
    allowed = {
        r["doc_id"] for r in docs.filter("text LIKE '%spark%'").select("doc_id").collect()
    }
    assert all(r["vec_id"] in allowed and r["vec_id"] != 0 for r in rows)
    # descending similarity order
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_encoding_quality_signals(spark):
    from onetl_spark.llm.text import encoding_quality

    rows = [
        (1, "perfectly clean ascii text"),
        (2, "failed decode � here � too"),        # 2 replacement chars
        (3, "bell \x07 and null-ish \x01 controls"),        # 2 control chars
        (4, "tab\tand\nnewline\rare fine"),                 # exempt controls
        (5, "mojibake cafÃ© and aâ€™s quote"),  # 2 digraphs
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    feats = encoding_quality("t")
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[v.alias(k) for k, v in feats.items()]).collect()
    }
    assert out[1]["enc_clean"] and out[4]["enc_clean"]
    assert out[2]["n_replacement"] == 2 and not out[2]["enc_clean"]
    assert out[3]["n_control"] == 2 and not out[3]["enc_clean"]
    assert out[4]["n_control"] == 0
    assert out[5]["n_mojibake"] == 2 and not out[5]["enc_clean"]


def test_two_stage_rerank_matches_bruteforce_head(spark, testdata):
    """With a generous candidate pool the rerank result must equal exact
    brute-force top-k (the coarse stage only prunes, never reorders the
    survivors — stage 2 is exact)."""
    from onetl_spark.llm.similarity import bruteforce_topk, two_stage_rerank_topk

    emb = spark.table("embeddings")
    exact = [r["vec_id"] for r in bruteforce_topk(emb, query_id=0, k=5).collect()]
    staged = two_stage_rerank_topk(emb, query_id=0, k=5, candidates=200).collect()
    assert [r["vec_id"] for r in staged] == exact
    # scores are the TRUE cosines, not the quantized approximations
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in staged)


def test_two_stage_rerank_narrow_candidates_subset(spark, testdata):
    """k results always come back even from a tight candidate pool, and
    every result is a member of the coarse candidate set."""
    from onetl_spark.llm.similarity import quantized_topk, two_stage_rerank_topk

    emb = spark.table("embeddings")
    coarse_ids = {r["vec_id"] for r in quantized_topk(emb, query_id=0, k=12).collect()}
    out = two_stage_rerank_topk(emb, query_id=0, k=10, candidates=12).collect()
    assert len(out) == 10
    assert {r["vec_id"] for r in out} <= coarse_ids


def test_random_projection_shape_and_determinism(spark, testdata):
    from onetl_spark.llm.similarity import random_projection

    emb = spark.table("embeddings").limit(20)
    a = {r["vec_id"]: r["proj"] for r in random_projection(emb, out_dim=4).collect()}
    b = {r["vec_id"]: r["proj"] for r in random_projection(emb, out_dim=4).collect()}
    assert a == b  # md5-derived planes: no RNG state anywhere
    assert all(len(v) == 4 for v in a.values())


def test_random_projection_matches_numpy(spark, testdata):
    """The Spark column-expression projection must agree with a numpy
    matmul over the same md5-derived plane matrix (both via float64)."""
    import numpy as np

    from onetl_spark.llm.similarity import lsh_plane_component, random_projection

    emb = spark.table("embeddings").limit(10)
    planes = np.array(
        [[lsh_plane_component(p, d) for d in range(64)] for p in range(8)]
    )
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    got = {r["vec_id"]: r["proj"] for r in random_projection(emb, out_dim=8).collect()}
    for vid, vec in rows.items():
        expect = planes @ vec
        assert np.allclose(got[vid], expect, rtol=0, atol=1e-9), vid


def test_random_projection_matches_unrolled_chain(spark, testdata):
    """The literal-matrix zip_with/aggregate fold must produce doubles
    bit-identical to an unrolled multiply-add chain (the shape the DuckDB
    oracle SQL uses) — same left-to-right add order on both."""
    import pyspark.sql.functions as F

    from onetl_spark.llm import similarity as S

    emb = spark.table("embeddings").limit(10)
    hof = {r["vec_id"]: r["proj"] for r in S.random_projection(emb, out_dim=8).collect()}
    comps = []
    for p in range(8):
        proj = None
        for d in range(64):
            term = F.element_at(F.col("embedding"), d + 1).cast("double") * F.lit(
                S.lsh_plane_component(p, d)
            )
            proj = term if proj is None else proj + term
        comps.append(proj)
    chain = {
        r["vec_id"]: r["p"]
        for r in emb.select("vec_id", F.array(*comps).alias("p")).collect()
    }
    assert chain == hof


def test_projected_topk_shape(spark, testdata):
    """Structural guard: k rows, scores in [-1, 1], descending order with
    id tie-breaks. (Approximation *quality* is data-dependent — the
    synthetic embeddings are near-random, so recall vs exact top-k is not
    a meaningful invariant; cross-engine determinism is pinned by the
    driver oracle instead.)"""
    from onetl_spark.llm.similarity import projected_topk

    out = projected_topk(spark.table("embeddings"), query_id=0, k=10, out_dim=8).collect()
    assert len(out) == 10
    assert all(-1.0 <= r["pcos_sim"] <= 1.0 for r in out)
    keys = [(-r["pcos_sim"], r["vec_id"]) for r in out]
    assert keys == sorted(keys)


def test_gopher_rules_each_rule_fires(spark):
    from onetl_spark.llm.text import gopher_rules

    good = (
        "the quick brown fox jumps over the lazy dog and it was then very "
        "nice indeed to watch them play for hours"
    )
    docs = spark.createDataFrame(
        [
            (1, good),  # passes everything (21 words, stopwords, alpha)
            (2, "word " * 5),  # too short → r_word_count
            (3, ("the of and to in is it you that for " * 3) + "a b c d e f g h i j"),
            (4, "the of and to in " + " ".join(["12345"] * 20)),  # numeric words → r_alpha_words
            (5, "zebra quilt mango " + " ".join(f"w{i}" for i in range(20))),  # no stopwords
            (6, "the of and is it " + " ".join(["###"] * 20)),  # symbol ratio + alpha
        ],
        "doc_id long, text string",
    )
    r = gopher_rules("text")
    out = {row["doc_id"]: row for row in docs.select("doc_id", *[v.alias(k) for k, v in r.items()]).collect()}
    assert out[1]["keep"]
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    assert not out[4]["r_alpha_words"]
    assert not out[5]["r_stopwords"]
    assert not out[6]["r_symbol_ratio"]


def test_normalized_dedup_collapses_case_and_punct(spark):
    from onetl_spark.llm.dedup import normalized_dedup

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello world"),
            (3, "HELLO   world."),
            (4, "goodbye world"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in normalized_dedup(docs).collect()}
    assert set(out) == {1, 4}
    assert out[1]["n_copies"] == 3 and out[4]["n_copies"] == 1


def test_quantile_threshold_filter_integer_boundary(spark):
    from onetl_spark.llm.sampling import quantile_threshold_filter

    df = spark.createDataFrame([(i, i) for i in range(1, 101)], "id long, score long")
    kept = quantile_threshold_filter(df, "score", q=0.75).collect()
    # exact percentile of 1..100 at 0.75 = 75.25 → keep 76..100
    assert sorted(r["score"] for r in kept) == list(range(76, 101))
    approx = quantile_threshold_filter(df, "score", q=0.75, exact=False).count()
    assert approx >= 25  # sketch threshold is within epsilon of exact


def test_length_bucket_clamps_and_stats(spark):
    from onetl_spark.llm.sampling import length_bucket_stats

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 10)),  # 10 tokens → bucket 16
            (2, " ".join(["w"] * 16)),  # boundary → 16
            (3, " ".join(["w"] * 17)),  # → 32
            (4, " ".join(["w"] * 9000)),  # overflow clamps → 8192
        ],
        "doc_id long, text string",
    )
    out = {r["bucket"]: r for r in length_bucket_stats(docs).collect()}
    assert out[16]["n_docs"] == 2 and out[16]["actual_tokens"] == 26
    assert out[16]["padded_tokens"] == 32
    assert out[32]["n_docs"] == 1
    assert out[8192]["n_docs"] == 1 and out[8192]["actual_tokens"] == 9000
    assert abs(out[16]["waste_ratio"] - (1 - 26 / 32)) < 1e-9


def test_unigram_logprob_orders_rare_docs_low(spark):
    from onetl_spark.llm.text import unigram_logprob_scores

    # "common common" tokens dominate the corpus; doc 3 is all-rare
    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common rare common"),
            (3, "unique singular oddity rarity"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob_scores(docs).collect()}
    assert out[1]["n_tokens"] == 4
    # every token of doc 1 is the modal token → highest mean logprob
    assert out[1]["mean_logprob"] > out[2]["mean_logprob"] > out[3]["mean_logprob"]
    import math

    # doc 1: every token is "common", cf=7 of 12 corpus tokens → ln(7/12)
    assert abs(out[1]["mean_logprob"] - round(math.log(7 / 12), 9)) < 1e-9


def test_knn_classify_majority_and_ties(spark):
    from onetl_spark.llm.similarity import knn_classify

    # neighbours by closeness to query 0: two label-7, then two label-3,
    # then a far label-1
    rows = [
        (0, [1.0, 0.0], 99),
        (1, [0.99, 0.1], 7),
        (2, [0.98, 0.12], 7),
        (3, [0.97, 0.14], 3),
        (4, [0.96, 0.16], 3),
        (5, [0.4, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # k=3: labels 7,7,3 → clear majority 7 with 2 votes
    out3 = knn_classify(df, query_ids=[0], k=3).collect()
    assert len(out3) == 1
    assert out3[0]["knn_label"] == 7 and out3[0]["votes"] == 2
    # k=4: labels 7,7,3,3 → 2-2 tie broken to the smaller label
    out4 = knn_classify(df, query_ids=[0], k=4).collect()[0]
    assert out4["votes"] == 2 and out4["knn_label"] == 3


def test_incremental_dedup_against_existing_and_within_batch(spark):
    from onetl_spark.llm.dedup import incremental_dedup

    existing = spark.createDataFrame(
        [(1, "Already ingested doc."), (2, "another old one")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "already ingested doc"),  # dup of existing (normalized)
            (11, "brand new document"),
            (12, "Brand NEW document!"),  # dup of 11 within the batch
            (13, "wholly distinct entry"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in incremental_dedup(batch, existing).collect())
    assert kept == [11, 13]


def test_dedup_keep_best_prefers_high_score(spark):
    from onetl_spark.llm.dedup import dedup_keep_best

    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "Hello, World!"),      # same fingerprint, longer raw text
            (3, "HELLO world"),        # same fingerprint, mid length
            (4, "another doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_keep_best(docs, score_col=F.length("text")).collect()}
    # survivor of the duplicate group is the LONGEST copy (id 2, 13 chars)
    assert set(out) == {2, 4}
    assert out[2]["n_copies"] == 3 and out[2]["best_score"] == 13.0
    # score tie → smallest id: equal-length variants
    docs2 = spark.createDataFrame(
        [(5, "aa bb"), (6, "AA BB")], "doc_id long, text string",
    )
    out2 = dedup_keep_best(docs2, score_col=F.length("text")).collect()
    assert len(out2) == 1 and out2[0]["doc_id"] == 5


def test_duplicate_ngram_coverage_known_overlap(spark):
    from onetl_spark.llm.dedup import duplicate_ngram_coverage

    # doc 1 and 2 share the first 5 words (3 shared trigram shingles);
    # doc 3 is fully unique; doc 4 duplicates doc 1 exactly.
    rows = [
        (1, "alpha beta gamma delta epsilon one two"),
        (2, "alpha beta gamma delta epsilon nine ten"),
        (3, "completely different words entirely here now"),
        (4, "alpha beta gamma delta epsilon one two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in duplicate_ngram_coverage(df).collect()}
    # 7 tokens -> 5 trigrams each
    assert got[1]["n_shingles"] == 5 and got[4]["n_shingles"] == 5
    assert got[1]["n_dup_shingles"] == 5  # all shared with doc 4 (3 also with 2)
    assert got[4]["n_dup_shingles"] == 5
    assert got[2]["n_dup_shingles"] == 3  # the 3 shingles inside the shared prefix
    assert got[3]["n_dup_shingles"] == 0 and got[3]["dup_frac"] == 0.0
    assert got[1]["dup_frac"] == 1.0
    assert abs(got[2]["dup_frac"] - 0.6) < 1e-9


def test_duplicate_ngram_coverage_short_docs_whole_shingle(spark):
    from onetl_spark.llm.dedup import duplicate_ngram_coverage

    # docs shorter than n words fall back to one whole-document shingle
    rows = [(1, "hi there"), (2, "hi there"), (3, "bye now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in duplicate_ngram_coverage(df).collect()}
    assert got[1]["n_shingles"] == got[2]["n_shingles"] == 1
    assert got[1]["n_dup_shingles"] == got[2]["n_dup_shingles"]
    assert got[1]["n_dup_shingles"] == 1 and got[3]["n_dup_shingles"] == 0


def test_blocked_fuzzy_join_matches_and_blocks(spark):
    from onetl_spark.operators.linkage import blocked_fuzzy_join

    left = spark.createDataFrame(
        [(1, "kitten", "A"), (2, "sitting", "A"), (3, "kitten", "B")],
        "id long, name string, block string",
    )
    right = spark.createDataFrame(
        [(10, "mitten", "A"), (11, "kitten", "B"), (12, "kitten", "A")],
        "id long, name string, block string",
    )
    got = {
        (r["a_id"], r["b_id"]): r["distance"]
        for r in blocked_fuzzy_join(left, right, max_distance=2).collect()
    }
    # kitten~mitten = 1, kitten~kitten = 0; sitting~mitten = 4 (excluded);
    # cross-block kitten(A) vs kitten(B) never compared
    assert got == {(1, 10): 1, (1, 12): 0, (3, 11): 0}


def test_blocked_fuzzy_pairs_self_and_cap(spark, caplog):
    import logging

    from onetl_spark.operators.linkage import blocked_fuzzy_pairs

    rows = [(i, f"name{i % 2}", "big") for i in range(12)] + [
        (100, "abc", "small"), (101, "abd", "small"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, block string")
    with caplog.at_level(logging.WARNING):
        got = blocked_fuzzy_pairs(df, max_distance=1, max_block_size=5).collect()
    # the 12-row block exceeds the cap and is dropped (logged); only the
    # small block's single pair survives
    assert {(r["a_id"], r["b_id"], r["distance"]) for r in got} == {(100, 101, 1)}
    assert any("dropped" in r.message for r in caplog.records)


def test_minhash_calibration_identical_docs_bucket9(spark):
    from onetl_spark.llm.dedup import minhash_calibration

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base), (3, "totally different words here now indeed")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["bucket"]: r for r in minhash_calibration(df).collect()}
    # identical docs: exact jaccard 1.0 -> bucket 9, estimator exact too
    assert set(out) == {9}
    row = out[9]
    assert row["n_pairs"] == 1
    assert row["micro_est_jaccard"] == 1.0
    assert row["micro_exact_jaccard"] == 1.0
    assert row["sum_abs_err_scaled"] == 0


def test_lang_mix_bilingual_and_monolingual(spark):
    from onetl_spark.llm.text import lang_mix

    rows = [
        # pure English stopwords
        (1, "the of and to in"),
        # 3 en hits vs 2 de hits -> en primary, de secondary, ratio 2/5
        (2, "the of and der die"),
        # no stopwords at all
        (3, "zzz qqq www"),
        # tie en/de broken by priority: en primary, de secondary, ratio 1/2
        (4, "the der"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mix = lang_mix("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            mix["primary_lang"].alias("p"),
            mix["secondary_lang"].alias("s"),
            mix["mix_ratio"].alias("m"),
        ).collect()
    }
    assert (out[1]["p"], out[1]["s"], out[1]["m"]) == ("en", "und", 0.0)
    assert (out[2]["p"], out[2]["s"]) == ("en", "de")
    assert abs(out[2]["m"] - 0.4) < 1e-9
    assert (out[3]["p"], out[3]["s"], out[3]["m"]) == ("und", "und", 0.0)
    assert (out[4]["p"], out[4]["s"], out[4]["m"]) == ("en", "de", 0.5)


def test_pq_codebooks_shapes_and_determinism(spark, testdata):
    from onetl_spark.llm.similarity import pq_codebooks

    emb = spark.table("embeddings")
    cb = pq_codebooks(emb, m=4, dim=64, iterations=1)
    rows = cb.collect()
    n_seeds = emb.filter("vec_id % 64 = 5").count()
    assert len(rows) == 4 * n_seeds  # one codebook entry per (subspace, seed)
    assert all(len(r["cvec"]) == 16 for r in rows)
    rows2 = pq_codebooks(emb, m=4, dim=64, iterations=1).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2))


def test_pq_topk_recovers_cluster_structure(spark):
    """On data WITH cluster structure (the case PQ exists for), ADC top-k
    must return the query's cluster-mates. Three well-separated clusters
    per subspace; near-random corpora are covered by the oracle-checked
    showcase instead (quantization there is coarse by nature)."""
    import random

    from onetl_spark.llm.similarity import pq_topk

    rng = random.Random(11)
    dim, n_clusters, per_cluster = 16, 3, 20
    centers = [[10.0 * c + rng.uniform(-1, 1) for _ in range(dim)] for c in range(n_clusters)]
    rows = []
    for c in range(n_clusters):
        for j in range(per_cluster):
            vid = c * per_cluster + j
            rows.append((vid, [x + rng.uniform(-0.5, 0.5) for x in centers[c]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qid = 5  # cluster 0
    got = [
        r["vec_id"]
        for r in pq_topk(
            emb, query_id=qid, k=10, m=4, dim=dim, seed_filter="vec_id % 7 = 1",
            iterations=2,
        ).collect()
    ]
    assert len(got) == 10 and len(set(got)) == 10
    assert all(v < per_cluster for v in got), got  # all from the query's cluster
    # deterministic across runs
    got2 = [
        r["vec_id"]
        for r in pq_topk(
            emb, query_id=qid, k=10, m=4, dim=dim, seed_filter="vec_id % 7 = 1",
            iterations=2,
        ).collect()
    ]
    assert got == got2


def test_audio_frame_energy_matches_python_reference(spark):
    from onetl_spark.llm.multimodal import audio_frame_energy

    def ref(b, frame=4, hop=2, thr=100):
        dev = [x - 128 for x in b]
        n = len(dev)
        n_frames = (n - frame) // hop + 1 if n >= frame else 0
        act = sum(
            1
            for k in range(n_frames)
            if sum(x * x for x in dev[k * hop : k * hop + frame]) >= thr
        )
        return (
            n,
            sum(x * x for x in dev),
            max((abs(x) for x in dev), default=0),
            n_frames,
            act,
        )

    payloads = [
        bytes([128] * 10),            # pure silence: zero energy
        bytes([0, 255, 128, 64] * 5), # loud
        bytes([130, 126, 129]),       # shorter than one frame
        b"",                          # empty payload
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "doc_id long, payload binary"
    )
    got = {
        r["doc_id"]: (r["n_samples"], r["sum_sq"], r["peak_dev"], r["n_frames"], r["n_active"])
        for r in audio_frame_energy(df, frame=4, hop=2, active_threshold=100).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == ref(p), f"payload {i}"
    assert got[0][4] == 0      # silence: no active frames
    assert got[1][4] == got[1][3]  # loud: every frame active


def test_audio_frame_energy_validation(spark):
    import pytest

    from onetl_spark.llm.multimodal import audio_frame_energy

    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with pytest.raises(ValueError):
        audio_frame_energy(df, frame=0)
    with pytest.raises(ValueError):
        audio_frame_energy(df, hop=-1)


def test_blocked_fuzzy_pairs_matches_bruteforce_random(spark):
    """Randomized equivalence: blocked fuzzy self-pairs equal the brute
    nested-loop reference restricted to same-block pairs."""
    import itertools
    import random

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from onetl_spark.operators.linkage import blocked_fuzzy_pairs

    rng = random.Random(23)
    alphabet = "abcd"
    for trial in range(3):
        rows = [
            (
                i,
                "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 6))),
                rng.choice(["x", "y"]),
            )
            for i in range(24)
        ]
        want = {
            (a[0], b[0], lev(a[1], b[1]))
            for a, b in itertools.combinations(rows, 2)
            if a[2] == b[2] and lev(a[1], b[1]) <= 2
        }
        df = spark.createDataFrame(rows, "id long, name string, block string")
        got = {
            (r["a_id"], r["b_id"], r["distance"])
            for r in blocked_fuzzy_pairs(df, max_distance=2).collect()
        }
        assert got == want, f"trial {trial}"


def test_duplicate_ngram_coverage_matches_reference_random(spark):
    """Randomized equivalence vs a pure-Python shingle-df reference."""
    import random

    from onetl_spark.llm.dedup import duplicate_ngram_coverage

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(3):
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
            for i in range(15)
        ]
        # python reference: distinct trigrams per doc, df >= 2 marks dup
        def shingles(t):
            w = [x for x in t.lower().split() if x]
            if len(w) < 3:
                # word_shingles falls back to ONE whole-document shingle —
                # for an empty doc that's the empty string (empty docs
                # therefore all share one "" shingle)
                return {" ".join(w)}
            return {" ".join(w[k : k + 3]) for k in range(len(w) - 2)}

        per_doc = {i: shingles(t) for i, t in rows}
        df_counts = {}
        for s in per_doc.values():
            for g in s:
                df_counts[g] = df_counts.get(g, 0) + 1
        want = {}
        for i, s in per_doc.items():
            dup = sum(1 for g in s if df_counts[g] >= 2)
            want[i] = (len(s), dup)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_dup_shingles"])
            for r in duplicate_ngram_coverage(df).collect()
        }
        assert got == want, f"trial {trial}"


def test_embedding_contamination_flags_exact_copy(spark):
    from onetl_spark.llm.similarity import embedding_contamination

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),   # same direction → cos 1.0
            (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal → cos 0.0
            (3, [1.0, 1.0, 0.0, 0.0]),   # 45° → cos ~0.707
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in embedding_contamination(corpus, bench, threshold=0.9).collect()
    }
    assert out[1]["contaminated"] and out[1]["max_bench_cos"] == 1.0
    assert not out[2]["contaminated"] and out[2]["max_bench_cos"] == 0.0
    assert not out[3]["contaminated"]
    assert abs(out[3]["max_bench_cos"] - 0.707106781) < 1e-6


def test_embedding_contamination_max_over_benchmark(spark):
    from onetl_spark.llm.similarity import embedding_contamination

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(1, [0.6, 0.8])], "vec_id long, embedding array<float>"
    )
    r = embedding_contamination(corpus, bench, threshold=0.75).collect()[0]
    # max over both benchmark vectors: max(0.6, 0.8) = 0.8
    assert abs(r["max_bench_cos"] - 0.8) < 1e-6 and r["contaminated"]  # float32 storage


def test_bpe_merge_candidates_counts(spark):
    from onetl_spark.llm.text import bpe_merge_candidates

    # "aaab aaab" -> per word: aa, aa, ab ; two occurrences of the word
    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "xy x")], "doc_id long, text string"
    )
    rows = bpe_merge_candidates(df, k=10).collect()
    got = {r["pair"]: r["n"] for r in rows}
    # occurrence-weighted: aa appears 2x per "aaab" occurrence
    assert got == {"aa": 4, "ab": 2, "xy": 1}
    # ranking: count desc then lexicographic
    assert [r["pair"] for r in rows] == ["aa", "ab", "xy"]


def test_curation_funnel_monotone_and_plausible(spark, testdata):
    import os

    from onetl_spark.showcase.llm import corpus_curation_funnel

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = corpus_curation_funnel(spark, sf_dir).collect()
    assert rows
    total = 0
    for r in rows:
        # cumulative conjunction → monotone non-increasing
        assert r["n_total"] >= r["n_gopher"] >= r["n_unique"] >= r["n_low_dup"] >= r["n_final"] >= 0
        total += r["n_total"]
    assert total == spark.table("documents").count()


def test_lang_mix_stats_equals_naive_columns(spark, testdata):
    """The staged-projection fast path must produce exactly the naive
    column-expression results (same CASE logic, same rounding)."""
    from onetl_spark.llm.text import lang_mix, lang_mix_stats

    docs = spark.table("documents").limit(200)
    naive = lang_mix("text")
    a = {
        r["doc_id"]: (r["p"], r["s"], r["m"])
        for r in docs.select(
            "doc_id",
            naive["primary_lang"].alias("p"),
            naive["secondary_lang"].alias("s"),
            naive["mix_ratio"].alias("m"),
        ).collect()
    }
    b = {
        r["doc_id"]: (r["primary_lang"], r["secondary_lang"], r["mix_ratio"])
        for r in lang_mix_stats(docs).collect()
    }
    assert a == b


def test_pq_encode_frozen_codebooks_consistent(spark, testdata):
    """Encoding with frozen codebooks must equal the codes pq_topk derives
    internally, and every vector gets exactly m codes."""
    from onetl_spark.llm.similarity import pq_codebooks, pq_encode

    emb = spark.table("embeddings")
    cb = pq_codebooks(emb, m=4, dim=64, iterations=1)
    codes = pq_encode(emb, codebooks=cb, m=4, dim=64).collect()
    per_vec = {}
    for r in codes:
        per_vec.setdefault(r["vec_id"], set()).add(r["m"])
    n = emb.count()
    assert len(per_vec) == n
    assert all(ms == {0, 1, 2, 3} for ms in per_vec.values())
    # re-encoding with the same frozen codebooks is bit-identical
    codes2 = pq_encode(emb, codebooks=cb, m=4, dim=64).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, codes2))


def test_kcenter_coreset_matches_bruteforce(spark):
    import random

    from onetl_spark.llm.similarity import kcenter_coreset

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # python reference (float32 round-trip to match the stored column)
    import numpy as np

    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rows}
    picked = [0]
    dists = {i: float("inf") for i in vecs}
    want = [(0, 0, 0.0)]
    for rnd in range(1, 6):
        c = vecs[picked[-1]]
        for i in vecs:
            dists[i] = min(dists[i], round(float(((vecs[i] - c) ** 2).sum()), 9))
        cand = [(d, -i, i) for i, d in dists.items() if i not in picked]
        d, _, i = max(cand)
        picked.append(i)
        want.append((rnd, i, d))

    got = [
        (r["round"], r["vec_id"], r["min_dist_sq"])
        for r in kcenter_coreset(df, k=6).orderBy("round").collect()
    ]
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, gd), (_, _, wd) in zip(got, want):
        assert abs(gd - wd) < 1e-6
    # coverage radius is non-increasing after round 1
    radii = [d for _, _, d in got[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_kcenter_coreset_duplicate_corpus_and_exhaustion(spark):
    from onetl_spark.llm.similarity import kcenter_coreset

    rows = [(i, [1.0, 2.0]) for i in range(3)]  # all identical
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kcenter_coreset(df, k=5).collect()
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["round"])]
    assert ids == [0, 1, 2]  # never re-picks; stops at corpus size
    assert all(r["min_dist_sq"] == 0.0 for r in got)


def test_label_noise_rate_planted_noise(spark):
    from onetl_spark.llm.similarity import label_noise_rate

    # two tight clusters with consistent labels, plus one mislabeled
    # point inside cluster 0 — its neighborhood votes it down
    import random

    rng = random.Random(3)
    rows = []
    for i in range(12):
        rows.append((i, [1.0 + rng.uniform(-0.01, 0.01) for _ in range(4)], 0))
    for i in range(12, 24):
        rows.append((i, [-1.0 + rng.uniform(-0.01, 0.01) for _ in range(4)], 1))
    rows.append((24, [1.0, 1.0, 1.0, 1.0], 1))  # mislabeled: sits in cluster 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        r["label"]: r
        for r in label_noise_rate(df, sample_filter="vec_id >= 0", k=5).collect()
    }
    # every label-0 point agrees with its neighborhood
    assert out[0]["n_disagree"] == 0 and out[0]["noise_rate"] == 0.0
    # exactly the planted point disagrees among label-1 checks
    assert out[1]["n_checked"] == 13 and out[1]["n_disagree"] == 1
    assert abs(out[1]["noise_rate"] - 1 / 13) < 1e-9


def test_bigram_logprob_scores_hand_computed(spark):
    import math

    from onetl_spark.llm.text import bigram_logprob_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "z")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in bigram_logprob_scores(df).collect()}
    # corpus unigrams: a×4 b×2 z×1  N=7 ; bigrams: doc1 [a b, b a, a b], doc2 [a a]
    # doc3 has one token → no bigrams → absent
    assert set(got) == {1, 2}
    assert got[1]["n_bigrams"] == 3 and got[2]["n_bigrams"] == 1
    c = {"a": 4, "b": 2, "z": 1}
    c12 = {("a", "b"): 2, ("b", "a"): 1, ("a", "a"): 1}

    def lp(w1, w2):
        return round(math.log(0.7 * (c12[(w1, w2)] * 1.0 / c[w1]) + 0.3 * (c[w2] * 1.0 / 7)), 9)

    want1 = round((2 * lp("a", "b") + lp("b", "a")) / 3, 9)
    assert abs(got[1]["mean_logprob"] - want1) < 1e-8
    assert abs(got[2]["mean_logprob"] - lp("a", "a")) < 1e-8


def test_bigram_logprob_rare_pairs_score_lower(spark):
    from onetl_spark.llm.text import bigram_logprob_scores

    # same words, but doc 2 shuffles them into never-seen-elsewhere pairs
    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((99, "mat the on sat cat the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_logprob"] for r in bigram_logprob_scores(df).collect()}
    assert got[99] < got[0]


def test_scene_change_stats_hand_computed(spark):
    from onetl_spark.llm.multimodal import ahash_bits, scene_change_stats

    flat = bytes([100] * 8)           # uniform frame → hash 0
    ramp = bytes(range(8, 248, 30))   # ramp frame → half the bits set
    payload = flat + ramp + flat      # cuts at both transitions
    df = spark.createDataFrame([(1, bytearray(payload)), (2, bytearray(flat))],
                               "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in
           scene_change_stats(df, frame_size=8, threshold=16).collect()}
    h_flat, h_ramp = ahash_bits(flat), ahash_bits(ramp)
    want_d = bin(h_flat ^ h_ramp).count("1")
    assert got[1]["n_frames"] == 3
    assert got[1]["max_hamming"] == want_d
    assert got[1]["n_changes"] == (2 if want_d >= 16 else 0)
    # single-frame video: no pairs, no cuts
    assert (got[2]["n_frames"], got[2]["n_changes"], got[2]["max_hamming"]) == (1, 0, 0)


def test_bpe_train_merges_matches_reference(spark):
    from collections import Counter

    from onetl_spark.llm.text import bpe_train_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    # python reference with identical greedy-left-to-right + lexicographic
    # tie-break semantics
    wf = Counter(w for t in texts for w in t.split())
    vocab = {w: list(w) for w in wf}
    want_merges = []
    for _ in range(8):
        cnt = Counter()
        for w, f in wf.items():
            s = vocab[w]
            for x, y in zip(s, s[1:]):
                cnt[(x, y)] += f
        if not cnt:
            break
        (a, b), n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        want_merges.append((a, b, n))
        for w, s in vocab.items():
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out

    merges, final = bpe_train_merges(df, num_merges=8)
    assert merges == want_merges
    got_syms = {r["word"]: list(r["symbols"]) for r in final.collect()}
    assert got_syms == vocab


def test_bpe_token_counts_with_oov_fallback(spark):
    from onetl_spark.llm.text import bpe_token_counts, bpe_train_merges

    train = spark.createDataFrame(
        [(0, "aaaa aaaa aaaa bb bb")], "doc_id long, text string"
    )
    merges, vocab = bpe_train_merges(train, num_merges=2)
    # merges: (a,a) then (aa,aa) -> 'aaaa' is 1 token, 'bb' stays 2 chars
    score = spark.createDataFrame(
        [(1, "aaaa bb zzz")], "doc_id long, text string"
    )
    got = bpe_token_counts(score, vocab).first()
    lens = {r["word"]: len(r["symbols"]) for r in vocab.collect()}
    want = lens["aaaa"] + lens["bb"] + 3  # zzz is OOV -> 3 chars
    assert got["n_bpe_tokens"] == want


def test_bpe_token_counts_reports_zero_for_wordless_docs(spark):
    from onetl_spark.llm.text import bpe_token_counts, bpe_train_merges

    train = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    _, vocab = bpe_train_merges(train, num_merges=1)
    score = spark.createDataFrame([(1, ""), (2, "ab")], "doc_id long, text string")
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_counts(score, vocab).collect()}
    assert got[1] == 0 and got[2] == 1


def test_scene_change_stats_null_payload(spark):
    from onetl_spark.llm.multimodal import scene_change_stats

    df = spark.createDataFrame([(1, None)], "doc_id long, payload binary")
    row = scene_change_stats(df, frame_size=8).first()
    assert (row["n_frames"], row["n_changes"], row["max_hamming"]) == (0, 0, 0)


def test_bpe_driver_mode_bit_identical_to_distributed(spark):
    """mode='driver' (the production sample-to-driver path) must produce
    the exact merge list and final symbol table of the distributed loop."""
    from onetl_spark.llm.text import bpe_train_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest wide wide",
        "a bb ccc dddd",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    m_dist, v_dist = bpe_train_merges(df, num_merges=12)
    m_drv, v_drv = bpe_train_merges(df, num_merges=12, mode="driver")
    assert m_drv == m_dist
    dist_syms = {r["word"]: list(r["symbols"]) for r in v_dist.collect()}
    drv_syms = {r["word"]: list(r["symbols"]) for r in v_drv.collect()}
    assert drv_syms == dist_syms


def test_bpe_driver_mode_vocab_cap_logs_and_trains_on_head(spark, caplog):
    from onetl_spark.llm.text import bpe_token_counts, bpe_train_merges

    df = spark.createDataFrame(
        [(0, "aa aa aa aa bb bb cc")], "doc_id long, text string"
    )
    import logging as _l

    with caplog.at_level(_l.WARNING, logger="onetl_spark.llm.text"):
        merges, vocab = bpe_train_merges(
            df, num_merges=1, mode="driver", vocab_cap=2
        )
    assert any("capped" in r.message for r in caplog.records)
    # trained only on {aa, bb}: top pair is (a, a) with weight 4
    assert merges == [("a", "a", 4)]
    # cc is OUT of the capped vocabulary -> OOV char fallback in encode
    counts = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(df, vocab).collect()
    }
    # 4*[aa] + 2*[b,b] + [c,c] = 4 + 4 + 2
    assert counts == {0: 10}


def test_char_entropy_known_values(spark):
    from math import log

    from onetl_spark.llm.text import char_entropy

    df = spark.createDataFrame(
        [(0, ""), (1, "aaaa"), (2, "ab"), (3, "aabb")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert out[0]["entropy_nats"] == 0.0 and out[0]["n_chars"] == 0
    assert out[1]["entropy_nats"] == 0.0  # single-symbol text
    # entropy accumulates per-character terms each rounded to 9 decimals
    term = round(-0.5 * log(0.5), 9)
    assert out[2]["entropy_nats"] == 2 * term
    assert out[3]["entropy_nats"] == 2 * term


def test_rake_scores_match_hand_computation(spark):
    from onetl_spark.llm.text import rake_keywords

    # phrases: [deep learning], [deep models], [models] after stopword
    # ('of', 'the') delimiters. freq/degree: deep 2/4, learning 1/2,
    # models 2/3 -> scores 2.0, 2.0, 1.5
    df = spark.createDataFrame(
        [(7, "deep learning of the deep models for models")],
        "doc_id long, text string",
    )
    got = {(r["phrase"]): (r["score"], r["rank"]) for r in rake_keywords(df, k=5).collect()}
    assert got["deep learning"] == (4.0, 1)      # 2.0 + 2.0
    assert got["deep models"] == (3.5, 2)        # 2.0 + 1.5
    assert got["models"] == (1.5, 3)


def test_merge_aggregate_state_exact_and_one_sided_keys(spark):
    from onetl_spark.operators.maintenance import (
        aggregate_state,
        merge_aggregate_state,
    )

    a = spark.createDataFrame(
        [("x", 1.25), ("x", 2.5), ("y", 10.0)], "k string, v double"
    )
    b = spark.createDataFrame(
        [("x", 0.25), ("z", 7.0), ("z", None)], "k string, v double"
    )
    merged = {
        r["k"]: r
        for r in merge_aggregate_state(
            aggregate_state(a, ["k"], "v"), aggregate_state(b, ["k"], "v"), ["k"]
        ).collect()
    }
    assert merged["x"]["n"] == 3 and float(merged["x"]["sum"]) == 4.0
    assert merged["x"]["min"] == 0.25 and merged["x"]["max"] == 2.5
    assert merged["y"]["n"] == 1 and merged["y"]["max"] == 10.0   # prev-only key
    assert merged["z"]["n"] == 2 and merged["z"]["n_nulls"] == 1  # delta-only key
    assert float(merged["z"]["sum"]) == 7.0


def test_top_principal_component_matches_numpy(spark):
    """Power iteration converges to numpy's top covariance eigenvector
    (sign-aligned) and the Rayleigh quotient approaches the eigenvalue."""
    import numpy as np

    from onetl_spark.llm.similarity import top_principal_component

    rng = np.random.RandomState(11)
    # anisotropic cloud: dominant direction (3, 1, 0.2)/|.|
    base = rng.randn(200, 3) * np.array([0.1, 0.1, 0.05])
    t = rng.randn(200, 1)
    x = base + t * (np.array([3.0, 1.0, 0.2]) / np.linalg.norm([3.0, 1.0, 0.2]))
    df = spark.createDataFrame(
        [(i, [float(a) for a in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    out = top_principal_component(df, iterations=20)
    rows = sorted(out.collect(), key=lambda r: r["dim"])
    got = np.array([r["component"] for r in rows])

    xc = x.astype(np.float32).astype(np.float64)
    c = np.cov((xc - xc.mean(axis=0)).T, bias=True)
    evals, evecs = np.linalg.eigh(c)
    top = evecs[:, -1]
    if np.dot(top, got) < 0:
        top = -top
    assert np.allclose(got, top, atol=1e-3)
    assert abs(rows[0]["eigenvalue"] - evals[-1]) < 1e-3 * max(evals[-1], 1)

    import pytest as _pt

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pt.raises(ValueError, match="empty"):
        top_principal_component(empty)


def test_spark_round9_matches_jvm_round_bit_for_bit(spark):
    """``_spark_round9`` is total and equals ``F.round(x, 9)`` on the
    running JVM bit for bit over the doubles an iterative driver can feed
    it: the float32 grid, values next to HALF_UP ties, magnitudes 1e-12 to
    1e12, raw bit patterns up to 1e25, and the edge values (±0,
    subnormals, the largest double, ±inf, NaN)."""
    import math
    import random
    import struct

    from pyspark.sql import functions as F

    from onetl_spark.llm.similarity import _spark_round9

    rng = random.Random(9)
    xs = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072009e-308, 1e-310,
          1.7976931348623157e308, -1.7976931348623157e308, 1e19, -1e19,
          math.inf, -math.inf, math.nan]
    for _ in range(800):
        xs.append(struct.unpack("f", struct.pack("f", rng.uniform(-4.0, 4.0)))[0])
        tie = (rng.randrange(-10**7, 10**7) + 0.5) / 1e9
        xs += [tie, math.nextafter(tie, math.inf), math.nextafter(tie, -math.inf)]
        xs.append(rng.choice((1, -1)) * 10 ** rng.uniform(-12, 12))
        while True:
            x = struct.unpack("d", struct.pack("Q", rng.getrandbits(64)))[0]
            if abs(x) <= 1e25:
                xs.append(x)
                break
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x double")
    got = dict(df.select("i", F.round("x", 9).alias("r")).collect())

    def bits(v):
        return "nan" if math.isnan(v) else struct.pack("d", v).hex()

    bad = [(x, got[i], _spark_round9(x)) for i, x in enumerate(xs)
           if bits(got[i]) != bits(_spark_round9(x))]
    assert bad == []


def test_top_two_principal_components_match_numpy(spark):
    """Block (orthogonal) power iteration converges to numpy's top TWO
    covariance eigenvectors (sign-aligned), eigenvalues approach theirs,
    and the returned basis is orthonormal to rounding."""
    import numpy as np

    from onetl_spark.llm.similarity import top_two_principal_components

    rng = np.random.RandomState(7)
    # two separated spectral directions + isotropic noise floor
    d1 = np.array([3.0, 1.0, 0.2, 0.0]) / np.linalg.norm([3.0, 1.0, 0.2, 0.0])
    d2 = np.array([-1.0, 3.0, 0.0, 0.5])
    d2 -= d2 @ d1 * d1
    d2 /= np.linalg.norm(d2)
    x = (
        rng.randn(300, 1) * 2.0 * d1
        + rng.randn(300, 1) * 0.8 * d2
        + rng.randn(300, 4) * 0.05
    )
    df = spark.createDataFrame(
        [(i, [float(a) for a in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    rows = sorted(
        top_two_principal_components(df, iterations=25).collect(),
        key=lambda r: r["dim"],
    )
    v1 = np.array([r["component1"] for r in rows])
    v2 = np.array([r["component2"] for r in rows])

    xc = x.astype(np.float32).astype(np.float64)
    c = np.cov((xc - xc.mean(axis=0)).T, bias=True)
    evals, evecs = np.linalg.eigh(c)
    e1, e2 = evecs[:, -1], evecs[:, -2]
    if e1 @ v1 < 0:
        e1 = -e1
    if e2 @ v2 < 0:
        e2 = -e2
    assert np.allclose(v1, e1, atol=1e-3)
    assert np.allclose(v2, e2, atol=1e-3)
    assert abs(rows[0]["eigenvalue1"] - evals[-1]) < 1e-3 * max(evals[-1], 1)
    assert abs(rows[0]["eigenvalue2"] - evals[-2]) < 1e-3 * max(evals[-2], 1)
    # orthonormal basis up to the 1e-9 normalize rounding
    assert abs(v1 @ v2) < 1e-6
    assert abs(np.linalg.norm(v1) - 1) < 1e-6
    assert abs(np.linalg.norm(v2) - 1) < 1e-6

    import pytest as _pt

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pt.raises(ValueError, match="empty"):
        top_two_principal_components(empty)
    one_d = spark.createDataFrame([(1, [1.0]), (2, [2.0])], "vec_id long, embedding array<float>")
    with _pt.raises(ValueError, match="dimension"):
        top_two_principal_components(one_d)


def test_zipf_fit_synthetic_slopes(spark):
    from onetl_spark.llm.text import zipf_fit

    # term r appears floor(2000/r) times -> log-log slope near -1
    words = []
    for r in range(1, 21):
        words += [f"t{r:02d}"] * (2000 // r)
    df = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    row = zipf_fit(df, top_k=20).collect()[0]
    assert row["n_terms"] == 20
    assert abs(row["slope"] + 1.0) < 0.05

    # perfectly uniform frequencies -> slope 0
    uni = spark.createDataFrame(
        [(0, (" ".join(f"u{r}" for r in range(30)) + " ") * 10)],
        "doc_id long, text string",
    )
    row = zipf_fit(uni, top_k=30).collect()[0]
    assert row["slope"] == 0.0


def test_winnow_fingerprints_match_python_reference(spark):
    import hashlib

    from onetl_spark.llm.text import winnow_fingerprints

    def ref_winnow(text, k, w):
        # mirror normalize_text: lower, strip non-alnum (keep ws), collapse
        import re

        t = re.sub(r"\s+", " ", re.sub(r"[^\w\s]", "", text.lower())).strip()
        hs = [
            int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(t) - k + 1)
        ]
        sel = set()
        for j in range(len(hs)):
            lo = max(0, j - w + 1)
            win = hs[lo : j + 1]
            m = min(win)
            # rightmost minimum in the window
            p = lo + max(i for i, h in enumerate(win) if h == m)
            sel.add((p + 1, hs[p]))
        return sel

    texts = [
        (1, "The quick brown fox jumps over the lazy dog!"),
        (2, "pack my box with five dozen liquor jugs, quickly."),
        (3, "aaaa aaaa aaaa aaaa"),  # heavy ties: rightmost-min rule matters
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(df, k=5, window=4).collect()
    }
    want = {
        (d, p, h) for d, t in texts for (p, h) in ref_winnow(t, 5, 4)
    }
    assert got == want


def test_winnow_overlap_guarantee_and_validation(spark):
    import pytest as _pt

    from onetl_spark.llm.text import winnow_overlap_pairs

    # the winnowing guarantee: a shared substring of length >= w + k - 1
    # (here 4 + 5 - 1 = 8, we share a full sentence) yields shared
    # fingerprints; two unrelated docs yield none
    shared = "identical plagiarized passage lives here"
    docs = [
        (1, "first document intro. " + shared + " then totally different tail."),
        (2, "unrelated opener text, " + shared + " and another distinct ending."),
        (3, "zebra quartz jigsaw vexing flummox entirely separate content body."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["a_id"], r["b_id"]): r["shared"]
        for r in winnow_overlap_pairs(df, k=5, window=4, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)

    with _pt.raises(ValueError, match="k and window"):
        winnow_overlap_pairs(df, k=0)


def test_textrank_keywords_centrality_vs_frequency(spark):
    import pytest as _pt

    from onetl_spark.llm.text import textrank_keywords

    # "hub" co-occurs with every other word; "spoke" words only with hub.
    # TextRank must rank hub first even though every word has similar
    # frequency; the isolated repeated pair never outranks the hub.
    docs = [
        "hub alpha hub beta hub gamma hub delta",
        "hub alpha hub beta hub gamma hub delta",
        "hub alpha hub beta hub gamma hub delta",
        "loner loner loner loner loner twin twin twin",
    ]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    rows = textrank_keywords(df, min_cooccur=2, iterations=3, top_k=10).collect()
    assert rows[0]["word"] == "hub"
    words = [r["word"] for r in rows]
    assert set(words) >= {"hub", "alpha", "beta", "gamma", "delta"}
    # deterministic: re-running yields the identical ranking
    again = textrank_keywords(df, min_cooccur=2, iterations=3, top_k=10).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]

    with _pt.raises(ValueError, match="top_k"):
        textrank_keywords(df, top_k=0)


def test_bm25_topk_matches_python_reference(spark):
    import math

    import pytest as _pt

    from onetl_spark.llm.text import bm25_topk

    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana banana banana"),
        (3, "cherry date elderberry fig grape"),
        (4, "apple apple apple apple banana banana cherry cherry"),
    ]
    q = ["apple", "banana"]
    k1, b = 1.2, 0.75

    def ref():
        toks = {d: t.split() for d, t in docs}
        n = len(docs)
        avg = sum(len(t) for t in toks.values()) / n
        dfreq = {t: sum(1 for w in toks.values() if t in w) for t in q}
        out = {}
        for d, words in toks.items():
            s = 0.0
            hits = 0
            for t in q:
                tf = words.count(t)
                if not tf:
                    continue
                hits += 1
                idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                s += round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(words) / avg)), 9)
            if hits:
                out[d] = (round(s, 9), hits)
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["bm25"], r["n_terms_hit"])
           for r in bm25_topk(df, q, k1=k1, b=b, top_k=10).collect()}
    want = ref()
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d][0] - want[d][0]) < 1e-9 and got[d][1] == want[d][1], d
    # doc 4 has the most query mass and must rank first
    rows = bm25_topk(df, q, k1=k1, b=b, top_k=1).collect()
    assert rows[0]["doc_id"] == 4

    with _pt.raises(ValueError, match="query_terms"):
        bm25_topk(df, [])
    with _pt.raises(ValueError, match="top_k"):
        bm25_topk(df, q, top_k=0)


def test_phrase_blocklist_counts(spark):
    from onetl_spark.llm.text import phrase_blocklist_counts

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat the cat sat"),
            (2, "cat sat cat sat cat"),
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["phrase"]: (r["n_docs"], r["n_hits"])
        for r in phrase_blocklist_counts(
            docs, ["cat sat", "the cat sat", "sat cat sat", "missing phrase", "cat"]
        ).collect()
    }
    assert got["cat sat"] == (2, 4)        # 2 in doc1, 2 in doc2
    assert got["the cat sat"] == (1, 2)    # doc1 only
    assert got["sat cat sat"] == (1, 1)    # overlapping occurrences allowed
    assert got["missing phrase"] == (0, 0)
    assert got["cat"] == (2, 5)            # single-token phrase
    # case-insensitive both sides
    upper = spark.createDataFrame([(1, "The CAT Sat")], "doc_id long, text string")
    got2 = {
        r["phrase"]: r["n_hits"]
        for r in phrase_blocklist_counts(upper, ["Cat SAT"]).collect()
    }
    assert got2["Cat SAT"] == 1


def test_phrase_blocklist_guards(spark):
    from onetl_spark.llm.text import phrase_blocklist_counts

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        phrase_blocklist_counts(docs, [])
    with pytest.raises(ValueError):
        phrase_blocklist_counts(docs, ["  "])


def test_geometric_median_robust_to_outlier(spark):
    from onetl_spark.llm.similarity import geometric_median

    # 9 points near (0, 0), one huge outlier: the mean is dragged ~10
    # units toward it, the Weiszfeld estimate stays near the cluster
    pts = [([0.1 * i, 0.05 * i],) for i in range(9)] + [([100.0, 100.0],)]
    df = spark.createDataFrame(pts, "embedding array<double>")
    rows = {r["dim"]: r for r in geometric_median(df, iterations=8).collect()}
    assert abs(rows[0]["mean"] - 10.36) < 0.01
    assert rows[0]["geo_median"] < 1.0
    assert rows[1]["geo_median"] < 1.0


def test_geometric_median_exact_center(spark):
    from onetl_spark.llm.similarity import geometric_median

    # symmetric cross around (5, 5): the geometric median is the center;
    # a point EXACTLY at the estimate must be excluded, not divide by zero
    pts = [([5.0, 5.0],), ([4.0, 5.0],), ([6.0, 5.0],), ([5.0, 4.0],), ([5.0, 6.0],)]
    df = spark.createDataFrame(pts, "embedding array<double>")
    rows = {r["dim"]: r["geo_median"] for r in geometric_median(df, iterations=5).collect()}
    assert abs(rows[0] - 5.0) < 1e-6 and abs(rows[1] - 5.0) < 1e-6


def test_geometric_median_guards(spark):
    from onetl_spark.llm.similarity import geometric_median

    df = spark.createDataFrame([([1.0],)], "embedding array<double>")
    with pytest.raises(ValueError):
        geometric_median(df, iterations=0)
    empty = spark.createDataFrame([], "embedding array<double>")
    with pytest.raises(ValueError):
        geometric_median(empty)


def test_corpus_heaps_law_growing_vocab(spark, tmp_path):
    import math

    from onetl_spark.showcase.llm import corpus_heaps_law

    # tokens drawn from a pool that widens like sqrt(corpus size):
    # vocabulary grows sublinearly, so the log-log slope lands in (0, 1)
    rows = []
    for i in range(60):
        pool = int((20 * (i + 1)) ** 0.5) + 1
        words = [f"w{(i * 7 + j * 13) % pool}" for j in range(20)]
        rows.append((i, " ".join(words), "en", "src", len(" ".join(words))))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    row = corpus_heaps_law(spark, d).collect()[0]
    assert row["points"] == 20
    assert 0.3 < row["beta"] < 1.0 and row["k"] > 0


def test_source_js_divergence_bounds(spark, tmp_path):
    from onetl_spark.showcase.llm import source_js_divergence

    rows = [
        (1, "alpha beta gamma alpha", "en", "same1", 10),
        (2, "alpha beta gamma alpha", "en", "same2", 10),
        (3, "delta epsilon zeta eta", "en", "other", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    got = {
        (r["src_a"], r["src_b"]): r["jsd_bits"]
        for r in source_js_divergence(spark, d).collect()
    }
    assert got[("same1", "same2")] == 0.0          # identical distributions
    assert got[("other", "same1")] == 1.0          # disjoint vocabularies
    assert got[("other", "same2")] == 1.0


def test_ivf_recall_eval_bounds_and_exact_match(spark):
    from onetl_spark.llm.similarity import ivf_recall_eval

    # tight clusters far apart: single-probe IVF with a centroid in each
    # cluster must achieve recall 1.0 for in-cluster neighbors
    rows = []
    for cid, base in [(0, 0.0), (1, 50.0)]:
        for i in range(8):
            rows.append((cid * 8 + i, [base + 0.01 * i, base + 1.0, 1.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # centroids: one vec per cluster (ids 7 and 15 -> vec_id % 8 == 7)
    out = {
        r["query_id"]: r
        for r in ivf_recall_eval(
            df, [0, 8], k=5, centroid_filter="vec_id % 8 = 7"
        ).collect()
    }
    assert out[0]["recall"] == 1.0 and out[8]["recall"] == 1.0
    assert out[0]["n_hits"] == 5

    import pytest

    with pytest.raises(ValueError):
        ivf_recall_eval(df, [])


def test_centroid_silhouette_hand_case(spark):
    from onetl_spark.llm.similarity import centroid_silhouette

    rows = [
        (1, [0.0, 0.0], 0),
        (2, [2.0, 0.0], 0),
        (3, [10.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in centroid_silhouette(df).collect()}
    # label 0 centroid (1,0); label 1 centroid (10,0)
    # pt1: a=1 b=10 -> 0.9 ; pt2: a=1 b=8 -> 0.875 ; pt3: a=0 b=9 -> 1.0
    assert out[0]["n"] == 2 and out[1]["n"] == 1
    assert abs(out[0]["mean_silhouette"] - 0.8875) < 1e-9
    assert abs(out[1]["mean_silhouette"] - 1.0) < 1e-9
    assert abs(out[0]["mean_a"] - 1.0) < 1e-9
    assert abs(out[1]["mean_b"] - 9.0) < 1e-9

    # single label: no other centroid -> NULL silhouette mean stays NULL-safe
    one = spark.createDataFrame(
        [(1, [0.0], 0), (2, [2.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    r = centroid_silhouette(one).collect()[0]
    assert r["mean_silhouette"] is None and r["mean_b"] is None


def test_kmeans_lloyd_separated_clusters(spark):
    from onetl_spark.llm.similarity import kmeans_lloyd

    # two tight blobs in 64-d: ids 1-3 near e1, ids 4-6 near e2;
    # k=2 seeds from the two smallest ids land one seed per blob
    def vec(axis, bump):
        v = [0.0] * 64
        v[axis] = 10.0
        v[(axis + 2) % 64] = bump
        return v

    rows = [(1, vec(0, 0.0)), (2, vec(0, 0.1)), (3, vec(0, 0.2)),
            (4, vec(1, 0.0)), (5, vec(1, 0.1)), (6, vec(1, 0.2))]
    # seed 2 (id=2) starts inside blob A — iterate once to steal id 4-6
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["cluster"]: r for r in kmeans_lloyd(df, k=2, iters=2).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_points"] == 3 and out[1]["n_points"] == 3
    # within-blob spread is the bump column only: inertia per blob =
    # sum of squared distances to the per-dim mean (0.1): 2*(0.1^2)+0^2
    for j in (0, 1):
        assert out[j]["inertia"] == pytest.approx(0.02, abs=1e-6)


def test_kmeans_lloyd_empty_cluster_drops(spark):
    from onetl_spark.llm.similarity import kmeans_lloyd

    # all points identical: after round 1 every point goes to cluster 0
    rows = [(i, [1.0] * 64) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd(df, k=2, iters=1).collect()
    assert len(out) == 1
    assert out[0]["cluster"] == 0 and out[0]["n_points"] == 4
    assert out[0]["inertia"] == 0.0


def test_mix31_matches_python_reference_and_sql(spark):
    import duckdb

    from pyspark.sql import functions as F

    from onetl_spark.llm.text import mix31, mix31_sql

    M = 2147483648

    def ref(a, b):
        a, b = a % M, b % M  # inputs pre-reduced (ANSI-safe at any scale)
        x = (a * 1103515245 + b * 654435761 + 12345) % M
        x ^= x >> 13
        x = (x * 1103515245 + 6789) % M
        return x ^ (x >> 7)

    # incl. inputs ABOVE 2^31: a bare a*1103515245 would ANSI-abort for
    # a ≳ 8.4e9 (ADVICE r7 — global row indexes at multi-billion scale)
    # incl. NEGATIVE inputs: Spark pmod vs DuckDB's truncated % diverge
    # on negatives unless the SQL mirror uses a sign-safe reduction
    # (ADVICE r8 — latent until a signed delta/diff feeds the hash)
    rows = [
        (a, b)
        for a in (0, 1, 7, 99999, 2**31 - 1, 2**33 + 5, 10**12, -1, -(2**31) - 7)
        for b in (1, 2, 200, 2**35, -12345)
    ]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["h"]
        for r in df.select("a", "b", mix31(F.col("a"), F.col("b")).alias("h")).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == ref(a, b), (a, b)

    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for a, b, h in con.execute(f"SELECT a, b, {mix31_sql('a','b')} FROM t").fetchall():
        assert h == ref(a, b), (a, b)

    # INT-typed inputs (the explode(sequence) case) must not overflow
    df2 = spark.createDataFrame([(9999, 200)], "a int, b int")
    assert df2.select(mix31(F.col("a"), F.col("b")).alias("h")).collect()[0]["h"] == ref(9999, 200)


def test_incremental_decontamination_equals_direct(spark):
    """incremental_decontamination over the persisted shingle index must
    equal benchmark_contamination run directly over the corpus text —
    the index is a lossless set relation for this purpose."""
    from onetl_spark.llm.dedup import (
        contamination_index,
        incremental_decontamination,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over dogs"),
            (2, "completely different words entirely here now"),
            (3, "a b c d e f"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dogs"), (101, "a b c d")],
        "doc_id long, text string",
    )
    direct = sorted(
        benchmark_contamination(corpus, bench, threshold=0.4).collect()
    )
    via_index = sorted(
        incremental_decontamination(
            contamination_index(corpus), bench, threshold=0.4
        ).collect()
    )
    assert via_index == direct


def test_incremental_decontamination_new_benchmark_waves(spark):
    """The day-2 flow: the index is built ONCE; two benchmark waves
    arrive later and each is scored against it without corpus text."""
    from onetl_spark.llm.dedup import (
        contamination_index,
        incremental_decontamination,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    index = contamination_index(corpus)
    wave1 = spark.createDataFrame(
        [(900, "alpha beta gamma")], "doc_id long, text string"
    )
    wave2 = spark.createDataFrame(
        [(901, "epsilon zeta eta theta")], "doc_id long, text string"
    )
    out1 = {r["doc_id"]: r for r in incremental_decontamination(index, wave1).collect()}
    out2 = {r["doc_id"]: r for r in incremental_decontamination(index, wave2).collect()}
    assert out1[1]["contaminated"] and not out1[2]["contaminated"]
    assert out2[2]["overlap_ratio"] == 1.0 and not out2[1]["contaminated"]
