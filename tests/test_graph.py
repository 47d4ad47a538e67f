"""Connected components (large-star/small-star) vs exact union-find."""

import random

import pytest

from onetl_spark.llm import dedup
from onetl_spark.operators.graph import connected_components


def _uf_components(edges):
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {n for e in edges for n in e}
    return {n: find(n) for n in nodes}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rep"] for r in connected_components(df).collect()}


def test_long_chain(spark):
    # worst case for min-label propagation (needs n rounds); star
    # contraction must converge within its O(log^2 n) bound
    n = 64
    edges = [(i, i + 1) for i in range(n)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(n + 1)}


def test_two_components_and_duplicates_and_reversed(spark):
    edges = [(5, 3), (3, 5), (3, 1), (10, 11), (11, 10), (11, 12), (7, 7)]
    got = _run(spark, edges)
    assert got == {1: 1, 3: 1, 5: 1, 10: 10, 11: 10, 12: 10}
    # self-loop-only node drops out of the edge set entirely
    assert 7 not in got


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        nodes = list(range(200))
        edges = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _run(spark, edges) == _uf_components(edges)


def test_dedup_survivors_distributed_path_matches_driver_path(spark):
    docs = spark.createDataFrame(
        [(i, f"doc text number {i % 4} repeated body") for i in range(20)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 4), (4, 8), (1, 5), (17, 13)], "a_id long, b_id long",
    )
    driver = {
        r["doc_id"]: r["rep_id"]
        for r in dedup.dedup_survivors(docs, pairs).collect()
    }
    dist = {
        r["doc_id"]: r["rep_id"]
        for r in dedup.dedup_survivors(docs, pairs, collect_threshold=0).collect()
    }
    assert driver == dist
    assert dist[8] == 0 and dist[4] == 0 and dist[5] == 1 and dist[17] == 13
    # untouched docs represent themselves
    assert dist[2] == 2


# --- triangle_count ---------------------------------------------------------

from itertools import combinations

from onetl_spark.operators.graph import pagerank_fixed_point, triangle_count


def _brute_triangles(edges):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {n: 0 for n in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] += 1
    return counts


def _run_triangles(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["triangles"] for r in triangle_count(df).collect()}


def test_triangle_known_shapes(spark):
    # K4 (every node in 3 triangles) + a pendant + an isolated edge
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = k4 + [(4, 5), (10, 11)]
    got = _run_triangles(spark, edges)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 10: 0, 11: 0}


def test_triangle_random_vs_brute(spark):
    rng = random.Random(7)
    edges = list({(rng.randrange(20), rng.randrange(20)) for _ in range(80)})
    # duplicates + reversed orientations must not change counts
    noisy = edges + [(b, a) for a, b in edges[:20]] + edges[:10]
    assert _run_triangles(spark, noisy) == _brute_triangles(edges)


# --- pagerank_fixed_point ---------------------------------------------------


def _brute_pagerank(edges, iterations=3, scale=10**12):
    out = {}
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        out.setdefault(a, set()).add(b)
        nodes.update((a, b))
    n = len(nodes)
    base = 15 * scale // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if not out.get(v))
        mass = {v: dangling // n for v in nodes}
        for u, nbrs in out.items():
            share = r[u] // len(nbrs)
            for v in nbrs:
                mass[v] += share
        r = {v: base + (85 * mass[v]) // 100 for v in nodes}
    return r


def _run_pagerank(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(df, **kw).collect()}


def test_pagerank_star_is_deterministic_and_ordered(spark):
    # hub receives from 4 spokes; hub must outrank every spoke, and the
    # fixed-point values must match the exact integer recurrence
    edges = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    got = _run_pagerank(spark, edges)
    assert got == _brute_pagerank(edges)
    assert got[0] > max(v for k, v in got.items() if k != 0)


def test_pagerank_with_dangling_nodes_vs_brute(spark):
    rng = random.Random(11)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(30)})
    edges = [e for e in edges if e[0] != e[1]]
    # ensure at least one dangling node: strip all out-edges of node 0
    edges = [e for e in edges if e[0] != 0] + [(1, 0)]
    assert _run_pagerank(spark, edges) == _brute_pagerank(edges)


def test_pagerank_multigraph_semantics(spark):
    # 1 links to 2 five times and to 3 once; 2 and 3 link back.
    multi = [(1, 2)] * 5 + [(1, 3), (2, 1), (3, 1)]
    df = spark.createDataFrame(multi, "src long, dst long")

    # default: SIMPLE-graph — parallel edges collapse, 2 and 3 tie exactly
    simple = {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(df).collect()}
    assert simple == _brute_pagerank(multi)  # brute also dedups via set
    assert simple[2] == simple[3]

    # weighted: multiplicity carried in an integer weight column; node 2
    # draws 5/6 of node 1's mass, and total mass is conserved up to the
    # documented truncation drift (≤ nodes × iterations units)
    wdf = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 1), (2, 1, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    weighted = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(wdf, edge_weight="w").collect()
    }
    assert weighted[2] > weighted[3]
    scale = 10**12
    assert abs(sum(weighted.values()) - scale) <= 3 * 3  # nodes × iterations

    # pre-aggregated weights == parallel-edge multiset fed through SUM
    wdf2 = spark.createDataFrame(
        [(s, d, 1) for s, d in multi], "src long, dst long, w long"
    )
    weighted2 = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(wdf2, edge_weight="w").collect()
    }
    assert weighted2 == weighted


def test_pagerank_rejects_null_and_nonpositive_weights(spark):
    import pytest

    base = [(1, 2, 1), (2, 1, 1)]
    for bad_w in (None, 0, -3):
        wdf = spark.createDataFrame(
            base + [(1, 3, bad_w)], "src long, dst long, w long"
        )
        with pytest.raises(ValueError, match="edge_weight must be a positive"):
            pagerank_fixed_point(wdf, edge_weight="w")


def test_bfs_hops_chain_and_disconnected(spark):
    from onetl_spark.operators.graph import bfs_hops

    # chain 0-1-2-3-4 plus a disconnected pair (10, 11)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4 beyond max_hops; 10/11 unreachable


def test_bfs_hops_multi_source_min_distance(spark):
    from onetl_spark.operators.graph import bfs_hops

    # two seeds racing toward the middle of a cycle: distance is the MIN
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (3,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=6).collect()}
    assert got == {0: 0, 3: 0, 1: 1, 5: 1, 2: 1, 4: 1}


def test_bfs_hops_matches_python_bfs_random(spark):
    from collections import deque

    from onetl_spark.operators.graph import bfs_hops

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        edges = [(a, b) for a, b in edges if a != b]
        seeds = sorted(rng.sample(range(n), 2))
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        dist = {s: 0 for s in seeds if s in adj or True}
        q = deque(seeds)
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        dist = {k: v for k, v in dist.items() if v <= 5}
        df = spark.createDataFrame(edges, "src long, dst long")
        sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
        got = {r["node"]: r["hops"] for r in bfs_hops(df, sdf, max_hops=5).collect()}
        assert got == dist, f"trial {trial}"


def test_markov_next_event_eval_matches_reference(spark, testdata):
    """The showcase query vs a pure-Python reference over the same parquet
    (train split, argmax model with tie-breaks, held-out accuracy)."""
    import os

    import duckdb

    from onetl_spark.showcase.analytics import markov_next_event_eval

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type "
        f"FROM read_parquet('{sf_dir}/events.parquet') ORDER BY user_id, ts, event_id"
    ).fetchall()
    con.close()

    def h(eid):
        import hashlib

        return int(hashlib.md5(str(eid).encode()).hexdigest()[:15], 16)

    by_user = {}
    for u, eid, ts, et in rows:
        by_user.setdefault(u, []).append((eid, et))
    train, test = {}, []
    for u, seq in by_user.items():
        for (_eid_a, prev_t), (eid, next_t) in zip(seq, seq[1:]):
            if h(eid) % 2 == 0:
                train.setdefault(prev_t, {}).setdefault(next_t, 0)
                train[prev_t][next_t] += 1
            else:
                test.append((prev_t, next_t))
    model = {
        p: min(((-n, t) for t, n in nexts.items()))[1] for p, nexts in train.items()
    }
    want = {}
    for p, nxt in test:
        if p not in model:
            continue
        n_test, n_corr = want.get(p, (0, 0))
        want[p] = (n_test + 1, n_corr + (nxt == model[p]))

    got = {
        r["prev_type"]: (r["n_test"], r["n_correct"], r["predicted_next"])
        for r in markov_next_event_eval(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for p, (n_test, n_corr) in want.items():
        assert got[p][0] == n_test and got[p][1] == n_corr, p
        assert got[p][2] == model[p], p


def test_random_walks_follow_edges_and_are_deterministic(spark):
    from onetl_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (5, 6)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,), (99,)], "node long")
    out = random_walks(edges, seeds, walk_len=3).collect()
    walks = {}
    for r in out:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    # seed 99 is isolated: only step 0
    assert walks[99] == {0: 99}
    # every consecutive pair is a real edge
    adj = {}
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 1), (5, 6)]:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for wid, steps in walks.items():
        for s in range(1, max(steps)):
            assert steps[s + 1] in adj[steps[s]], (wid, s)
    # walk from 1 and 5 run the full length (no dead ends in a cycle)
    assert max(walks[1]) == 3 and max(walks[5]) == 3
    # bit-for-bit reproducible
    out2 = random_walks(edges, seeds, walk_len=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_weighted_random_walks_match_reference_and_bias(spark):
    import hashlib

    import pytest

    from onetl_spark.operators.graph import random_walks

    def md5l(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # node 0's neighbors: 1 (weight 9) and 2 (weight 1); plus 1-2 edge
    edges = [(0, 1, 9), (0, 2, 1), (1, 2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in random_walks(df, seeds, walk_len=4, edge_weight="w").collect()
    }

    # python reference replaying the identical hash arithmetic
    adj = {
        0: [(1, 9), (2, 1)],
        1: [(0, 9), (2, 1)],
        2: [(0, 1), (1, 1)],
    }
    at = 0
    want = {(0, 0): 0}
    for step in range(1, 5):
        nbrs = sorted(adj[at])
        total = sum(w for _, w in nbrs)
        r = md5l(f"0:{step}:{at}") % total
        lo = 0
        for d, w in nbrs:
            if lo <= r < lo + w:
                at = d
                break
            lo += w
        want[(0, step)] = at
    assert got == want

    # statistical bias check over many seeds: from 0 the heavy edge wins
    many = spark.createDataFrame([(i,) for i in range(1, 64)], "node long")
    star = spark.createDataFrame(
        [(i, 1000, 9) for i in range(1, 64)] + [(i, 2000, 1) for i in range(1, 64)],
        "src long, dst long, w long",
    )
    first_hops = {
        r["walk_id"]: r["node"]
        for r in random_walks(star, many, walk_len=1, edge_weight="w").collect()
        if r["step"] == 1
    }
    heavy = sum(1 for v in first_hops.values() if v == 1000)
    assert heavy >= 48  # ~90% expected, leaves slack for hash variance

    # contract violations fail loudly
    bad = spark.createDataFrame([(0, 1, 0)], "src long, dst long, w long")
    with pytest.raises(ValueError):
        random_walks(bad, seeds, walk_len=1, edge_weight="w")


def test_label_propagation_two_cliques(spark):
    from onetl_spark.operators.graph import label_propagation

    # two 4-cliques bridged by one edge: LPA must keep them separate and
    # label each with its minimum node id (tie-break rule)
    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        "src long, dst long",
    )
    got = {r["node"]: r["community"] for r in label_propagation(edges, rounds=3).collect()}
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert {got[n] for n in (10, 11, 12, 13)} == {10}


def test_label_propagation_deterministic_across_partitioning(spark):
    from onetl_spark.operators.graph import label_propagation

    import random

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    df = spark.createDataFrame([e for e in edges if e[0] != e[1]], "src long, dst long")
    a = sorted(map(tuple, label_propagation(df.repartition(1), rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(13), rounds=3).collect()))
    assert a == b


def test_label_propagation_python_reference(spark):
    from onetl_spark.operators.graph import label_propagation

    import random
    from collections import Counter

    rng = random.Random(11)
    raw = {(rng.randrange(25), rng.randrange(25)) for _ in range(60)}
    raw = {e for e in raw if e[0] != e[1]}
    df = spark.createDataFrame(sorted(raw), "src long, dst long")

    adj = {}
    for u, v in raw:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lab = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, nbrs in adj.items():
            cnt = Counter(lab[x] for x in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            new[n] = best
        lab = new
    got = {r["node"]: r["community"] for r in label_propagation(df, rounds=3).collect()}
    assert got == lab


def test_label_propagation_empty_edges(spark):
    from onetl_spark.operators.graph import label_propagation

    empty = spark.createDataFrame([], "src long, dst long")
    assert label_propagation(empty, rounds=2).count() == 0


def test_label_propagation_keeps_selfloop_only_nodes(spark):
    from onetl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(5, 5), (1, 2)], "src long, dst long")
    got = {r["node"]: r["community"] for r in label_propagation(edges, rounds=2).collect()}
    assert got[5] == 5  # singleton community, not dropped
    # K2 oscillates under synchronous sweeps (documented): after an even
    # number of rounds each node is back at its own label
    assert got[1] == 1 and got[2] == 2


def test_label_propagation_drops_null_endpoints(spark):
    from onetl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, None), (1, 2)], "src long, dst long")
    got = {r["node"]: r["community"] for r in label_propagation(edges, rounds=2).collect()}
    assert None not in got and set(got) == {1, 2}


def test_label_propagation_keeps_nonnull_side_of_null_edge(spark):
    from onetl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(7, None), (1, 2)], "src long, dst long")
    got = {r["node"]: r["community"] for r in label_propagation(edges, rounds=2).collect()}
    assert got[7] == 7  # NULL partner dropped, surviving endpoint kept
    assert None not in got and set(got) == {1, 2, 7}


def test_kcore_peels_tendrils_and_validates(spark):
    from onetl_spark.operators.graph import kcore_nodes

    # triangle core {1,2,3} + tendril 3-4-5: the 2-core is the triangle;
    # node 4 only survives round 1 (degree 2) until 5 is peeled
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["node"]: r["degree"] for r in kcore_nodes(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}

    # k=1 keeps everything with an edge
    got1 = {r["node"] for r in kcore_nodes(edges, k=1).collect()}
    assert got1 == {1, 2, 3, 4, 5}

    # k above the max degree empties the graph
    assert kcore_nodes(edges, k=10).count() == 0

    import pytest as _pt

    with _pt.raises(ValueError, match="k must be"):
        kcore_nodes(edges, k=0)


def test_kcore_strict_raises_on_non_convergence(spark):
    """max_iter hit without a fixpoint: the survivors are NOT the k-core,
    so strict=True (default) must raise, strict=False must warn and
    return the partial peel (VERDICT r6 item 2)."""
    from onetl_spark.operators.graph import kcore_nodes

    # a 6-node path: the 2-core is empty, but peeling strips only the two
    # endpoints per round, so max_iter=1 cannot reach the fixpoint
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    import pytest as _pt

    with _pt.raises(RuntimeError, match="NOT the 2-core"):
        kcore_nodes(path, k=2, max_iter=1).count()

    # strict=False: old behavior — partial peel comes back (warn only)
    partial = {r["node"] for r in kcore_nodes(path, k=2, max_iter=1, strict=False).collect()}
    assert partial == {2, 3, 4, 5}  # endpoints 1 and 6 peeled, rest pending

    # the default cap converges and returns the true (empty) 2-core
    assert kcore_nodes(path, k=2).count() == 0


def test_ktruss_clique_tail_and_validation(spark):
    from onetl_spark.operators.graph import ktruss_edges

    # 4-clique {1..4} + tail 4-5-6 + separate triangle {6,7,8}
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 7), (6, 8), (7, 8)],
        "src long, dst long",
    )
    # 4-truss: every edge on >= 2 triangles — only the 4-clique survives
    got = {(r["src"], r["dst"]): r["support"] for r in ktruss_edges(edges, k=4).collect()}
    assert got == {(1, 2): 2, (1, 3): 2, (1, 4): 2, (2, 3): 2, (2, 4): 2, (3, 4): 2}

    # 3-truss: clique + triangle survive (support >= 1), tail edges peel
    got3 = {(r["src"], r["dst"]) for r in ktruss_edges(edges, k=3).collect()}
    assert got3 == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                    (6, 7), (6, 8), (7, 8)}

    # 2-truss (need=0) keeps every edge, support reported for the full set
    got2 = {(r["src"], r["dst"]): r["support"] for r in ktruss_edges(edges, k=2).collect()}
    assert len(got2) == 11 and got2[(4, 5)] == 0

    # 5-truss of a 4-clique is empty (no edge has 3 triangles)
    assert ktruss_edges(edges, k=5).count() == 0

    import pytest as _pt

    with _pt.raises(ValueError, match="k must be"):
        ktruss_edges(edges, k=1)


def test_ktruss_matches_brute_force_random(spark):
    import random as _r
    from itertools import combinations

    from onetl_spark.operators.graph import ktruss_edges

    rng = _r.Random(7)
    nodes = list(range(12))
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)})

    def brute_truss(es, k):
        es = set(es)
        while True:
            sup = {e: 0 for e in es}
            for a, b, c in combinations(sorted({n for e in es for n in e}), 3):
                if ((a, b) in es and (a, c) in es and (b, c) in es):
                    for e in ((a, b), (a, c), (b, c)):
                        sup[e] += 1
            keep = {e for e in es if sup[e] >= k - 2}
            if keep == es:
                return {e: sup[e] for e in es}
            es = keep

    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (3, 4):
        want = brute_truss(edges, k)
        got = {(r["src"], r["dst"]): r["support"] for r in ktruss_edges(df, k=k).collect()}
        assert got == want, f"k={k}"


def test_ktruss_strict_raises_on_non_convergence(spark):
    from onetl_spark.operators.graph import ktruss_edges

    # triangle strip sharing EDGES ((i,i+1) + (i,i+2)): its 4-truss is
    # empty but peeling needs 2 rounds (boundary supports collapse
    # first), so max_iter=1 stops mid-peel with survivors
    strip = [(i, i + 1) for i in range(9)] + [(i, i + 2) for i in range(8)]
    df = spark.createDataFrame(strip, "src long, dst long")
    import pytest as _pt

    with _pt.raises(RuntimeError, match="NOT the 4-truss"):
        ktruss_edges(df, k=4, max_iter=1).count()

    # strict=False returns the partial peel instead
    assert ktruss_edges(df, k=4, max_iter=1, strict=False).count() > 0


def test_multi_source_distances_and_harmonic(spark):
    from onetl_spark.operators.graph import harmonic_centrality, multi_source_distances

    # path 1-2-3-4-5 with seeds {1, 4}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    d = {(r["seed"], r["node"]): r["dist"]
         for r in multi_source_distances(edges, seeds, max_hops=2).collect()}
    assert d == {(1, 1): 0, (1, 2): 1, (1, 3): 2,
                 (4, 4): 0, (4, 3): 1, (4, 5): 1, (4, 2): 2}

    # harmonic with scale=100, max_hops=2: node 3 sees 1@d2 + 4@d1 -> 150
    h = {r["node"]: (r["harmonic_fp"], r["n_reached"])
         for r in harmonic_centrality(edges, seeds, max_hops=2, scale=100).collect()}
    assert h[3] == (150, 2)
    assert h[2] == (100 + 50, 2)   # 1@d1, 4@d2
    assert h[5] == (100, 1)        # only seed 4 reaches within 2 hops
    # nodes 1 and 4 are seeds: their own d=0 is excluded and the OTHER
    # seed is 3 hops away (> max_hops), so they have no contributions
    assert set(h) == {2, 3, 5}


def test_weighted_sssp_matches_dijkstra_random(spark):
    import heapq
    import random as _r

    import pytest as _pt

    from onetl_spark.operators.graph import weighted_sssp

    rng = _r.Random(23)
    n = 15
    edges = []
    for _ in range(45):
        a, b = rng.sample(range(n), 2)
        edges.append((a, b, rng.randint(1, 9)))
    seeds = [0, 7]

    def dijkstra():
        adj = {}
        for a, b, w in edges:
            adj.setdefault(a, []).append((b, w))
        dist = {s: 0 for s in seeds}
        pq = [(0, s) for s in seeds]
        heapq.heapify(pq)
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, 1 << 60):
                continue
            for v, w in adj.get(u, []):
                if d + w < dist.get(v, 1 << 60):
                    dist[v] = d + w
                    heapq.heappush(pq, (d + w, v))
        return dist

    df = spark.createDataFrame(edges, "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["dist"] for r in weighted_sssp(df, sdf).collect()}
    assert got == dijkstra()

    with _pt.raises(ValueError, match="negative"):
        weighted_sssp(
            spark.createDataFrame([(1, 2, -3)], "src long, dst long, w long"), sdf
        )

    # a long chain cannot converge in one round -> strict raises
    chain = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(5)], "src long, dst long, w long"
    )
    s0 = spark.createDataFrame([(0,)], "node long")
    with _pt.raises(RuntimeError, match="no fixpoint"):
        weighted_sssp(chain, s0, max_iter=1)
    partial = {r["node"]: r["dist"] for r in weighted_sssp(chain, s0, max_iter=1, strict=False).collect()}
    assert partial == {0: 0, 1: 1}


def _brute_hits(edges, iterations=3, scale=10**9):
    """Exact integer replay of hits_fixed_point."""
    E = sorted({e for e in edges if e[0] != e[1]})
    nodes = sorted({u for u, _ in E} | {v for _, v in E})
    n = len(nodes)
    if n == 0:
        return {}
    h = {v: scale // n for v in nodes}

    def half(score, key_idx, out_idx):
        raw = {v: 0 for v in nodes}
        for e in E:
            raw[e[out_idx]] += score[e[key_idx]]
        t = sum(raw.values())
        return {v: 0 if t == 0 else (raw[v] * scale) // t for v in nodes}

    a = None
    for _ in range(iterations):
        a = half(h, 0, 1)
        h = half(a, 1, 0)
    return {v: (h[v], a[v]) for v in nodes}


def test_hits_matches_integer_recurrence(spark):
    from onetl_spark.operators.graph import hits_fixed_point

    rng = random.Random(7)
    edges = list({(rng.randrange(10), rng.randrange(10)) for _ in range(25)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub_fp"], r["auth_fp"])
        for r in hits_fixed_point(df).collect()
    }
    assert got == _brute_hits(edges)


def test_hits_bipartite_mutual_reinforcement(spark):
    from onetl_spark.operators.graph import hits_fixed_point

    # hub 1 points at both authorities; hub 2 at one — hub 1 must win,
    # and the authority endorsed by both hubs must outrank the other.
    edges = [(1, 10), (1, 11), (2, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub_fp"], r["auth_fp"])
        for r in hits_fixed_point(df).collect()
    }
    assert got == _brute_hits(edges)
    assert got[1][0] > got[2][0]          # hub score
    assert got[10][1] > got[11][1]        # authority score
    assert got[10][0] == 0 and got[1][1] == 0  # pure sides stay pure


def test_hits_guards(spark):
    from onetl_spark.operators.graph import hits_fixed_point

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        hits_fixed_point(df, iterations=0)
    with pytest.raises(ValueError):
        hits_fixed_point(df, scale=10**12)  # overflow contract
    empty = spark.createDataFrame([], "src long, dst long")
    assert hits_fixed_point(empty).count() == 0


def test_adamic_adar_hand_case(spark):
    from onetl_spark.operators.graph import adamic_adar

    # path 1-2-3: the only candidate is (1,3) through hub 2 (deg 2)
    e = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    rows = adamic_adar(e).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src"], r["dst"], r["common_neighbors"]) == (1, 3, 1)
    import math

    assert abs(r["adamic_adar"] - round(1.0 / math.log(2.0), 9)) < 1e-9

    # existing edges never reappear: triangle has no candidates
    tri = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src int, dst int")
    assert adamic_adar(tri).count() == 0


def test_partition_modularity_hand_case(spark):
    from onetl_spark.operators.graph import partition_modularity

    # triangle {1,2,3} + pendant 4 on 3; A={1,2,3}, B={4}
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int")
    labels = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B")], "node int, community string"
    )
    rows = {r["community"]: r for r in partition_modularity(e, labels).collect()}
    a, b = rows["A"], rows["B"]
    assert (a["n_nodes"], a["internal_edges"], a["degree_sum"]) == (3, 3, 7)
    assert abs(a["q_contrib"] - (3 / 4 - (7 / 8) ** 2)) < 1e-9
    assert (b["n_nodes"], b["internal_edges"], b["degree_sum"]) == (1, 0, 1)
    assert abs(b["q_contrib"] - (-(1 / 8) ** 2)) < 1e-9

    import pytest as _pt

    empty = spark.createDataFrame([], "src int, dst int")
    with _pt.raises(ValueError, match="empty"):
        partition_modularity(empty, labels)


def test_personalized_pagerank_seed_proximity(spark):
    from onetl_spark.operators.graph import personalized_pagerank_fixed_point

    # star graph, seed at the hub: the hub outranks every leaf, the
    # leaves are exactly symmetric, and mass is conserved to integer
    # truncation. (A path graph would OSCILLATE at low iteration
    # counts — bipartite parity — so symmetry is the honest invariant.)
    pairs = [(0, i) for i in (1, 2, 3, 4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    r = {
        x["node"]: x["rank_fp"]
        for x in personalized_pagerank_fixed_point(
            edges, seeds, iterations=4
        ).collect()
    }
    assert r[0] > r[1]
    assert r[1] == r[2] == r[3] == r[4]
    assert abs(sum(r.values()) - 10**12) < 100


def test_personalized_pagerank_requires_graph_seed(spark):
    import pytest as _pytest

    from onetl_spark.operators.graph import personalized_pagerank_fixed_point

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")
    with _pytest.raises(ValueError):
        personalized_pagerank_fixed_point(edges, seeds)
