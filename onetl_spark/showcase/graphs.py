"""Graph-analytics showcases over the supplier co-occurrence graph.

Edges connect suppliers that co-ship in at least ``_MIN_COOCCUR`` orders —
per-order supplier counts are bounded (TPC-H orders have ≤7 line items),
so building the pair set is a linear self-join, never quadratic in
suppliers, and the support threshold keeps the graph from densifying as
the order count grows (without it, every supplier pair eventually co-ships
once and the graph converges to a clique — the threshold is the standard
support cut any co-occurrence graph needs at scale).

``supplier_triangle_counts`` exercises degree-ordered triangle counting
(`operators/graph.py triangle_count`); ``supplier_pagerank`` exercises the
deterministic fixed-point PageRank (`pagerank_fixed_point`) whose integer
arithmetic lets a DuckDB oracle reproduce the ranks bit-for-bit — the
floating-point formulation could only ever be compared approximately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.graph import degree_assortativity, kcore_nodes, pagerank_fixed_point, triangle_count
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views


_PR_SCALE = 10**12

_MIN_COOCCUR = 5

_EDGES_SQL = f"""
li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
ed AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
       FROM li a JOIN li b USING (l_orderkey)
       WHERE a.l_suppkey < b.l_suppkey
       GROUP BY 1, 2
       HAVING COUNT(*) >= {_MIN_COOCCUR})
"""


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _MIN_COOCCUR)
        .select("src", "dst")
    )


def supplier_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles per supplier in the co-occurrence graph (clustering
    signal: how interconnected each supplier's trading neighborhood is)."""
    return triangle_count(_supplier_edges(spark, sf_dir))


TRIANGLES_SQL = f"""
WITH {_EDGES_SQL},
tris AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         FROM ed e1
         JOIN ed e2 ON e1.u = e2.u AND e1.v < e2.v
         JOIN ed e3 ON e3.u = e1.v AND e3.v = e2.v),
pn AS (SELECT node, COUNT(*) AS triangles FROM (
         SELECT a AS node FROM tris
         UNION ALL SELECT b FROM tris
         UNION ALL SELECT c FROM tris)
       GROUP BY node),
nodes AS (SELECT u AS node FROM ed UNION SELECT v FROM ed)
SELECT nodes.node, COALESCE(pn.triangles, 0) AS triangles
FROM nodes LEFT JOIN pn USING (node)
"""

register(supplier_triangle_counts, TRIANGLES_SQL)


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration fixed-point PageRank over the undirected co-occurrence
    graph (both edge directions fed to the directed operator)."""
    e = _supplier_edges(spark, sf_dir)
    undirected = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    return pagerank_fixed_point(undirected, iterations=3)


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
i{cur} AS MATERIALIZED (SELECT d.dst AS node, SUM(r{prev}.r // od.od) AS m
           FROM dir d
           JOIN r{prev} ON r{prev}.node = d.src
           JOIN od ON od.src = d.src
           GROUP BY d.dst),
r{cur} AS MATERIALIZED (SELECT nodes.node,
                  (15 * {_PR_SCALE}) // (100 * nn.n)
                  + (85 * COALESCE(i{cur}.m, 0)) // 100 AS r
           FROM nodes CROSS JOIN nn
           LEFT JOIN i{cur} ON i{cur}.node = nodes.node)
"""


PAGERANK_SQL = f"""
WITH {_EDGES_SQL},
dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
        UNION ALL SELECT v AS src, u AS dst FROM ed),
nodes AS (SELECT DISTINCT src AS node FROM dir),
nn AS (SELECT COUNT(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM dir GROUP BY src),
r0 AS MATERIALIZED (SELECT node, {_PR_SCALE} // nn.n AS r FROM nodes, nn),
{_pr_iter_sql("0", "1")},
{_pr_iter_sql("1", "2")},
{_pr_iter_sql("2", "3")}
SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
"""

register(supplier_pagerank, PAGERANK_SQL)


_BFS_SEEDS = 3
_BFS_MAX_HOPS = 4


def supplier_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the 3 lowest-id suppliers in the co-occurrence
    graph (multi-source BFS, level-synchronous frontier expansion —
    `operators/graph.py bfs_hops`). The DuckDB oracle reproduces it with
    a recursive CTE, so the iterative DataFrame rounds are hash-checked
    against a declarative fixpoint formulation."""
    from onetl_spark.operators.graph import bfs_hops

    # materialize the co-occurrence self-join ONCE: both the seed
    # selection and the BFS adjacency list read it (without this the
    # lineage recomputes the edge join per consumer)
    e = _supplier_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(_BFS_SEEDS)
    return bfs_hops(e, seeds, max_hops=_BFS_MAX_HOPS)


BFS_HOPS_SQL = f"""
WITH RECURSIVE {_EDGES_SQL},
dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
        UNION ALL SELECT v AS src, u AS dst FROM ed),
nodes AS (SELECT DISTINCT src AS node FROM dir),
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {_BFS_SEEDS}),
walk(node, d) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT dir.dst, walk.d + 1
  FROM walk JOIN dir ON dir.src = walk.node
  WHERE walk.d < {_BFS_MAX_HOPS}
)
SELECT node, CAST(MIN(d) AS BIGINT) AS hops FROM walk GROUP BY node
"""

register(supplier_bfs_hops, BFS_HOPS_SQL)


_WALK_LEN = 4
_WALK_SEED_MOD = 16


def supplier_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic random walks over the co-occurrence graph (one
    per seed node, 4 steps) — the DeepWalk/node2vec corpus generator
    (`operators/graph.py random_walks`), verified against a DuckDB
    recursive CTE that replays the identical hash-chosen hops."""
    from onetl_spark.operators.graph import random_walks

    e = _supplier_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(f"node % {_WALK_SEED_MOD} = 1")
    return random_walks(e, seeds, walk_len=_WALK_LEN)


RANDOM_WALKS_SQL = f"""
WITH RECURSIVE {_EDGES_SQL},
dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
        UNION ALL SELECT v AS src, u AS dst FROM ed),
ranked AS (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rank
  FROM dir
),
deg AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM dir),
seeds AS (SELECT node FROM nodes WHERE node % {_WALK_SEED_MOD} = 1),
walk(walk_id, step, node) AS (
  SELECT node, CAST(0 AS BIGINT), node FROM seeds
  UNION ALL
  SELECT w.walk_id, w.step + 1, r.dst
  FROM walk w
  JOIN deg d ON d.src = w.node
  JOIN ranked r ON r.src = w.node
   AND r.rank = ('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || ':' ||
                                 CAST(w.step + 1 AS VARCHAR) || ':' ||
                                 CAST(w.node AS VARCHAR)), 1, 15))::BIGINT % d.deg
  WHERE w.step < {_WALK_LEN}
)
SELECT walk_id, step, node FROM walk
"""

register(supplier_random_walks, RANDOM_WALKS_SQL)


def supplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (`operators/graph.py
    label_propagation`, 3 rounds, ties→smallest label) over the supplier
    co-occurrence graph, reported as a community-size census: one row
    per community with its size and smallest member. The oracle replays
    the identical vote/argmax rule round by round in SQL."""
    from onetl_spark.operators.graph import label_propagation

    lab = label_propagation(_supplier_edges(spark, sf_dir), rounds=3)
    return (
        lab.groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min("node").alias("min_member"),
        )
        .orderBy("community")
    )


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f"""
v{cur} AS (SELECT adj.u AS node, l{prev}.community AS lbl, COUNT(*) AS c
           FROM adj JOIN l{prev} ON l{prev}.node = adj.v
           GROUP BY 1, 2),
l{cur} AS (SELECT node, lbl AS community FROM v{cur}
           QUALIFY ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl ASC) = 1)
"""


COMMUNITIES_SQL = f"""
WITH {_EDGES_SQL},
adj AS (SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed),
l0 AS (SELECT DISTINCT u AS node, u AS community FROM adj),
{_lpa_round_sql("0", "1")},
{_lpa_round_sql("1", "2")},
{_lpa_round_sql("2", "3")}
SELECT community, COUNT(*) AS size, MIN(node) AS min_member
FROM l3 GROUP BY community ORDER BY community
"""

register(supplier_communities, COMMUNITIES_SQL)


def supplier_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier co-occurrence graph
    (`operators/graph.py degree_assortativity`): do well-connected
    suppliers trade alongside other hubs, or alongside specialists?
    Integer degree moments -> bit-exact Pearson."""
    return degree_assortativity(_supplier_edges(spark, sf_dir))


ASSORT_SQL = f"""
WITH {_EDGES_SQL},
both_dir AS (
  SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed
), deg AS (
  SELECT u AS node, COUNT(*) AS d FROM both_dir GROUP BY u
), j AS (
  SELECT a.d AS dx, b.d AS dy
  FROM both_dir JOIN deg a ON a.node = both_dir.u JOIN deg b ON b.node = both_dir.v
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(dx) AS DOUBLE) AS sx, CAST(SUM(dy) AS DOUBLE) AS sy,
         CAST(SUM(dx * dy) AS DOUBLE) AS sxy,
         CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
         CAST(SUM(dy * dy) AS DOUBLE) AS syy
  FROM j
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 0), 9) AS assortativity
FROM m
"""

register(supplier_degree_assortativity, ASSORT_SQL)


_PART_MIN_COOCCUR = 2


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-occurrence graph: parts ordered together in ≥ 2 orders —
    a structurally DIFFERENT graph from the supplier one (≈20× more
    nodes, much sparser, leaf-heavy degree distribution). Same bounded
    self-join shape: ≤7 line items per order keeps pairs linear."""
    ensure_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _PART_MIN_COOCCUR)
        .select("src", "dst")
    )


def part_cooccurrence_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity on a SECOND graph (`operators/graph.py
    degree_assortativity`): the part co-occurrence graph, whose sparse
    leaf-heavy topology sits at the opposite end of the degree spectrum
    from the dense supplier graph — exercising the moment arithmetic on
    a distribution where most degrees are 1-2 and the NULLIF zero-
    variance guard is one tie away."""
    return degree_assortativity(_part_edges(spark, sf_dir))


PART_ASSORT_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (SELECT a.l_partkey AS u, b.l_partkey AS v
       FROM li a JOIN li b USING (l_orderkey)
       WHERE a.l_partkey < b.l_partkey
       GROUP BY 1, 2
       HAVING COUNT(*) >= {_PART_MIN_COOCCUR}),
both_dir AS (
  SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed
), deg AS (
  SELECT u AS node, COUNT(*) AS d FROM both_dir GROUP BY u
), j AS (
  SELECT a.d AS dx, b.d AS dy
  FROM both_dir JOIN deg a ON a.node = both_dir.u JOIN deg b ON b.node = both_dir.v
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(dx) AS DOUBLE) AS sx, CAST(SUM(dy) AS DOUBLE) AS sy,
         CAST(SUM(dx * dy) AS DOUBLE) AS sxy,
         CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
         CAST(SUM(dy * dy) AS DOUBLE) AS syy
  FROM j
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 0), 9) AS assortativity
FROM m
"""

register(part_cooccurrence_assortativity, PART_ASSORT_SQL)


_KCORE_K, _KCORE_ITER = 3, 6


def supplier_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier co-occurrence graph (`operators/graph.py
    kcore_nodes`): the dense trading backbone after peeling tendrils.
    The oracle replays the synchronous peel as chained CTEs (fixed
    rounds == max_iter; identical at the fixpoint)."""
    return kcore_nodes(_supplier_edges(spark, sf_dir), k=_KCORE_K, max_iter=_KCORE_ITER)


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ITER) -> str:
    parts = [
        f"WITH {_EDGES_SQL.strip()}",
        # MATERIALIZED: every round references the previous one twice
        # (two semi-joins) — un-materialized CTEs would re-evaluate the
        # whole chain exponentially (measured 99 s -> ~1 s)
        "e0 AS MATERIALIZED (SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed)",
    ]
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"k{r} AS MATERIALIZED (SELECT u FROM (SELECT u, COUNT(*) AS c FROM {prev} GROUP BY u) WHERE c >= {k})"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT {prev}.u, {prev}.v FROM {prev} "
            f"JOIN k{r} a ON a.u = {prev}.u JOIN k{r} b ON b.u = {prev}.v)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT u AS node, COUNT(*) AS degree FROM e{rounds} GROUP BY u"
    )


register(supplier_kcore, _kcore_sql())


_PART_EDGES_SQL = f"""
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (SELECT a.l_partkey AS u, b.l_partkey AS v
       FROM li a JOIN li b USING (l_orderkey)
       WHERE a.l_partkey < b.l_partkey
       GROUP BY 1, 2
       HAVING COUNT(*) >= {_PART_MIN_COOCCUR})
"""

_TRUSS_K, _TRUSS_ITER = 3, 6


def part_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the part co-occurrence graph (`operators/graph.py
    ktruss_edges`): every surviving edge must close at least one
    triangle, which strips the leaf-heavy tendril mass this graph is
    mostly made of (sf0.01: 3445 edges peel to 181 in two rounds) and
    leaves the genuinely clustered part families. The oracle replays
    the synchronous support-peel as chained MATERIALIZED CTEs (fixed
    rounds == max_iter; identical at the fixpoint), ending with one
    extra support pass so reported supports describe the FINAL edge
    set — exactly what the operator returns."""
    from onetl_spark.operators.graph import ktruss_edges

    return ktruss_edges(
        _part_edges(spark, sf_dir), k=_TRUSS_K, max_iter=_TRUSS_ITER
    )


def _truss_round_sql(prev: str, r: int, need: int) -> str:
    return f"""
t{r} AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM {prev} a
  JOIN {prev} b ON b.u = a.u AND a.v < b.v
  WHERE EXISTS (SELECT 1 FROM {prev} c WHERE c.u = a.v AND c.v = b.v)),
s{r} AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT x AS u, y AS v FROM t{r}
    UNION ALL SELECT x, z FROM t{r}
    UNION ALL SELECT y, z FROM t{r})
  GROUP BY u, v),
c{r} AS MATERIALIZED (
  SELECT s{r}.u, s{r}.v FROM s{r} WHERE sup >= {need})
"""


def _ktruss_sql(k: int = _TRUSS_K, rounds: int = _TRUSS_ITER) -> str:
    need = k - 2
    parts = [
        f"WITH {_PART_EDGES_SQL.strip()}",
        "c0 AS MATERIALIZED (SELECT u, v FROM ed)",
    ]
    for r in range(1, rounds + 1):
        parts.append(_truss_round_sql(f"c{r - 1}", r, need).strip())
    last = f"c{rounds}"
    parts.append(_truss_round_sql(last, rounds + 1, need).strip())
    return (
        ",\n".join(parts)
        + f"""
SELECT {last}.u AS src, {last}.v AS dst,
       CAST(COALESCE(s{rounds + 1}.sup, 0) AS BIGINT) AS support
FROM {last} LEFT JOIN s{rounds + 1} USING (u, v)
"""
    )


register(part_ktruss, _ktruss_sql())


_HARM_SEEDS, _HARM_HOPS, _HARM_SCALE = 6, 4, 10**12


def part_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated harmonic centrality on the part
    co-occurrence graph (`operators/graph.py harmonic_centrality`):
    per-seed BFS from the 6 lowest-id parts, each node scoring the
    integer fixed-point sum of 1/distance over the landmarks that reach
    it within 4 hops. The leaf-heavy topology makes distances genuinely
    multi-hop (unlike the near-complete supplier graph). The DuckDB
    oracle replays it declaratively with a recursive CTE + MIN(d)."""
    from onetl_spark.operators.graph import harmonic_centrality

    e = _part_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(_HARM_SEEDS)
    return harmonic_centrality(
        e, seeds, max_hops=_HARM_HOPS, scale=_HARM_SCALE
    )


HARMONIC_SQL = f"""
WITH RECURSIVE {_PART_EDGES_SQL.strip()},
dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
        UNION ALL SELECT v AS src, u AS dst FROM ed),
nodes AS (SELECT DISTINCT src AS node FROM dir),
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {_HARM_SEEDS}),
walk(seed, node, d) AS (
  SELECT node, node, 0 FROM seeds
  UNION
  SELECT w.seed, dir.dst, w.d + 1
  FROM walk w JOIN dir ON dir.src = w.node
  WHERE w.d < {_HARM_HOPS}
),
dist AS (SELECT seed, node, MIN(d) AS d FROM walk GROUP BY seed, node)
SELECT node,
       CAST(SUM({_HARM_SCALE} // d) AS BIGINT) AS harmonic_fp,
       COUNT(*) AS n_reached
FROM dist WHERE d > 0 GROUP BY node
"""

register(part_harmonic_centrality, HARMONIC_SQL)


_SSSP_SEEDS, _SSSP_ROUNDS = 3, 14


def _part_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-occurrence edges with an integer AFFINITY COST: pairs
    co-ordered more often are cheaper to traverse (w = max(10 - c, 1))
    — the substitution-distance graph of a catalog."""
    ensure_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    ed = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _PART_MIN_COOCCUR)
        .select(
            "src", "dst",
            F.greatest(F.lit(10) - F.col("c"), F.lit(1)).alias("w"),
        )
    )
    return ed.unionAll(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )


def part_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distances from the 3 lowest part ids over
    the affinity-cost co-occurrence graph (`operators/graph.py
    weighted_sssp`, distributed Bellman-Ford): exact integer minimum
    path costs, converging well inside the 14-round cap (strict raise
    past it). The oracle replays the synchronous min-relaxation rounds
    as chained MATERIALIZED CTEs — identical at the fixpoint."""
    from onetl_spark.operators.graph import weighted_sssp

    e = _part_weighted_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = e.select(F.col("src").alias("node")).distinct()
    seeds = nodes.orderBy("node").limit(_SSSP_SEEDS)
    return weighted_sssp(e, seeds, max_iter=_SSSP_ROUNDS)


def _sssp_sql(rounds: int = _SSSP_ROUNDS) -> str:
    parts = [
        f"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edc AS (SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
        FROM li a JOIN li b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_PART_MIN_COOCCUR}),
e AS MATERIALIZED (
  SELECT u AS src, v AS dst, GREATEST(10 - c, 1) AS w FROM edc
  UNION ALL
  SELECT v AS src, u AS dst, GREATEST(10 - c, 1) AS w FROM edc),
nodes AS (SELECT DISTINCT src AS node FROM e),
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {_SSSP_SEEDS}),
d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS d FROM seeds)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"d{r - 1}"
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {prev}.d + e.w AS d
    FROM {prev} JOIN e ON e.src = {prev}.node)
  GROUP BY node)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(d AS BIGINT) AS dist FROM d{rounds}"
    )


register(part_weighted_sssp, _sssp_sql())


_HITS_MIN, _HITS_SCALE, _HITS_ITER = 2, 10**9, 3


def customer_supplier_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the bipartite customer→supplier order
    graph (`operators/graph.py hits_fixed_point`): an edge when a customer
    ordered from a supplier in >= 2 line items. Hubs = customers whose
    orders concentrate on authoritative suppliers; authorities = suppliers
    endorsed by strong hub customers — Kleinberg's mutual reinforcement on
    the graph class HITS was designed for. Fixed-point integer arithmetic
    (scale 1e9, L1-normalized per half-step) keeps the DuckDB oracle
    bit-exact, like the PageRank showcase."""
    from onetl_spark.operators.graph import hits_fixed_point

    ensure_views(spark, sf_dir)
    edges = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= _HITS_MIN)
        .select("src", "dst")
    )
    return hits_fixed_point(edges, iterations=_HITS_ITER, scale=_HITS_SCALE)


def _hits_half_sql(prev: str, cur: str, key: str, out_key: str) -> str:
    # AS MATERIALIZED on every half-step: each step's relations are
    # referenced more than once, and DuckDB INLINES plain CTEs — chained
    # six deep that re-evaluates the whole upstream pipeline per
    # reference (exponential re-computation; the r10/r11 600s+ sf1
    # oracle ceiling). Materialization changes no values.
    return f"""
{cur}r AS MATERIALIZED (SELECT p.{out_key} AS node, SUM({prev}.s) AS raw
           FROM pairs p JOIN {prev} ON {prev}.node = p.{key}
           GROUP BY 1),
{cur}t AS MATERIALIZED (SELECT COALESCE(SUM(raw), 0) AS t FROM {cur}r),
{cur} AS MATERIALIZED (SELECT nodes.node,
                 CAST(CASE WHEN t = 0 THEN 0
                      ELSE (COALESCE(raw, 0) * {_HITS_SCALE}) // t END AS BIGINT) AS s
          FROM nodes LEFT JOIN {cur}r USING (node) CROSS JOIN {cur}t)
"""


HITS_SQL = f"""
WITH pairs AS MATERIALIZED (
  SELECT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_HITS_MIN}
),
nodes AS MATERIALIZED (SELECT src AS node FROM pairs UNION SELECT dst FROM pairs),
nn AS (SELECT COUNT(*) AS n FROM nodes),
h0 AS MATERIALIZED (SELECT node, {_HITS_SCALE} // nn.n AS s FROM nodes, nn),
{_hits_half_sql("h0", "a1", "src", "dst")},
{_hits_half_sql("a1", "h1", "dst", "src")},
{_hits_half_sql("h1", "a2", "src", "dst")},
{_hits_half_sql("a2", "h2", "dst", "src")},
{_hits_half_sql("h2", "a3", "src", "dst")},
{_hits_half_sql("a3", "h3", "dst", "src")}
SELECT nodes.node,
       CAST(COALESCE(h3.s, 0) AS BIGINT) AS hub_fp,
       CAST(COALESCE(a3.s, 0) AS BIGINT) AS auth_fp
FROM nodes
LEFT JOIN h3 ON h3.node = nodes.node
LEFT JOIN a3 ON a3.node = nodes.node
"""

register(customer_supplier_hits, HITS_SQL)


_LP_TOPK = 20


def supplier_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the supplier co-occurrence graph: the top
    predicted NEW edges by neighborhood Jaccard (|N(u)∩N(v)| /
    |N(u)∪N(v)|, the Liben-Nowell & Kleinberg CIKM'03 baseline that
    stays competitive at scale). Candidate pairs come from the wedge
    join (two-hop paths), NOT an all-pairs scan — only nodes sharing a
    neighbor can score — and existing edges drop out with an anti-join.
    Integer counts make the scores exact rationals; deterministic
    tie-break (score desc, pair asc) pins the global top-k."""
    ensure_views(spark, sf_dir)
    e = _supplier_edges(spark, sf_dir).localCheckpoint(eager=False)
    both = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # attach each endpoint's degree to the EDGE relation (edge-sized, one
    # join) and carry it through the wedge join, instead of joining deg
    # onto the candidate-pair set afterwards — the pair set is the wedge
    # closure, orders of magnitude larger than the edge set on any dense
    # graph, and the former plan shuffled it twice more for the two degree
    # joins (guide §2.3: shuffle the small relation, not the big one).
    # deg is unique per node, so (a, b, da, db) groups == (a, b) groups.
    both_deg = (
        both.join(deg, "src")
        .select(F.col("dst").alias("n"), F.col("src").alias("node"), "deg")
        .localCheckpoint(eager=False)
    )
    w1 = both_deg.select("n", F.col("node").alias("a"), F.col("deg").alias("da"))
    w2 = both_deg.select("n", F.col("node").alias("b"), F.col("deg").alias("db"))
    cand = (
        w1.join(w2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "da", "db")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(
            e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"],
            "left_anti",
        )
    )
    scored = cand.select(
        "a",
        "b",
        "cn",
        F.round(
            F.col("cn").cast("double")
            / (F.col("da") + F.col("db") - F.col("cn")),
            9,
        ).alias("jaccard"),
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(_LP_TOPK)


LINKPRED_SQL = f"""
WITH {_EDGES_SQL},
bidir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v, u FROM ed),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY src),
cand AS (
  SELECT w1.src AS a, w2.src AS b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM bidir w1 JOIN bidir w2 ON w1.dst = w2.dst AND w1.src < w2.src
  WHERE NOT EXISTS (SELECT 1 FROM ed WHERE ed.u = w1.src AND ed.v = w2.src)
  GROUP BY 1, 2
)
SELECT a, b, cn,
       round(CAST(cn AS DOUBLE) / (da.deg + db.deg - cn), 9) AS jaccard
FROM cand
JOIN deg da ON da.src = a
JOIN deg db ON db.src = b
ORDER BY jaccard DESC, a ASC, b ASC
LIMIT {_LP_TOPK}
"""

register(supplier_link_prediction, LINKPRED_SQL)


def supplier_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient profile of the supplier co-occurrence graph:
    for every degree threshold k, φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k
    counts nodes of degree > k and E_k the edges among them (Colizza et
    al., Nature Physics 2006) — "do the hubs trade preferentially with
    each other?". φ → 1 = an interlocked elite; flat/low = no core.

    Scale shape: degrees from one edge aggregate; every threshold count
    comes from inequality joins between the BOUNDED degree-distribution
    and edge-min-degree relations (degree-valued rows, not nodes or
    edges), so the fact-scale work is two aggregates regardless of graph
    size. Thresholds with N_k < 2 drop (φ undefined)."""
    ensure_views(spark, sf_dir)
    e = _supplier_edges(spark, sf_dir).localCheckpoint(eager=False)
    both = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dd = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("_dn"))
    edge_min = (
        e.join(deg.select(F.col("src").alias("src"), F.col("deg").alias("_da")), "src")
        .join(deg.select(F.col("src").alias("dst"), F.col("deg").alias("_db")), "dst")
        .select(F.least("_da", "_db").alias("_md"))
        .groupBy("_md")
        .agg(F.count(F.lit(1)).alias("_en"))
    )
    ks = dd.select(F.col("deg").alias("k"))
    n_k = (
        ks.join(F.broadcast(dd), F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.sum("_dn").alias("n_nodes"))
    )
    e_k = (
        ks.join(F.broadcast(edge_min), F.col("_md") > F.col("k"))
        .groupBy("k")
        .agg(F.sum("_en").alias("n_edges"))
    )
    return (
        n_k.join(e_k, "k", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.round(
                F.lit(2.0)
                * F.coalesce("n_edges", F.lit(0)).cast("double")
                / (
                    F.col("n_nodes").cast("double")
                    * (F.col("n_nodes") - F.lit(1)).cast("double")
                ),
                9,
            ).alias("phi"),
        )
    )


RICH_CLUB_SQL = f"""
WITH {_EDGES_SQL},
bidir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v, u FROM ed),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY src),
dd AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS dn FROM deg GROUP BY deg),
em AS (
  SELECT LEAST(da.deg, db.deg) AS md, CAST(COUNT(*) AS BIGINT) AS en
  FROM ed JOIN deg da ON da.src = ed.u JOIN deg db ON db.src = ed.v
  GROUP BY 1
), ks AS (SELECT deg AS k FROM dd),
nk AS (
  SELECT k, CAST(SUM(dn) AS BIGINT) AS n_nodes
  FROM ks JOIN dd ON dd.deg > ks.k GROUP BY k
), ek AS (
  SELECT k, CAST(SUM(en) AS BIGINT) AS n_edges
  FROM ks JOIN em ON em.md > ks.k GROUP BY k
)
SELECT nk.k, nk.n_nodes, COALESCE(ek.n_edges, 0) AS n_edges,
       round(2.0 * COALESCE(ek.n_edges, 0)
             / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1)), 9) AS phi
FROM nk LEFT JOIN ek USING (k)
WHERE nk.n_nodes >= 2
"""

register(supplier_rich_club, RICH_CLUB_SQL)


def supplier_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law exponent of the supplier-graph degree
    distribution by the continuous-approximation MLE
    α = 1 + n / Σ ln(d / (dmin − 1/2)) (Clauset, Shalizi & Newman, SIAM
    Review 2009, eq. 3.7 with dmin = 1) — the "is this a hub-dominated
    heavy tail?" number that decides whether skew mitigation (salting,
    two-level aggregation) is worth wiring for a graph. Degrees from one
    edge aggregate; the log terms round to 12 and accumulate as exact
    decimals."""
    ensure_views(spark, sf_dir)
    # both orientations reference e — checkpoint so the pair-generation
    # self-join behind _supplier_edges runs once, not twice
    e = _supplier_edges(spark, sf_dir).localCheckpoint(eager=False)
    both = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    g = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("_d").alias("max_degree"),
        F.sum(
            F.round(F.log(F.col("_d").cast("double") / F.lit(0.5)), 12).cast(
                "decimal(30,12)"
            )
        )
        .cast("double")
        .alias("_sl"),
    )
    return g.filter(F.col("n_nodes") > 0).select(
        "n_nodes",
        "max_degree",
        F.when(
            F.col("_sl") > 0,
            F.round(F.lit(1.0) + F.col("n_nodes") / F.col("_sl"), 9),
        ).alias("alpha"),
    )


POWERLAW_SQL = f"""
WITH {_EDGES_SQL},
bidir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v, u FROM ed),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM bidir GROUP BY src),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(MAX(d) AS BIGINT) AS max_degree,
         CAST(SUM(CAST(round(ln(CAST(d AS DOUBLE) / 0.5), 12) AS DECIMAL(30,12))) AS DOUBLE) AS sl
  FROM deg
)
SELECT n_nodes, max_degree,
       CASE WHEN sl > 0 THEN round(1.0 + n_nodes / sl, 9) END AS alpha
FROM g WHERE n_nodes > 0
"""

register(supplier_degree_powerlaw, POWERLAW_SQL)


def supplier_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted fixed-point PageRank: mass splits proportionally to
    co-shipment counts instead of uniformly (`pagerank_fixed_point`'s
    ``edge_weight`` path — a supplier that co-ships 50 orders with one
    partner and 5 with another sends 10× the rank along the first edge).
    Same integer exactness contract as the unweighted showcase; the
    oracle replays the weighted share split ``rank·w div Σw``."""
    ensure_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _MIN_COOCCUR)
    )
    undirected = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return pagerank_fixed_point(undirected, iterations=3, edge_weight="w")


def _prw_iter_sql(prev: str, cur: str) -> str:
    return f"""
i{cur} AS MATERIALIZED (SELECT d.dst AS node, SUM((r{prev}.r * d.w) // sw.sw) AS m
           FROM dirw d
           JOIN r{prev} ON r{prev}.node = d.src
           JOIN sw ON sw.src = d.src
           GROUP BY d.dst),
r{cur} AS MATERIALIZED (SELECT nodes.node,
                  (15 * {_PR_SCALE}) // (100 * nn.n)
                  + (85 * COALESCE(i{cur}.m, 0)) // 100 AS r
           FROM nodes CROSS JOIN nn
           LEFT JOIN i{cur} ON i{cur}.node = nodes.node)
"""


PAGERANK_W_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
edw AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, CAST(COUNT(*) AS BIGINT) AS w
        FROM li a JOIN li b USING (l_orderkey)
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_MIN_COOCCUR}),
dirw AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM edw
         UNION ALL SELECT v AS src, u AS dst, w FROM edw),
nodes AS (SELECT DISTINCT src AS node FROM dirw),
nn AS (SELECT COUNT(*) AS n FROM nodes),
sw AS MATERIALIZED (SELECT src, SUM(w) AS sw FROM dirw GROUP BY src),
r0 AS MATERIALIZED (SELECT node, {_PR_SCALE} // nn.n AS r FROM nodes, nn),
{_prw_iter_sql("0", "1")},
{_prw_iter_sql("1", "2")},
{_prw_iter_sql("2", "3")}
SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
"""

register(supplier_pagerank_weighted, PAGERANK_W_SQL)


_DIA_MAX_HOPS = 20


def supplier_diameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diameter lower bound by the classic DOUBLE BFS SWEEP (Magnien
    et al., "Fast computation of empirically tight bounds for the
    diameter of massive graphs", JEA 2009): BFS from the minimum node
    id, restart a second BFS from the farthest node found (ties → min
    id) — its eccentricity is the standard near-tight diameter lower
    bound at two-BFS cost, where the exact diameter would need all-pairs.
    Covers the seed's component; both sweeps reuse one checkpointed edge
    set. Returns one row ``(seed, far_node, sweep1_ecc, diameter_lb)``."""
    from onetl_spark.operators.graph import bfs_hops

    ensure_views(spark, sf_dir)
    e = _supplier_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seed = nodes.orderBy("node").limit(1)
    d1 = bfs_hops(e, seed, max_hops=_DIA_MAX_HOPS)
    far1 = d1.orderBy(F.col("hops").desc(), F.col("node").asc()).limit(1)
    ecc1_row = far1.collect()[0]
    far_node, ecc1 = ecc1_row["node"], ecc1_row["hops"]
    d2 = bfs_hops(
        e, spark.createDataFrame([(far_node,)], "node long"), max_hops=_DIA_MAX_HOPS
    )
    seed_val = seed.collect()[0]["node"]
    return d2.agg(
        F.lit(int(seed_val)).cast("long").alias("seed"),
        F.lit(int(far_node)).cast("long").alias("far_node"),
        F.lit(int(ecc1)).cast("long").alias("sweep1_ecc"),
        F.max("hops").cast("long").alias("diameter_lb"),
    )


DIAMETER_SQL = f"""
WITH RECURSIVE {_EDGES_SQL},
dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
        UNION ALL SELECT v AS src, u AS dst FROM ed),
nodes AS (SELECT DISTINCT src AS node FROM dir),
seed AS (SELECT MIN(node) AS node FROM nodes),
walk1(node, d) AS (
  SELECT node, 0 FROM seed
  UNION
  SELECT dir.dst, walk1.d + 1
  FROM walk1 JOIN dir ON dir.src = walk1.node
  WHERE walk1.d < {_DIA_MAX_HOPS}
), d1 AS (SELECT node, MIN(d) AS hops FROM walk1 GROUP BY node),
far1 AS (SELECT node, hops FROM d1 ORDER BY hops DESC, node ASC LIMIT 1),
walk2(node, d) AS (
  SELECT node, 0 FROM far1
  UNION
  SELECT dir.dst, walk2.d + 1
  FROM walk2 JOIN dir ON dir.src = walk2.node
  WHERE walk2.d < {_DIA_MAX_HOPS}
), d2 AS (SELECT node, MIN(d) AS hops FROM walk2 GROUP BY node)
SELECT (SELECT node FROM seed) AS seed,
       (SELECT node FROM far1) AS far_node,
       (SELECT hops FROM far1) AS sweep1_ecc,
       CAST(MAX(hops) AS BIGINT) AS diameter_lb
FROM d2
"""

register(supplier_diameter_sweep, DIAMETER_SQL)


def part_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the PART co-purchase graph
    (`operators/graph.py adamic_adar`): the rare-neighbor-weighted
    companion to supplier_link_prediction's Jaccard, run on the sparse
    leaf-heavy part graph where open wedges actually exist (the
    supplier graph saturates into a clique at small scale) — wedge-join
    candidates only, round-9 decimal-accumulated 1/ln(deg) terms,
    deterministic top-k."""
    from onetl_spark.operators.graph import adamic_adar

    return adamic_adar(_part_edges(spark, sf_dir), top_k=_LP_TOPK)


ADAMIC_ADAR_SQL = f"""
WITH {_PART_EDGES_SQL},
bidir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v, u FROM ed),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY src),
wedge AS (
  SELECT w1.src AS a, w2.src AS b, w1.dst AS n
  FROM bidir w1 JOIN bidir w2 ON w1.dst = w2.dst AND w1.src < w2.src
), cand AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(round(1.0 / ln(CAST(deg.deg AS DOUBLE)), 9)
                       AS DECIMAL(38,9))) AS DOUBLE) AS aa
  FROM wedge JOIN deg ON wedge.n = deg.src
  GROUP BY a, b
), fresh AS (
  SELECT cand.a, cand.b, cand.cn, cand.aa
  FROM cand LEFT JOIN ed ON cand.a = ed.u AND cand.b = ed.v
  WHERE ed.u IS NULL
)
SELECT a AS src, b AS dst, cn AS common_neighbors, round(aa, 9) AS adamic_adar
FROM fresh
ORDER BY adamic_adar DESC, src ASC, dst ASC
LIMIT {_LP_TOPK}
"""

register(part_adamic_adar, ADAMIC_ADAR_SQL)


def supplier_nation_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition on the supplier
    co-occurrence graph (`operators/graph.py partition_modularity`):
    does geography concentrate trading edges — the attribute-partition
    companion to the detected supplier_communities, with per-nation
    q contributions summing to Q."""
    from onetl_spark.operators.graph import partition_modularity

    ensure_views(spark, sf_dir)
    labels = (
        spark.table("supplier")
        .join(
            spark.table("nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey").alias("node"), F.col("n_name").alias("community"))
    )
    return partition_modularity(
        _supplier_edges(spark, sf_dir), labels, label_col="community"
    )


NATION_MODULARITY_SQL = f"""
WITH {_EDGES_SQL},
lab AS (
  SELECT s_suppkey AS id, n_name AS c
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM ed),
bidir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v, u FROM ed),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY src),
node_c AS (
  SELECT deg.src, deg.deg, lab.c FROM deg JOIN lab ON deg.src = lab.id
),
per_c AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg) AS BIGINT) AS degree_sum
  FROM node_c GROUP BY c
),
internal AS (
  SELECT la.c, CAST(COUNT(*) AS BIGINT) AS internal_edges
  FROM ed JOIN lab la ON ed.u = la.id JOIN lab lb ON ed.v = lb.id
  WHERE la.c = lb.c GROUP BY la.c
)
SELECT per_c.c AS community, per_c.n_nodes,
       CAST(COALESCE(internal.internal_edges, 0) AS BIGINT) AS internal_edges,
       per_c.degree_sum,
       round(CAST(COALESCE(internal.internal_edges, 0) AS DOUBLE) / m.m_edges
             - (CAST(per_c.degree_sum AS DOUBLE) / (2.0 * m.m_edges))
               * (CAST(per_c.degree_sum AS DOUBLE) / (2.0 * m.m_edges)), 9)
         AS q_contrib
FROM per_c LEFT JOIN internal USING (c) CROSS JOIN m
ORDER BY community
"""

register(supplier_nation_modularity, NATION_MODULARITY_SQL)


def supplier_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank restarting at the seed suppliers
    (node % 20 == 0) over the undirected co-occurrence graph
    (`operators/graph.py personalized_pagerank_fixed_point`): seed-based
    relevance in the SAME bit-exact fixed-point integer arithmetic as
    the global rank — dangling and teleport mass return to the seeds.
    3 iterations; the oracle unrolls them with integer division."""
    from onetl_spark.operators.graph import personalized_pagerank_fixed_point

    e = _supplier_edges(spark, sf_dir)
    undirected = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    nodes = (
        undirected.select(F.col("src").alias("node")).distinct()
    )
    seeds = nodes.filter(F.col("node") % 20 == 0)
    return personalized_pagerank_fixed_point(undirected, seeds, iterations=3)


def _ppr_iter_sql(prev: str, cur: str) -> str:
    return f"""
pi{cur} AS MATERIALIZED (SELECT d.dst AS node, SUM(pr{prev}.r // od.od) AS m
            FROM dir d
            JOIN pr{prev} ON pr{prev}.node = d.src
            JOIN od ON od.src = d.src
            GROUP BY d.dst),
pdang{cur} AS MATERIALIZED (SELECT COALESCE(SUM(pr{prev}.r), 0) AS s
               FROM pr{prev} LEFT JOIN od ON od.src = pr{prev}.node
               WHERE od.src IS NULL),
pr{cur} AS MATERIALIZED (SELECT m.node,
                   (CASE WHEN m.is_seed = 1
                         THEN (15 * {_PR_SCALE}) // (100 * ns.n) ELSE 0 END)
                   + (85 * (COALESCE(pi{cur}.m, 0)
                            + CASE WHEN m.is_seed = 1
                                   THEN pdang{cur}.s // ns.n ELSE 0 END)) // 100
                     AS r
            FROM marked m CROSS JOIN ns CROSS JOIN pdang{cur}
            LEFT JOIN pi{cur} ON pi{cur}.node = m.node)
"""


PPR_SQL = f"""
WITH {_EDGES_SQL},
dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
        UNION ALL SELECT v AS src, u AS dst FROM ed),
nodes AS (SELECT DISTINCT src AS node FROM dir),
marked AS MATERIALIZED (SELECT node, CASE WHEN node % 20 = 0 THEN 1 ELSE 0 END AS is_seed
           FROM nodes),
ns AS (SELECT COUNT(*) AS n FROM marked WHERE is_seed = 1),
od AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM dir GROUP BY src),
pr0 AS MATERIALIZED (SELECT node, CASE WHEN is_seed = 1 THEN {_PR_SCALE} // ns.n
                          ELSE 0 END AS r
        FROM marked CROSS JOIN ns),
{_ppr_iter_sql("0", "1")},
{_ppr_iter_sql("1", "2")},
{_ppr_iter_sql("2", "3")}
SELECT node, CAST(r AS BIGINT) AS rank_fp FROM pr3
"""

register(supplier_personalized_pagerank, PPR_SQL)
