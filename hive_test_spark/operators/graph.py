"""Graph operators over derived relationship graphs — iterative PageRank
and triangle counting [Hive-public: graph workloads are standard warehouse
analytics expressed as self-joins + aggregations (Pregel/GraphX publish the
distributed shapes); no new engine surface].

Both operators derive their graphs from the TPC-H fixtures:

- ``graph_pagerank``: the undirected customer–supplier trade graph
  (an edge per distinct (o_custkey, l_suppkey) pair observed in orders ×
  lineitem, materialized in both directions so no node is dangling).
- ``graph_triangles``: the part co-purchase affinity graph (an edge per
  part pair co-occurring in ≥2 orders, kept as p1 < p2).

Scale notes (100 TB): iterative graph algorithms on Spark are join+agg
loops. The per-iteration cost is one shuffle join (edges ⋈ ranks on src)
plus one map-side-combinable aggregation (contributions by dst); the edge
list with precomputed 1/outdeg weights is computed once and materialized, and
the loop is a FIXED, small iteration count so lineage stays shallow (for
unbounded convergence loops, materialize every ~10 rounds
— see llm_dedup_clusters' pointer-doubling CC for that pattern).
Triangle counting uses the classic ordered-edge (p1 < p2 < p3) two-join
form, so every wedge is generated exactly once; the support-≥2 edge filter
is applied BEFORE the wedge join, bounding the quadratic term by the
affinity-graph degree, not the raw co-occurrence degree.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize, side
from hive_test_spark.registry import register

_DAMP = 0.85
_ITERS = 3

# The customer–supplier trade graph shared by ALL graph operators, in
# BOTH renderings — one oracle CTE fragment and one Spark builder — so
# the ops can never silently derive different graphs (they pasted this
# block four times before round-6 review). The raw numeric pair list is
# its own shared fragment because the projection ops (link prediction)
# consume it WITHOUT the node-name prefixing.
_TRADE_PAIRS_SQL = """pairs AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )"""

_TRADE_EDGES_SQL = f"""{_TRADE_PAIRS_SQL},
    edges AS (
      SELECT 'c' || CAST(cust AS VARCHAR) AS src, 's' || CAST(supp AS VARCHAR) AS dst FROM pairs
      UNION ALL
      SELECT 's' || CAST(supp AS VARCHAR) AS src, 'c' || CAST(cust AS VARCHAR) AS dst FROM pairs
    )"""


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _TRADE_PAIRS_SQL: the distinct numeric
    (cust, supp) pair list every trade-graph op derives from."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )


# Tables bounding every per-round node frame (BFS frontier, propagation
# labels, k-core survivors): |nodes| <= |customers| + |suppliers|.
_NODES = ("customer", "supplier")


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _TRADE_EDGES_SQL: the undirected (as two directed
    rows) customer–supplier bipartite trade graph."""
    pairs = _trade_pairs(spark, sf_dir).select(
        F.concat(F.lit("c"), F.col("cust").cast("string")).alias("cust"),
        F.concat(F.lit("s"), F.col("supp").cast("string")).alias("supp"),
    )
    return pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionAll(pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst")))


_PAGERANK_ORACLE = f"""
    WITH {_TRADE_EDGES_SQL},
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT count(*) AS n_nodes FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n_nodes FROM n) AS rank FROM deg),
    r1 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n_nodes FROM n)
             + 0.85 * SUM(r.rank / d.outdeg) AS rank
      FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n_nodes FROM n)
             + 0.85 * SUM(r.rank / d.outdeg) AS rank
      FROM edges e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n_nodes FROM n)
             + 0.85 * SUM(r.rank / d.outdeg) AS rank
      FROM edges e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )
    SELECT r3.node, d.outdeg AS degree, ROUND(r3.rank, 9) AS pr
    FROM r3 JOIN deg d ON d.src = r3.node
"""


@register("graph_pagerank", _PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) on the undirected
    customer–supplier trade graph. The oracle unrolls the identical three
    iterations as chained CTEs, so the comparison covers the full fixpoint
    arithmetic, not just the graph construction.

    Spark shape: edge list + per-src weight (1/outdeg) computed once and
    materialized; each iteration is edges⋈ranks (shuffle on src) → groupBy dst
    partial-agg sum. Node count arrives via a broadcast 1-row plan (no
    eager ``.count()``). At 100 TB: the materialized weighted edge list is the
    loop invariant — pre-partitioning it by src lets every iteration's
    join reuse that exchange, and a fixed iteration count keeps lineage
    shallow (unbounded loops would materialize periodically)."""
    edges = _trade_edges(spark, sf_dir)
    # deg feeds the initial ranks, every iteration's broadcast n_nodes,
    # and the final degree join — materialize it, or six copies of the
    # edge-build subtree re-aggregate per reference.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).transform(materialize)
    # Loop invariant: each directed edge carries its source's 1/outdeg.
    edges_w = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .transform(materialize)
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ranks = deg.crossJoin(n_nodes).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for _ in range(_ITERS):
        contribs = (
            edges_w.join(ranks, edges_w.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        ranks = contribs.crossJoin(n_nodes).select(
            F.col("dst").alias("node"),
            (F.lit(0.15) / F.col("n_nodes") + F.lit(_DAMP) * F.col("contrib")).alias("rank"),
        )
    return ranks.join(deg, ranks.node == deg.src).select(
        "node", F.col("outdeg").alias("degree"), F.round("rank", 9).alias("pr")
    )


_BFS_ITERS = 4
_BFS_SRC_NATION = 1  # deterministic multi-source frontier: customers of nation 1

_BFS_LEVEL = """
    d{next} AS (
      SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM d{cur}
        UNION ALL
        SELECT e.dst AS node, d.hops + 1 AS hops
        FROM edges e JOIN d{cur} d ON d.node = e.src
      ) u GROUP BY node
    )"""

_SHORTEST_PATH_ORACLE = (
    f"""
    WITH {_TRADE_EDGES_SQL},
    d0 AS (
      SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node, 0 AS hops
      FROM customer WHERE c_nationkey = """
    + str(_BFS_SRC_NATION)
    + "),"
    + ",".join(_BFS_LEVEL.format(cur=i, next=i + 1) for i in range(_BFS_ITERS))
    + f"""
    SELECT node, hops FROM d{_BFS_ITERS}
"""
)


@register("graph_shortest_path", _SHORTEST_PATH_ORACLE)
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (unweighted shortest hop count, 4 levels) on the
    undirected customer–supplier trade graph, seeded from every customer
    of one nation. Level-synchronous min-relaxation: each level is one
    shuffle join (edges ⋈ frontier on src) followed by a map-side-
    combinable ``min(hops)`` — the Pregel/Bellman-Ford shape expressed as
    DataFrame ops, with the fixed level count keeping lineage shallow.

    The oracle unrolls the same four relaxation levels as chained CTEs
    (NOT a recursive path-enumeration CTE: on a dense bipartite trade
    graph that would enumerate every path; level-wise min keeps each
    intermediate bounded by the node count — the exact reason the Spark
    loop is also level-synchronous). At 100 TB: the materialized edge list is
    the loop invariant, pre-partitioned by src so every level's join
    reuses one exchange; unreached nodes never enter the frontier, so
    cost tracks the reached subgraph, not the full graph. Unbounded-
    diameter graphs would materialize every ~10 levels (see
    llm_dedup_clusters' pointer-doubling variant that halves the level
    count logarithmically)."""
    customer = load_table(spark, sf_dir, "customer")
    edges = _trade_edges(spark, sf_dir).transform(materialize)
    dist = customer.filter(F.col("c_nationkey") == _BFS_SRC_NATION).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"),
        F.lit(0).alias("hops"),
    )
    for _ in range(_BFS_ITERS):
        # Size gate (io.side): without it the planner sort-merges the
        # edge list against the stats-less frontier every level (BFS loop
        # 5.8–8.7 s vs 4.0–4.3 s broadcast at sf0.1, identical results).
        step = edges.join(side(dist, sf_dir, *_NODES), edges.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
        )
        dist = (
            dist.unionAll(step)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            # Per-level truncation (r13, the graph_label_propagation
            # cadence): each level references the previous `dist` TWICE
            # (union branch + join branch), so without materialization
            # the plan doubles per level — the before-plan carried 96
            # parquet scans and 62 joins for 4 levels; 5 joins remain.
            .transform(materialize)
        )
    return dist


# The co-purchase affinity graph fragments, shared by graph_triangles
# and graph_clustering_coefficient (the _TRADE_PAIRS_SQL single-source
# rule, applied to the part-projection graph).
_COPURCHASE_TRI_SQL = """pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2
    ),
    tri AS (
      SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.p1 = e1.p2
      JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ),
    corners AS (
      SELECT a AS part FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    ),
    tri_counts AS (
      SELECT part AS l_partkey, count(*) AS n_triangles
      FROM corners GROUP BY part
    )"""

_TRIANGLES_ORACLE = f"""
    WITH {_COPURCHASE_TRI_SQL}
    SELECT l_partkey, n_triangles FROM tri_counts
"""


@register("graph_triangles", _TRIANGLES_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation counts in the co-purchase affinity
    graph (edges = part pairs co-ordered in ≥2 orders, oriented p1<p2).
    Ordered-edge enumeration: wedges a<b<c from two joins, closed by an
    existence join on (a,c) — each triangle is produced exactly once.

    At 100 TB: the support filter shrinks the edge list before the
    quadratic wedge join; for power-law graphs the classic refinement is
    to orient edges by (degree, id) instead of raw id so high-degree hubs
    never fan out — same two-join plan, different orientation key."""
    return _triangle_counts(_copurchase_pairs(spark, sf_dir))


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _COPURCHASE_TRI_SQL's ``pairs`` CTE: the support>=2
    co-purchase edge list, oriented p1 < p2, materialized (it is
    referenced three times by the wedge join and again by degree
    consumers)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b_side = li.select(F.col("l_orderkey").alias("b_ok"), F.col("l_partkey").alias("p2"))
    return (
        li.join(
            b_side,
            (F.col("b_ok") == F.col("l_orderkey")) & (F.col("l_partkey") < F.col("p2")),
        )
        .groupBy(F.col("l_partkey").alias("p1"), "p2")
        # DISTINCT orders, not pair instances: duplicated (order, part)
        # lines would otherwise let a single-order pair pass the >= 2
        # co-occurrence contract (caught in round-6 review: 128 such
        # edges at sf0.001).
        .agg(F.countDistinct("l_orderkey").alias("support"))
        .filter(F.col("support") >= 2)
        .select("p1", "p2")
        .transform(materialize)
    )


def _triangle_counts(pairs: DataFrame) -> DataFrame:
    """Spark twin of _COPURCHASE_TRI_SQL's ``tri_counts`` CTE: per-node
    triangle participation via the ordered-edge two-join enumeration."""
    e2 = pairs.select(F.col("p1").alias("q1"), F.col("p2").alias("q2"))
    wedges = pairs.join(e2, F.col("q1") == F.col("p2")).select(
        F.col("p1").alias("a"), F.col("p2").alias("b"), F.col("q2").alias("c")
    )
    e3 = pairs.select(F.col("p1").alias("r1"), F.col("p2").alias("r2"))
    tri = wedges.join(e3, (F.col("r1") == F.col("a")) & (F.col("r2") == F.col("c")))
    corners = (
        tri.select(F.col("a").alias("part"))
        .unionAll(tri.select(F.col("b").alias("part")))
        .unionAll(tri.select(F.col("c").alias("part")))
    )
    return corners.groupBy(F.col("part").alias("l_partkey")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


_LP_ITERS = 3

# One synchronous min-label round: every node takes the min of its own
# label and its neighbors' labels. LEAST ignores NULLs identically in
# Spark and DuckDB (pinned by llm_rouge_overlap's fix), so isolated
# nodes — none exist in this both-directions graph — would keep their
# own label rather than going NULL.
_DUCK_LP_STEP = """
  SELECT d.node, LEAST(d.label, nb.minl) AS label
  FROM {prev} d
  LEFT JOIN (
    SELECT e.dst AS node, MIN(l.label) AS minl
    FROM edges e JOIN {prev} l ON l.node = e.src
    GROUP BY e.dst
  ) nb ON nb.node = d.node
"""

_LP_ORACLE = f"""
    WITH {_TRADE_EDGES_SQL},
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    l1 AS ({_DUCK_LP_STEP.format(prev="l0")}),
    l2 AS ({_DUCK_LP_STEP.format(prev="l1")}),
    l3 AS ({_DUCK_LP_STEP.format(prev="l2")}),
    all_rounds AS (
      SELECT 0 AS round, label FROM l0
      UNION ALL SELECT 1, label FROM l1
      UNION ALL SELECT 2, label FROM l2
      UNION ALL SELECT 3, label FROM l3
    ),
    sizes AS (
      SELECT round, label, COUNT(*) AS sz
      FROM all_rounds GROUP BY round, label
    )
    SELECT round,
           COUNT(*) AS n_communities,
           MAX(sz) AS largest_community,
           MIN(label) AS min_label
    FROM sizes
    GROUP BY round
    ORDER BY round
"""


@register("graph_label_propagation", _LP_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous min-label propagation
    [public method: the label-propagation algorithm in its
    deterministic min-label form — the same update rule as
    llm_dedup_clusters' connected components, HERE run a FIXED
    {_LP_ITERS} rounds on the customer-supplier trade graph]. The
    output is the per-round CONVERGENCE profile (community count,
    largest community, min label): on this dense trade graph the
    labels collapse toward one component, and the profile shows how
    fast information propagates per hop — the diagnostic a bounded-
    round production job reads to pick its iteration budget (the CC
    loop's run-to-convergence alternative).

    At 100 TB: one shuffle join (edges ⋈ labels on src) + one
    map-side-combinable MIN per round — the graph_pagerank loop shape
    with MIN in place of the rank sum; the fixed round count keeps
    lineage shallow (convergence loops materialize, the CC
    pattern). The per-round rollups key on the label dimension."""
    # The edge list feeds every round: checkpoint once (the pagerank
    # materialized-edges idiom) so the rounds re-read memory, not parquet.
    edges = _trade_edges(spark, sf_dir).transform(materialize)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rounds = [labels.select(F.lit(0).alias("round"), "label")]
    for i in range(_LP_ITERS):
        nb = (
            # Size gate (io.side): `labels` is a checkpointed LogicalRDD
            # with unknown stats — without it the planner sort-merges
            # the edge list against it every round.
            edges.join(side(labels, sf_dir, *_NODES), edges.src == labels.node)
            .groupBy(F.col("dst").alias("nb_node"))
            .agg(F.min("label").alias("minl"))
        )
        labels = (
            labels.join(nb, labels.node == nb.nb_node, "left")
            .select("node", F.least("label", "minl").alias("label"))
            # Per-round truncation (the llm_dedup_clusters cadence):
            # without it round t's plan embeds rounds 1..t-1 again and
            # the summary union re-evaluates every prefix (audit showed
            # 22 sort-merge joins for 3 rounds; 3 remain after).
            .transform(materialize)
        )
        rounds.append(labels.select(F.lit(i + 1).alias("round"), "label"))
    all_rounds = reduce(DataFrame.unionByName, rounds)
    sizes = all_rounds.groupBy("round", "label").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("round")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.max("sz").alias("largest_community"),
            F.min("label").alias("min_label"),
        )
        .orderBy("round")
    )


# k-core peeling: coreness threshold and fixed peel rounds.
_KCORE_K = 3
_KCORE_ROUNDS = 3

# One DuckDB peel round: drop nodes with degree < k, keep only edges
# between survivors.
_DUCK_PEEL = f"""
  SELECT e.src, e.dst FROM {{prev}} e
  JOIN (SELECT src FROM {{prev}} GROUP BY src
        HAVING COUNT(*) >= {_KCORE_K}) sa ON sa.src = e.src
  JOIN (SELECT src FROM {{prev}} GROUP BY src
        HAVING COUNT(*) >= {_KCORE_K}) sb ON sb.src = e.dst
"""

_KCORE_ORACLE = f"""
    WITH {_TRADE_EDGES_SQL},
    e0 AS (SELECT src, dst FROM edges),
    e1 AS ({_DUCK_PEEL.format(prev="e0")}),
    e2 AS ({_DUCK_PEEL.format(prev="e1")}),
    e3 AS ({_DUCK_PEEL.format(prev="e2")}),
    summary AS (
      SELECT 0 AS round, COUNT(DISTINCT src) AS n_nodes, COUNT(*) AS n_edges FROM e0
      UNION ALL SELECT 1, COUNT(DISTINCT src), COUNT(*) FROM e1
      UNION ALL SELECT 2, COUNT(DISTINCT src), COUNT(*) FROM e2
      UNION ALL SELECT 3, COUNT(DISTINCT src), COUNT(*) FROM e3
    )
    SELECT round, n_nodes, CAST(n_edges AS BIGINT) AS n_edges
    FROM summary ORDER BY round
"""


@register("graph_kcore", _KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling toward the {_KCORE_K}-core [public method:
    iteratively delete nodes of degree < k until a fixed point — the
    cohesion backbone used for spam-ring mining and "dense trade
    cluster" extraction; completes the graph family: PageRank =
    centrality, label propagation = community, triangles = local
    clustering, BFS = reachability, k-core = cohesion]. A FIXED
    {_KCORE_ROUNDS} peel rounds run on the directed-both-ways trade
    graph; the per-round (nodes, edges) profile shows convergence —
    when two consecutive rounds agree the k-core is exact, otherwise
    the budget bounds the overestimate (the graph_label_propagation
    budget argument).

    At 100 TB: each round is one map-side-combinable degree count +
    one semi-join of edges against surviving nodes on BOTH endpoints
    — two hash joins keyed on node ids, no cartesian anywhere;
    per-round materialize keeps the unrolled lineage flat (the CC
    cadence)."""
    edges = _trade_edges(spark, sf_dir).transform(materialize)
    rounds = [edges]
    for _ in range(_KCORE_ROUNDS):
        prev = rounds[-1]
        surv = (
            prev.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        nxt = (
            # Size gate (io.side): the survivor set is node-bounded and
            # `prev` is a stats-less checkpoint leaf — gate-broadcast
            # the small side of both semi-joins.
            prev.join(side(surv, sf_dir, *_NODES), "src", "left_semi")
            .join(
                side(surv.select(F.col("src").alias("dst")), sf_dir, *_NODES),
                "dst",
                "left_semi",
            )
            .transform(materialize)
        )
        rounds.append(nxt)
    rows = [
        e.agg(
            F.lit(i).alias("round"),
            F.countDistinct("src").alias("n_nodes"),
            F.count(F.lit(1)).alias("n_edges"),
        )
        for i, e in enumerate(rounds)
    ]
    return reduce(DataFrame.unionByName, rows).orderBy("round")


# ---------------------------------------------------------------------------
# Degree distribution + power-law fit
# ---------------------------------------------------------------------------


@register(
    "graph_degree_distribution",
    f"""
    WITH {_TRADE_EDGES_SQL},
    degs AS (
      SELECT src, COUNT(*) AS degree FROM edges GROUP BY src
    ),
    mind AS (SELECT MIN(degree) AS dmin FROM degs),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes_total,
             CAST(MAX(m.dmin) AS BIGINT) AS dmin,
             ROUND(1.0 + COUNT(*) /
                   SUM(ln(degree / (m.dmin - 0.5))), 6) AS alpha_mle
      FROM degs CROSS JOIN mind m
    )
    SELECT d.degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           f.n_nodes_total, f.dmin, f.alpha_mle
    FROM degs d CROSS JOIN fit f
    GROUP BY d.degree, f.n_nodes_total, f.dmin, f.alpha_mle
    ORDER BY d.degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the trade graph plus the discrete power-law
    exponent MLE [public method: Clauset, Shalizi & Newman 2009 — the
    continuous approximation alpha = 1 + n / SUM(ln(d / (dmin - 0.5))),
    the standard replacement for the biased log-log OLS slope]. The
    histogram is what you inspect before ANY graph algorithm at scale:
    a heavy tail (small alpha) means hub-aware orientation / salting is
    mandatory for the join-based ops in this family.

    At 100 TB: degrees are one map-side-combinable count keyed on node
    id; the histogram is a second count keyed on degree (domain:
    thousands of values, no skew); the fit is a 1-row aggregate attached
    by broadcast. Nothing after the first rollup scales with edges."""
    # One row per node; referenced three times (histogram, dmin, fit) —
    # materialize so the edge derivation runs once (the graph_triangles
    # rule).
    degs = (
        _trade_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .transform(materialize)
    )
    # 1-row fit: n, dmin, and the CSN continuous-approximation MLE.
    # dmin rides in as a broadcast 1-row scalar (not a whole-table
    # window, which would force a single partition over the degrees).
    mind = degs.agg(F.min("degree").alias("dmin"))
    fit = degs.crossJoin(mind).agg(
        F.count(F.lit(1)).alias("n_nodes_total"),
        F.max("dmin").alias("dmin"),
        F.round(
            1.0
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("degree") / (F.col("dmin") - 0.5))),
            6,
        ).alias("alpha_mle"),
    )
    hist = degs.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    return hist.crossJoin(fit).select(
        "degree", "n_nodes", "n_nodes_total", "dmin", "alpha_mle"
    ).orderBy("degree")


# Link prediction over the supplier projection of the bipartite trade
# graph: hub customers above this degree are excluded before the wedge
# join (standard practice — a hub contributes deg^2 candidate pairs and
# near-zero signal; Adamic-Adar's 1/ln(deg) weight already encodes that).
_CN_HUB_CAP = 64
_CN_TOPK = 100


@register(
    "graph_common_neighbors",
    f"""
    WITH {_TRADE_PAIRS_SQL},
    cdeg AS (
      SELECT cust, COUNT(*) AS cd FROM pairs GROUP BY cust
    ),
    kept AS (
      SELECT p.cust, p.supp, d.cd
      FROM pairs p JOIN cdeg d ON d.cust = p.cust
      WHERE d.cd <= {_CN_HUB_CAP}
    ),
    sdeg AS (
      SELECT supp, COUNT(*) AS sd FROM kept GROUP BY supp
    ),
    wedges AS (
      SELECT a.supp AS s1, b.supp AS s2,
             COUNT(*) AS common_neighbors,
             ROUND(SUM(1.0 / ln(a.cd)), 6) AS adamic_adar
      FROM kept a JOIN kept b ON b.cust = a.cust AND a.supp < b.supp
      GROUP BY a.supp, b.supp
    )
    SELECT w.s1, w.s2, w.common_neighbors,
           ROUND(w.common_neighbors * 1.0
                 / (d1.sd + d2.sd - w.common_neighbors), 6) AS jaccard,
           w.adamic_adar
    FROM wedges w
    JOIN sdeg d1 ON d1.supp = w.s1
    JOIN sdeg d2 ON d2.supp = w.s2
    ORDER BY w.adamic_adar DESC, w.s1, w.s2
    LIMIT {_CN_TOPK}
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores over the supplier projection of the
    customer-supplier bipartite graph [public method: Liben-Nowell &
    Kleinberg 2003 — common-neighbor count, Jaccard, and Adamic-Adar
    1/ln(deg) weighting are the classic proximity scores]: for every
    supplier pair sharing >= 1 (non-hub) customer, emit all three
    scores and keep the top-{_CN_TOPK} by Adamic-Adar (rounded BEFORE
    ranking so the cut is engine-independent; ties broken on ids).

    Adamic-Adar's ln(deg) is never ln(1): a shared customer connects
    both suppliers, so its degree is >= 2 by construction.

    At 100 TB: the wedge join through the shared-customer key is the
    quadratic term; the hub cap (deg <= {_CN_HUB_CAP}) bounds it by
    SUM(deg^2) over NON-hub customers — the same blocking discipline as
    llm_shingle_containment's rare-shingle rule. Degrees join back on
    supplier id (broadcastable: suppliers are the small side of TPC-H),
    and the top-k is a single bounded sort."""
    pairs = _trade_pairs(spark, sf_dir)
    cdeg = pairs.groupBy("cust").agg(F.count(F.lit(1)).alias("cd"))
    # One row per non-hub (cust, supp) edge; referenced three times
    # (both wedge sides + supplier degrees) — materialize so the orders ×
    # lineitem distinct runs once (the graph_triangles rule).
    kept = pairs.join(cdeg, "cust").filter(F.col("cd") <= _CN_HUB_CAP).transform(materialize)
    sdeg = kept.groupBy("supp").agg(F.count(F.lit(1)).alias("sd"))
    a = kept.select("cust", F.col("supp").alias("s1"), "cd")
    b = kept.select("cust", F.col("supp").alias("s2"))
    wedges = (
        a.join(b, "cust")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(F.sum(1.0 / F.log(F.col("cd"))), 6).alias("adamic_adar"),
        )
    )
    d1 = sdeg.select(F.col("supp").alias("s1"), F.col("sd").alias("sd1"))
    d2 = sdeg.select(F.col("supp").alias("s2"), F.col("sd").alias("sd2"))
    return (
        wedges.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("sd1") + F.col("sd2") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            "adamic_adar",
        )
        .orderBy(F.col("adamic_adar").desc(), "s1", "s2")
        .limit(_CN_TOPK)
    )


@register(
    "graph_modularity",
    f"""
    WITH {_TRADE_PAIRS_SQL},
    comm AS (
      SELECT p.cust, p.supp,
             c.c_nationkey AS c_comm, s.s_nationkey AS s_comm
      FROM pairs p
      JOIN customer c ON c.c_custkey = p.cust
      JOIN supplier s ON s.s_suppkey = p.supp
    ),
    m AS (SELECT COUNT(*) AS m FROM comm),
    within AS (
      SELECT c_comm AS comm, COUNT(*) AS e_within
      FROM comm WHERE c_comm = s_comm GROUP BY c_comm
    ),
    deg AS (
      SELECT comm, CAST(SUM(d) AS BIGINT) AS deg_total FROM (
        SELECT c_comm AS comm, COUNT(*) AS d FROM comm GROUP BY c_comm
        UNION ALL
        SELECT s_comm AS comm, COUNT(*) AS d FROM comm GROUP BY s_comm
      ) u GROUP BY comm
    ),
    contrib AS (
      SELECT d.comm,
             COALESCE(w.e_within, 0) AS e_within,
             d.deg_total,
             ROUND(COALESCE(w.e_within, 0) * 1.0 / m.m
                   - (d.deg_total * 1.0 / (2 * m.m)) ^ 2, 6) AS q_contrib
      FROM deg d LEFT JOIN within w ON w.comm = d.comm CROSS JOIN m
    )
    SELECT comm AS nationkey, e_within, deg_total, q_contrib,
           ROUND(SUM(q_contrib) OVER (), 6) AS q_total
    FROM contrib
    ORDER BY nationkey
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition of the customer-supplier
    trade graph [public method: Newman & Girvan 2004 — Q = SUM_c(e_c/m
    - (deg_c/2m)^2); the objective every Louvain/Leiden community pass
    maximizes, here used as an AUDIT of a given labeling]: communities
    are the nations both node types already carry, so the op measures
    how much same-nation trade exceeds the degree-preserving random
    expectation. Emits one row per community (within-edges, total
    degree, contribution) plus the graph-level Q repeated per row —
    the number a community-detection job gates deployment on.

    At 100 TB: the edge list joins its two broadcastable dimension
    tables for labels (customer/supplier are the small side; at web
    scale this is the node-attribute join, shuffled on node id), then
    everything is map-side-combinable counting: e_c and deg_c are one
    groupBy each over the labeled edges, m is a 1-row frame crossed in
    (the llm_tfidf no-driver-count rule), and the final window-SUM runs
    on |communities| rows (25)."""
    pairs = _trade_pairs(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_nationkey").alias("c_comm")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp"), F.col("s_nationkey").alias("s_comm")
    )
    comm = pairs.join(cust, "cust").join(supp, "supp")
    # Edge total as a 1-row frame (no driver-side count — llm_tfidf rule).
    m = comm.agg(F.count(F.lit(1)).alias("m"))
    within = (
        comm.filter(F.col("c_comm") == F.col("s_comm"))
        .groupBy(F.col("c_comm").alias("comm"))
        .agg(F.count(F.lit(1)).alias("e_within"))
    )
    deg = (
        comm.groupBy(F.col("c_comm").alias("comm")).agg(F.count(F.lit(1)).alias("d"))
        .unionAll(
            comm.groupBy(F.col("s_comm").alias("comm")).agg(
                F.count(F.lit(1)).alias("d")
            )
        )
        .groupBy("comm")
        .agg(F.sum("d").alias("deg_total"))
    )
    e_w = F.coalesce(F.col("e_within"), F.lit(0))
    q = F.round(
        e_w / F.col("m") - F.pow(F.col("deg_total") / (2 * F.col("m")), 2), 6
    )
    contrib = (
        deg.join(within, "comm", "left")
        .crossJoin(m)
        .select(
            F.col("comm").alias("nationkey"),
            e_w.alias("e_within"),
            "deg_total",
            q.alias("q_contrib"),
        )
    )
    w_all = Window.partitionBy()
    return contrib.select(
        "*", F.round(F.sum("q_contrib").over(w_all), 6).alias("q_total")
    ).orderBy("nationkey")


@register(
    "graph_clustering_coefficient",
    f"""
    WITH {_COPURCHASE_TRI_SQL},
    deg AS (
      SELECT node AS l_partkey, COUNT(*) AS degree FROM (
        SELECT p1 AS node FROM pairs UNION ALL SELECT p2 FROM pairs
      ) u GROUP BY node
    )
    SELECT d.l_partkey,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(t.n_triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coeff,
           ROUND(AVG(2.0 * COALESCE(t.n_triangles, 0)
                     / (d.degree * (d.degree - 1))) OVER (), 6) AS avg_cc
    FROM deg d LEFT JOIN tri_counts t ON t.l_partkey = d.l_partkey
    WHERE d.degree >= 2
    ORDER BY d.l_partkey
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the co-purchase affinity
    graph [public method: Watts & Strogatz 1998 — cc_v = 2 T_v /
    (deg_v (deg_v - 1)), the neighborhood-density score whose average
    against a degree-matched random graph is the small-world
    diagnostic]: composes the SAME support>=2 edge list and
    ordered-edge triangle enumeration graph_triangles verifies (the
    _TRADE_PAIRS_SQL single-source rule — both ops share the
    _COPURCHASE_TRI_SQL fragment / _copurchase_pairs builder, so the
    graph derivations cannot drift). Nodes with degree < 2 are
    excluded (coefficient undefined); zero-triangle nodes survive via
    the LEFT join with COALESCE 0. The graph-level mean is a 1-row
    aggregate crossed back in as a broadcast (the llm_tfidf
    no-driver-count idiom) — NOT an unpartitioned window, which would
    drag every corpus-scale node row to one partition.

    At 100 TB: degree is one map-side-combinable count over the edge
    list (already support-filtered); the triangle leg is the bounded
    wedge join graph_triangles documents; the final join keys on node
    id. The mean reduces map-side and ships one row."""
    pairs = _copurchase_pairs(spark, sf_dir)
    tri = _triangle_counts(pairs)
    deg = (
        pairs.select(F.col("p1").alias("node"))
        .unionAll(pairs.select(F.col("p2").alias("node")))
        .groupBy(F.col("node").alias("l_partkey"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    cc = 2.0 * t / (F.col("degree") * (F.col("degree") - 1))
    joined = deg.join(tri, "l_partkey", "left").filter(F.col("degree") >= 2)
    mean = joined.agg(F.round(F.avg(cc), 6).alias("avg_cc"))
    return (
        joined.crossJoin(mean)
        .select(
            "l_partkey",
            F.col("degree").cast("long").alias("degree"),
            t.cast("long").alias("n_triangles"),
            F.round(cc, 6).alias("clustering_coeff"),
            "avg_cc",
        )
        .orderBy("l_partkey")
    )


# HITS: 2 full hub/authority rounds; each half-step L2-normalizes and
# rounds to 6dp so both engines track identical doubles (the
# llm_pca_power_iter iterate-rounding rule).
_HITS_ITERS = 2


def _hits_oracle() -> str:
    ctes = [
        _TRADE_PAIRS_SQL,
        "hd AS (SELECT cust, COUNT(*) AS hdeg FROM pairs GROUP BY cust)",
        "ad AS (SELECT supp, COUNT(*) AS adeg FROM pairs GROUP BY supp)",
        "h0 AS (SELECT cust, CAST(1 AS DOUBLE) AS h FROM hd)",
    ]
    for k in range(1, _HITS_ITERS + 1):
        ctes.append(
            f"a{k}r AS (SELECT p.supp, SUM(h.h) AS a FROM pairs p"
            f" JOIN h{k - 1} h ON h.cust = p.cust GROUP BY p.supp)"
        )
        ctes.append(f"a{k}n AS (SELECT sqrt(SUM(a * a)) AS nrm FROM a{k}r)")
        ctes.append(
            f"a{k} AS (SELECT supp, ROUND(a / (SELECT nrm FROM a{k}n), 6) AS a"
            f" FROM a{k}r)"
        )
        ctes.append(
            f"h{k}r AS (SELECT p.cust, SUM(a.a) AS h FROM pairs p"
            f" JOIN a{k} a ON a.supp = p.supp GROUP BY p.cust)"
        )
        ctes.append(f"h{k}n AS (SELECT sqrt(SUM(h * h)) AS nrm FROM h{k}r)")
        ctes.append(
            f"h{k} AS (SELECT cust, ROUND(h / (SELECT nrm FROM h{k}n), 6) AS h"
            f" FROM h{k}r)"
        )
    last = _HITS_ITERS
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT 's' || CAST(a.supp AS VARCHAR) AS node, 'authority' AS role,
           a.a AS score, CAST(d.adeg AS BIGINT) AS degree
    FROM a{last} a JOIN ad d ON d.supp = a.supp
    UNION ALL
    SELECT 'c' || CAST(h.cust AS VARCHAR) AS node, 'hub' AS role,
           h.h AS score, CAST(d.hdeg AS BIGINT) AS degree
    FROM h{last} h JOIN hd d ON d.cust = h.cust
    """


@register("graph_hits", _hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the bipartite trade graph [public
    method: Kleinberg 1999 — a(s) = Σ h(c) over in-edges, h(c) = Σ a(s)
    over out-edges, L2-normalized each half-step; THE ranking for
    bipartite affinity where PageRank's random surfer conflates the two
    roles]: customers are hubs, suppliers authorities, over the same
    support-distinct (cust, supp) pair list every trade-graph op shares
    (_TRADE_PAIRS_SQL / _trade_pairs — the single-source rule). Two
    full rounds, each iterate ROUNDED to 6dp after its L2 normalize so
    Spark and the chained-CTE oracle track bit-identical state (the
    llm_pca_power_iter rule); emits every node with its role, final
    score, and degree.

    At 100 TB: per half-step ONE equi-join of the edge list against
    the broadcast-size score frame keyed on the joining side plus one
    map-side-combinable SUM by the other side; the norm is a 1-row
    aggregate crossed back in as a broadcast (the llm_tfidf
    no-driver-count idiom). Fixed iteration count keeps lineage
    shallow (the graph_pagerank rule); the edge list never re-derives
    inside the loop."""
    pairs = _trade_pairs(spark, sf_dir).transform(materialize)
    hd = pairs.groupBy("cust").agg(F.count(F.lit(1)).alias("hdeg"))
    ad = pairs.groupBy("supp").agg(F.count(F.lit(1)).alias("adeg"))
    h = hd.select("cust", F.lit(1.0).alias("h"))
    a = None
    for _ in range(_HITS_ITERS):
        ar = (
            pairs.join(h, "cust")
            .groupBy("supp")
            .agg(F.sum("h").alias("a"))
        )
        an = ar.agg(F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm"))
        a = ar.crossJoin(F.broadcast(an)).select(
            "supp", F.round(F.col("a") / F.col("nrm"), 6).alias("a")
        )
        hr = (
            pairs.join(a, "supp")
            .groupBy("cust")
            .agg(F.sum("a").alias("h"))
        )
        hn = hr.agg(F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("nrm"))
        h = hr.crossJoin(hn).select(
            "cust", F.round(F.col("h") / F.col("nrm"), 6).alias("h")
        )
    auth = a.join(ad, "supp").select(
        F.concat(F.lit("s"), F.col("supp").cast("string")).alias("node"),
        F.lit("authority").alias("role"),
        F.col("a").alias("score"),
        F.col("adeg").cast("long").alias("degree"),
    )
    hubs = h.join(hd, "cust").select(
        F.concat(F.lit("c"), F.col("cust").cast("string")).alias("node"),
        F.lit("hub").alias("role"),
        F.col("h").alias("score"),
        F.col("hdeg").cast("long").alias("degree"),
    )
    return auth.unionByName(hubs)


@register(
    "graph_assortativity",
    f"""
    WITH {_COPURCHASE_TRI_SQL},
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT p1 AS node FROM pairs UNION ALL SELECT p2 FROM pairs
      ) u GROUP BY node
    ),
    ends AS (
      SELECT da.d AS dx, db.d AS dy
      FROM pairs p JOIN deg da ON da.node = p.p1 JOIN deg db ON db.node = p.p2
      UNION ALL
      SELECT db.d AS dx, da.d AS dy
      FROM pairs p JOIN deg da ON da.node = p.p1 JOIN deg db ON db.node = p.p2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edge_ends,
           ROUND(AVG(CAST(dx AS DOUBLE)), 6) AS mean_end_degree,
           ROUND(corr(CAST(dx AS DOUBLE), CAST(dy AS DOUBLE)), 6)
             AS assortativity
    FROM ends
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase affinity graph [public
    method: Newman 2002 — the Pearson correlation of degrees at the two
    ends of every edge; positive = hubs link hubs (social), negative =
    hubs link leaves (technological/retail), the one-number structure
    diagnostic beside graph_degree_distribution (the marginal) and
    graph_clustering_coefficient (local density)]: same support>=2
    edge list every co-purchase op shares (_COPURCHASE_TRI_SQL /
    _copurchase_pairs — the single-source rule), symmetrized so each
    undirected edge contributes both (dx, dy) and (dy, dx) as the
    undirected estimator requires. The correlation is 6dp-rounded,
    absorbing both engines' co-moment accumulation-order ulps.

    At 100 TB: degree is one map-side-combinable count; the two
    degree lookups are equi-joins on node id (vertex-cut shape); the
    correlation is a single 1-row co-moment reduction — no window, no
    collect, nothing quadratic beyond the already-bounded edge list."""
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("p1").alias("node"))
        .unionAll(pairs.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("na"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("nb"), F.col("d").alias("db"))
    joined = pairs.join(da, F.col("na") == F.col("p1")).join(
        db, F.col("nb") == F.col("p2")
    )
    fwd = joined.select(
        F.col("da").cast("double").alias("dx"),
        F.col("db").cast("double").alias("dy"),
    )
    rev = joined.select(
        F.col("db").cast("double").alias("dx"),
        F.col("da").cast("double").alias("dy"),
    )
    return fwd.unionAll(rev).agg(
        F.count(F.lit(1)).cast("long").alias("n_edge_ends"),
        F.round(F.avg("dx"), 6).alias("mean_end_degree"),
        F.round(F.corr("dx", "dy"), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Round-12: Katz centrality — the attenuated-walk member of the
# centrality family (degree < Katz < PageRank in sophistication).

_KATZ_ALPHA = 0.05
_KATZ_ITERS = 3
_KATZ_TOPK = 100

# One Katz sweep: x_{t+1}(v) = 1 + alpha * SUM_{(u,v) in E} x_t(u),
# the in-neighbor sum accumulated as exact DECIMAL over the 6dp
# iterate (SCALE 9ac — the per-iterate rounding keeps both engines on
# identical state, the decimal sum makes the fold order-independent).
_DUCK_KATZ_STEP = """
      SELECT e.dst AS node,
             ROUND(1 + {alpha} * CAST(CAST(SUM(CAST(x.katz AS DECIMAL(19,6)))
                   AS VARCHAR) AS DOUBLE), 6) AS katz
      FROM edges e JOIN {prev} x ON x.node = e.src
      GROUP BY e.dst
"""

_KATZ_ORACLE = f"""
    WITH {_TRADE_EDGES_SQL},
    k0 AS (SELECT DISTINCT src AS node, 1.0 AS katz FROM edges),
    k1 AS ({_DUCK_KATZ_STEP.format(alpha=_KATZ_ALPHA, prev="k0")}),
    k2 AS ({_DUCK_KATZ_STEP.format(alpha=_KATZ_ALPHA, prev="k1")}),
    k3 AS ({_DUCK_KATZ_STEP.format(alpha=_KATZ_ALPHA, prev="k2")}),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY src)
    SELECT k3.node, deg.degree, k3.katz
    FROM k3 JOIN deg ON deg.node = k3.node
    ORDER BY k3.katz DESC, k3.node
    LIMIT {_KATZ_TOPK}
"""


@register("graph_katz_centrality", _KATZ_ORACLE)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality over the shared trade graph [public method:
    Katz 1953 — x = SUM_k alpha^k A^k 1, computed as the truncated
    fixed-point x_{t+1} = 1 + alpha A x_t for 3 sweeps at alpha=0.05
    (well under 1/lambda_max for this graph, so the truncation tail
    is < 1e-6 of the 6dp-rounded iterate); the attenuated-ALL-walks
    member of the centrality family beside graph_pagerank (random
    surfer, degree-normalized) and graph_hits (bipartite dual) — Katz
    credits every walk, damped by length, without degree division]:
    each sweep joins edges to the previous 6dp-rounded iterate and
    accumulates the in-neighbor fold as exact DECIMAL surfaced via
    the string cast (SCALE 9ac), so both engines carry bitwise-equal
    state into every sweep; the top-{_KATZ_TOPK} cut orders on
    (katz DESC, node) — deterministic under ties.

    At 100 TB: per sweep one shuffle join (edges x iterate on src)
    plus a map-side-combinable dst fold — the graph_pagerank profile;
    the iterate is node-dimension-sized and the lineage stays 3 deep
    (longer sweeps would materialize every few rounds like
    llm_dedup_clusters)."""
    edges = _trade_edges(spark, sf_dir).transform(materialize)
    x = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0).alias("katz")
    )
    for _ in range(_KATZ_ITERS):
        x = (
            edges.join(x, x.node == edges.src)
            .groupBy(F.col("dst").alias("nxt"))
            .agg(
                F.round(
                    1
                    + _KATZ_ALPHA
                    * F.sum(F.col("katz").cast("decimal(18,6)"))
                    .cast("string")
                    .cast("double"),
                    6,
                ).alias("katz")
            )
            .select(F.col("nxt").alias("node"), "katz")
        )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return (
        x.join(deg, x.node == deg.src)
        .select("node", "degree", "katz")
        .orderBy(F.col("katz").desc(), "node")
        .limit(_KATZ_TOPK)
    )
