"""Graph-analytics catalog entries (beyond-reference, SURVEY §2.14):
rank propagation over an event-derived interaction graph.  The dedup
side of the graph family (connected components) is exercised by d5/v9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import connected_components, pagerank_fixed
from ..sources.tables import load_table
from .registry import r6 as _r6
from .registry import register


def _g1_iteration(i: int, prev: str) -> str:
    return f"""
c{i} AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(p.pr / d.deg AS DECIMAL(38,18))) AS DOUBLE) AS m
  FROM edges e
  JOIN {prev} p ON e.src = p.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
pr{i} AS (
  SELECT nodes.node,
         (1.0 - 0.85) / nn.n_nodes + 0.85 * COALESCE(c{i}.m, 0.0) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN c{i} ON nodes.node = c{i}.node
)"""


# g1/g8's event-derived interaction graph: an edge per event from its
# user to ``(user_id + 1 + event_id % 7) mod N``, nodes = the users.
_EVENT_GRAPH_CTES = """u AS (SELECT MAX(user_id) + 1 AS n FROM events),
edges AS (
  SELECT user_id AS src,
         (user_id + 1 + event_id % 7) % (SELECT n FROM u) AS dst
  FROM events
),
nodes AS (SELECT DISTINCT user_id AS node FROM events),
nn AS (SELECT COUNT(*) AS n_nodes FROM nodes)"""


def _event_graph(spark: SparkSession, sf_dir: str):
    """The Spark side of ``_EVENT_GRAPH_CTES``: ``(edges(src, dst),
    nodes(node), N)``; user ids are contiguous at every SF, so every
    edge lands on an existing node and N is the node count."""
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.agg(F.max("user_id")).first()[0] + 1  # bounded 1-row
    edges = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") + 1 + F.col("event_id") % 7) % n_users).alias("dst"),
    )
    nodes = ev.select(F.col("user_id").alias("node")).distinct()
    return edges, nodes, n_users


def _g1_oracle() -> str:
    its = ",".join(_g1_iteration(i, f"pr{i - 1}" if i > 1 else "pr0") for i in (1, 2, 3))
    return f"""
WITH {_EVENT_GRAPH_CTES},
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 / nn.n_nodes AS pr FROM nodes CROSS JOIN nn),
{its}
SELECT node AS user_id, ROUND(pr * nn.n_nodes, 6) AS pr_x_n
FROM pr3 CROSS JOIN nn
"""


@register("g1_pagerank", oracle=_g1_oracle(), tags=("graph", "batch"))
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 unrolled power iterations, damping
    0.85) over the event-derived interaction graph — edge per event
    from its user to a deterministic neighbor
    ``(user_id + 1 + event_id % 7) mod N`` (user ids are contiguous at
    every SF, so every edge lands on an existing node and every node
    has out-degree ≥ 1: no dangling mass) —
    ``operators/graph.pagerank_fixed``.  The oracle unrolls the SAME
    three iterations in CTEs; DECIMAL contribution sums make each
    iteration shuffle-order-independent, so the two programs agree to
    the 6dp rounding of pr·N.  Scale shape per iteration: one
    node-keyed join + one DECIMAL-sum agg + one left join — the
    standard distributed power-iteration step (public technique;
    Page et al. 1999, Pregel-style propagation)."""
    edges, nodes, n_users = _event_graph(spark, sf_dir)
    pr = pagerank_fixed(edges, nodes, "src", "dst", "node", iters=3, damping=0.85)
    n_nodes = n_users  # contiguous ids: every node present
    return pr.select(
        F.col("node").alias("user_id"),
        _r6(F.col("pagerank") * n_nodes).alias("pr_x_n"),
    )


# Deterministic edge set for g2/g3: ~1% of events contribute THREE
# edges (three affine generators) between nodes in a fixed 1009-slot
# id space.  Small SFs leave the generators unsaturated -> many
# components (the interesting case for CC); at saturation the graph
# has average degree ~6, i.e. O(log n) diameter — the regime min-label
# pointer jumping converges in a handful of rounds (an avg-degree-2
# construction was tried first and produced a near-path graph whose
# 100+ diameter made label propagation linear-round; long-chain graphs
# belong to large-star/small-star, documented as the kernel boundary).
# The bounded node space keeps the recursive-CTE oracle's transitive
# closure at most 1009^2 pairs regardless of data volume.
_G2_GENS = ((31, 7), (17, 3), (5, 11))
_G2_EDGE_SQL = " UNION ALL ".join(
    f"""
  SELECT event_id % 1009 AS src, (event_id * {a} + {b}) % 1009 AS dst
  FROM events
  WHERE event_id % 97 = 0 AND event_id % 1009 <> (event_id * {a} + {b}) % 1009"""
    for a, b in _G2_GENS
)


def _g2_raw_edges(ev: DataFrame) -> DataFrame:
    """The Spark twin of ``_G2_EDGE_SQL``: three affine edge
    generators over the filtered event stream."""
    base = ev.filter(F.col("event_id") % 97 == 0).select("event_id")
    fams = [
        base.select(
            (F.col("event_id") % 1009).alias("src"),
            ((F.col("event_id") * a + b) % 1009).alias("dst"),
        )
        for a, b in _G2_GENS
    ]
    out = fams[0]
    for f in fams[1:]:
        out = out.unionByName(f)
    return out.filter(F.col("src") != F.col("dst"))


@register(
    "g2_connected_components",
    oracle=f"""
WITH RECURSIVE raw AS ({_G2_EDGE_SQL}),
edges AS (
  SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node, CAST(MIN(label) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
""",
    tags=("graph", "batch"),
)
def g2_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as a FIRST-CLASS graph entry (the same
    pointer-jumping min-label kernel the dedup pipeline uses
    transitively in d5/v9 — ``operators/graph.connected_components``,
    O(log diameter) rounds, two node-keyed shuffles per round) over a
    sparse deterministic event-derived graph.  The oracle is a
    recursive-CTE transitive closure computing min-reachable-label —
    a different algorithm arriving at the same unique fixpoint, which
    is exactly what makes CC oracle-able: any correct implementation
    agrees.  The node space is bounded (1009 slots) so the oracle's
    closure is bounded at any SF; the Spark side's cost scales with
    edges, not closure pairs — the 100 TB asymmetry that makes
    pointer-jumping (not transitive closure) the production algorithm.
    """
    ev = load_table(spark, sf_dir, "events")
    raw = _g2_raw_edges(ev)
    cc = connected_components(raw, "src", "dst")
    return cc.select(
        F.col("doc_id").alias("node"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


@register(
    "g4_triangle_count",
    oracle=f"""
WITH raw AS ({_G2_EDGE_SQL}),
und AS (
  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
  GROUP BY 1, 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
cnt AS (SELECT node, COUNT(*) AS n FROM corners GROUP BY 1),
nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und)
SELECT n.node, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN cnt c ON n.node = c.node
""",
    tags=("graph", "batch"),
)
def g4_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the g2 generator graph —
    the clustering-coefficient / community-density primitive
    (``operators/graph.triangle_participation``).  Compact-forward
    enumeration: orient edges low→high, wedge-join on the middle
    node, close against the oriented list — each triangle counted
    exactly once by construction, three node-keyed equi-joins and
    zero post-dedup (the Suri-Vassilvitskii MR shape; the
    degree-orientation knob for power-law graphs is documented on the
    operator).  The oracle states the identical joins in SQL — exact
    integer counts, trivially hash-checkable, zero-participation
    nodes pinned present."""
    from ..operators.graph import triangle_participation

    ev = load_table(spark, sf_dir, "events")
    raw = _g2_raw_edges(ev)
    return triangle_participation(raw, "src", "dst")


@register(
    "g3_bfs_hops",
    oracle=f"""
WITH RECURSIVE raw AS ({_G2_EDGE_SQL}),
edges AS (
  SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
),
sources AS (
  SELECT DISTINCT src AS node FROM edges WHERE src % 101 = 0
),
walk AS (
  SELECT node, 0 AS d FROM sources
  UNION
  SELECT e.dst AS node, w.d + 1 AS d
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d < 4
)
SELECT node, CAST(MIN(d) AS INT) AS hops FROM walk GROUP BY node
""",
    tags=("graph", "batch"),
)
def g3_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance, bounded at 4 hops
    (``operators/graph.bfs_hops``): sources are the ~1% of nodes with
    id % 101 = 0, the answer is min-hops-to-any-source for every node
    within reach.  Frontier expansion joins ONLY the newest ring each
    round (not the whole visited set) — per round one node-keyed join
    + one min-combine groupBy, fixed 4 rounds, lineage flattened per
    round.  The oracle walks the same bounded fixpoint as a recursive
    CTE over (node, depth) pairs; min() makes the fixpoint unique, so
    the two algorithms must agree exactly.  The k-hop-neighborhood /
    blast-radius primitive of any 100 TB graph feature pipeline."""
    from ..operators.graph import bfs_hops

    ev = load_table(spark, sf_dir, "events")
    raw = _g2_raw_edges(ev)
    edges = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sources = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node") % 101 == 0
    )
    out = bfs_hops(edges, sources, "src", "dst", "node", max_hops=4)
    return out.select("node", F.col("hops").cast("int").alias("hops"))


# Denser edge set for g5 (~8% of events × three generators): the
# 3-core must be non-trivial at the driver's sf0.01 (the g2 set peels
# to empty there), and the peel must CONVERGE within the fixed rounds
# at every test SF — measured: sf0.001 empties in 3 rounds, sf0.01
# reaches its 873-node fixpoint in 6, sf0.1 is saturated (fixpoint in
# 1).  rounds=6 covers all three.
_G5_EDGE_SQL = " UNION ALL ".join(
    f"""
  SELECT event_id % 1009 AS src, (event_id * {a} + {b}) % 1009 AS dst
  FROM events
  WHERE event_id % 13 = 0 AND event_id % 1009 <> (event_id * {a} + {b}) % 1009"""
    for a, b in _G2_GENS
)

_G5_K, _G5_ROUNDS = 3, 6


def _g5_oracle() -> str:
    rounds = "".join(
        f""",
d{i} AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1})
  GROUP BY 1
),
k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {_G5_K}),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN k{i} a ON e.u = a.node
  JOIN k{i} b ON e.v = b.node
)"""
        for i in range(1, _G5_ROUNDS + 1)
    )
    last = f"e{_G5_ROUNDS}"
    return f"""
WITH raw AS ({_G5_EDGE_SQL}),
e0 AS MATERIALIZED (
  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst GROUP BY 1, 2
){rounds}
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
  SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last})
GROUP BY node
"""


@register("g5_kcore", oracle=_g5_oracle(), tags=("graph", "batch"))
def g5_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the dense generator graph via bounded-round peeling
    (``operators/graph.kcore_peel``): drop degree<3 nodes and their
    edges, recompute, repeat 6 rounds — enough for the fixpoint at
    every test SF (measured; the unit test pins a constructed graph's
    known core and the no-op peel of an already-core graph).  The
    k-core is the canonical density filter of large-graph curation
    (spam/bot subgraph isolation, community seeding); uniqueness of
    the core (Seidman 1983) plus FIXED rounds make the operator
    exactly oracle-able — the oracle unrolls the identical 6 peels as
    CTE rounds (the g1 unrolled-power-iteration convention).  Scale
    shape per round: one degree agg + two node-keyed semi-joins,
    lineage flattened per round."""
    from ..operators.graph import kcore_peel

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 13 == 0).select("event_id")
    fams = [
        base.select(
            (F.col("event_id") % 1009).alias("src"),
            ((F.col("event_id") * a + b) % 1009).alias("dst"),
        )
        for a, b in _G2_GENS
    ]
    raw = fams[0]
    for f in fams[1:]:
        raw = raw.unionByName(f)
    return kcore_peel(raw, k=_G5_K, rounds=_G5_ROUNDS)


_G6_ROUNDS = 4


def _g6_oracle() -> str:
    rounds = "".join(
        f""",
n{i} AS MATERIALIZED (
  SELECT e.src AS node, l.label
  FROM edges e JOIN l{i - 1} l ON l.node = e.dst
),
c{i} AS MATERIALIZED (
  SELECT node, label, COUNT(*) AS c FROM n{i} GROUP BY 1, 2
),
p{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rk
    FROM c{i}) WHERE rk = 1
),
l{i} AS MATERIALIZED (
  SELECT l.node, COALESCE(p.label, l.label) AS label
  FROM l{i - 1} l LEFT JOIN p{i} p ON p.node = l.node
)"""
        for i in range(1, _G6_ROUNDS + 1)
    )
    return f"""
WITH raw AS ({_G2_EDGE_SQL}),
edges AS (
  SELECT src, dst FROM raw UNION SELECT dst AS src, src AS dst FROM raw
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes){rounds}
SELECT node, CAST(label AS BIGINT) AS label FROM l{_G6_ROUNDS}
"""


@register("g6_label_propagation", oracle=_g6_oracle(), tags=("graph", "batch"))
def g6_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation
    (``operators/graph.label_propagation``; Raghavan et al. 2007, the
    near-linear-time community baseline — GraphFrames ships the same
    synchronous variant) over the symmetrized sparse g2 graph, 4
    fixed rounds, ties to the SMALLEST label (the determinism knob:
    classic LPA tie-breaks randomly; a fixed order changes nothing
    structural and makes the entry value-hash-able).  Fixed rounds,
    not convergence: synchronous LPA can 2-cycle on bipartite
    structures, so production caps iterations — and the cap is also
    what keeps the oracle an unrolled finite program (MATERIALIZED
    CTE rounds, the g5 convention).  Completes the graph family's
    curation set: g2 groups by CONNECTIVITY (any path merges), LPA by
    DENSITY of neighborhood agreement — the distinction that matters
    when near-dup clusters chain through weak links.  Scale shape per
    round: one node-keyed join + one (node,label) agg + one per-node
    argmax window — all exchanges hash the node key, lineage
    flattened per round; O(edges) per round, never closure-sized."""
    from ..operators.graph import label_propagation

    ev = load_table(spark, sf_dir, "events")
    raw = _g2_raw_edges(ev)
    edges = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return label_propagation(edges, rounds=_G6_ROUNDS).select(
        "node", F.col("label").cast("bigint").alias("label")
    )


_G7_ORACLE = """
WITH deg AS (
  SELECT user_id AS node, COUNT(*) AS degree FROM events GROUP BY user_id
),
fof AS (
  SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
),
tot AS (
  SELECT SUM(n_nodes) AS total_nodes,
         SUM(degree * n_nodes) AS total_edges,
         CAST(SUM(CAST(n_nodes * ln(degree * 2.0) AS DECIMAL(30,12)))
              AS DOUBLE) AS lnsum
  FROM fof
),
ranked AS (
  SELECT degree, n_nodes,
         ROW_NUMBER() OVER (ORDER BY n_nodes DESC, degree ASC) AS rk
  FROM fof
)
SELECT r.degree, r.n_nodes,
       ROUND(r.n_nodes * 1.0 / t.total_nodes, 6) AS frac,
       ROUND(1.0 + t.total_nodes / t.lnsum, 6) AS alpha_mle,
       CAST(t.total_nodes AS BIGINT) AS total_nodes,
       CAST(t.total_edges AS BIGINT) AS total_edges,
       ROUND(t.total_edges * 1.0 / t.total_nodes, 6) AS mean_degree
FROM ranked r, tot t
WHERE r.rk <= 10
"""


@register("g7_degree_powerlaw", oracle=_G7_ORACLE, tags=("graph", "profiler", "read"))
def g7_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution health report + power-law exponent MLE over
    the g1 interaction graph's out-degrees (one edge per event, so a
    node's out-degree = its event count): the 10 most frequent degrees
    with their node fractions, plus the Clauset–Shalizi–Newman
    continuous-approximation MLE α = 1 + n/Σᵢ ln(dᵢ/(d_min−½)) at
    d_min = 1 — the audit that says whether the graph the g1–g6
    kernels will iterate over is hub-dominated (small α, k1/k2 salting
    territory — this is k3's hot-key report expressed as a graph
    statistic) or degree-homogeneous.

    Exactness: degrees and node counts are exact integers; the MLE's
    Σ n_d·ln(2d) runs over the DEGREE-cardinality frame with each term
    quantized to DECIMAL(30,12) (the x10/x30 convention — exact,
    order-free sum), so α is deterministic cross-engine.  Shape for
    100 TB: one scan → node-degree agg → frequency-of-frequencies agg
    (the x28 shape on degrees); the rank window and the MLE algebra
    run on the degree-cardinality frame — bounded at any corpus
    size."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key
    from .registry import dec_sum

    ev = load_table(spark, sf_dir, "events")
    deg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("degree"))
    fof = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    tot = fof.agg(
        F.sum("n_nodes").alias("total_nodes"),
        F.sum(F.col("degree") * F.col("n_nodes")).alias("total_edges"),
        dec_sum(
            F.col("n_nodes") * F.log(F.col("degree") * 2.0),
            scale=12,
            precision=30,
        ).alias("lnsum"),
    )
    w = Window.partitionBy(bounded_partition_key("degree")).orderBy(
        F.col("n_nodes").desc(), F.col("degree").asc()
    )
    ranked = fof.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 10
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "degree",
        "n_nodes",
        _r6(F.col("n_nodes") * 1.0 / F.col("total_nodes")).alias("frac"),
        _r6(1.0 + F.col("total_nodes") / F.col("lnsum")).alias("alpha_mle"),
        F.col("total_nodes").cast("bigint").alias("total_nodes"),
        F.col("total_edges").cast("bigint").alias("total_edges"),
        _r6(F.col("total_edges") * 1.0 / F.col("total_nodes")).alias(
            "mean_degree"
        ),
    )


def _g8_half(i: int, tag: str, prev: str, from_c: str, to_c: str) -> str:
    return f"""
{tag}r{i} AS (
  SELECT e.{to_c} AS node,
         CAST(SUM(CAST(p._s AS DECIMAL(38,18))) AS DOUBLE) AS m
  FROM edges e JOIN {prev} p ON e.{from_c} = p.node
  GROUP BY e.{to_c}
),
{tag}f{i} AS (
  SELECT nodes.node, COALESCE({tag}r{i}.m, 0.0) AS m
  FROM nodes LEFT JOIN {tag}r{i} ON nodes.node = {tag}r{i}.node
),
{tag}t{i} AS (
  SELECT CAST(SUM(CAST(m AS DECIMAL(38,18))) AS DOUBLE) AS t FROM {tag}f{i}
),
{tag}{i} AS (
  SELECT node, m / (SELECT t FROM {tag}t{i}) AS _s FROM {tag}f{i}
)"""


def _g8_oracle() -> str:
    halves = []
    prev = "h0"
    for i in (1, 2, 3):
        halves.append(_g8_half(i, "a", prev, "src", "dst"))
        halves.append(_g8_half(i, "h", f"a{i}", "dst", "src"))
        prev = f"h{i}"
    its = ",".join(halves)
    return f"""
WITH {_EVENT_GRAPH_CTES},
h0 AS (SELECT node, 1.0 AS _s FROM nodes),
{its}
SELECT a3.node AS user_id,
       ROUND(a3._s * nn.n_nodes, 6) AS authority_x_n,
       ROUND(h3._s * nn.n_nodes, 6) AS hub_x_n
FROM a3 JOIN h3 ON a3.node = h3.node CROSS JOIN nn
"""


@register("g8_hits", oracle=_g8_oracle(), tags=("graph", "batch"))
def g8_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS hub/authority scores (Kleinberg 1999;
    3 unrolled iterations, L1 normalization after every half-step)
    over g1's event-derived interaction graph — the bipartite-role
    complement of PageRank: g1 ranks by received mass under a random
    surfer, g8 separates GOOD SOURCES (hubs pointing at strong
    authorities) from GOOD TARGETS (authorities pointed at by strong
    hubs), the classic link-analysis pair; ``operators/graph.
    hits_fixed``.  The oracle unrolls the SAME six half-steps in
    CTEs; every aggregation sums DECIMAL(38,18)-quantized terms so
    shuffle order never shows, and both engines divide identical
    doubles for the L1 normalization — agreement to the 6dp rounding
    of score·N.  Scale shape per half-step: one node-keyed join + one
    DECIMAL-sum agg + one left join + a broadcast 1-row L1 total —
    PageRank's propagation cost with alternating edge direction."""
    from ..operators.graph import hits_fixed

    edges, nodes, n_users = _event_graph(spark, sf_dir)
    hits = hits_fixed(edges, nodes, "src", "dst", "node", iters=3)
    return hits.select(
        F.col("node").alias("user_id"),
        _r6(F.col("authority") * n_users).alias("authority_x_n"),
        _r6(F.col("hub") * n_users).alias("hub_x_n"),
    )
