"""Graph operators expressed as keyed DataFrame programs: rank
propagation (PageRank, HITS), triangles, and the integer fixpoints —
BFS hops, k-core peeling, label propagation and connected components.
Everything is deterministic: DECIMAL contribution sums
(shuffle-order-independent), min/argmax combines and fixed iteration
counts, so a SQL oracle can unroll the same program.

The four integer fixpoints share ONE small-graph decision,
``_driver_solve``: it persists the kernel's projection, and below
``_DRIVER_GRAPH_MAX_EDGES`` NULL-free integral rows it fetches the
projection to the driver, where the same fixpoint runs without
per-round job choreography.  It unpersists the projection when the
kernel returns or raises.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

if TYPE_CHECKING:
    import pandas as pd

# Row count under which the INTEGER-EXACT kernels (BFS, k-core peel,
# label propagation, connected components) solve on the driver from
# one bounded Arrow fetch (~16 bytes/edge → ≤ ~3 MB): each distributed
# round costs 2-3 jobs of pure choreography, and the event-derived and
# near-dup pair graphs these kernels run on are a tiny fraction of the
# corpus.  The distributed loops are untouched above the gate and
# remain the 100 TB path.  Only integral node types take the driver
# path — min/tie-break semantics on longs are engine-identical by
# construction; anything else falls through, and so does any graph
# with a NULL endpoint (NULL join/min semantics stay the engine's).
# PageRank/HITS stay distributed at every size: their DECIMAL
# contribution sums are plan-shaped, not worth re-proving driver-side.
_DRIVER_GRAPH_MAX_EDGES = 200_000

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


@contextmanager
def _driver_solve(
    frame: DataFrame, cols: Sequence[str], gate: bool = True
) -> Iterator[tuple[DataFrame, pd.DataFrame | None]]:
    """Yield ``(projection, pdf)`` for one kernel call.

    ``projection`` is ``frame.select(*cols)`` persisted
    MEMORY_AND_DISK — not ``localCheckpoint``-ed: it is materialized
    once (by the gate agg or the first round) and read back by every
    later consumer, while keeping LINEAGE so a lost executor
    recomputes blocks instead of failing the job.  ``pdf`` is the
    projection fetched over Arrow when ``gate`` holds, every column is
    integral of ONE type (the driver solve's output schema then equals
    the distributed path's coercion result), and one bounded agg finds
    at most ``_DRIVER_GRAPH_MAX_EDGES`` rows with no NULL endpoint;
    otherwise ``None`` and the caller runs its distributed loop over
    the projection.  The cheap type gate runs first, so a
    non-integral graph pays no job.

    The projection is unpersisted when the block exits, whether the
    kernel returns or raises; a kernel's returned frame must not read
    it lazily except through recomputable lineage.
    """
    proj = frame.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        pdf = None
        dt = proj.schema[cols[0]].dataType
        if (
            gate
            and isinstance(dt, _INTEGRAL)
            and all(proj.schema[c].dataType == dt for c in cols)
        ):
            # count(col) skips NULLs, so one job sizes the graph and
            # detects NULL endpoints
            row = proj.agg(
                F.count(F.lit(1)), *[F.count(c) for c in cols]
            ).first()
            if row[0] <= _DRIVER_GRAPH_MAX_EDGES and all(
                c == row[0] for c in row[1:]
            ):
                pdf = proj.toPandas()
        yield proj, pdf
    finally:
        proj.unpersist(False)


def pagerank_fixed(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank (power iteration unrolled ``iters``
    times from the uniform vector): ``pr' = (1-d)/N + d·Σ_in pr/outdeg``.
    Multi-edges contribute once each (weight = multiplicity via the
    edge list itself).  Callers must ensure every node has ≥1
    out-edge (no dangling-mass redistribution here — the caller's
    graph construction owns that contract).

    Scale shape per iteration: one src-keyed join (edge list × rank
    vector, co-partitioned on the node key at scale), one dst-keyed
    DECIMAL-sum aggregation, one left join back to the node list for
    zero-in-degree nodes.  Rank magnitudes are O(1/N); DECIMAL(38,18)
    sums keep the aggregation order-independent so the unrolled SQL
    oracle matches bit-for-bit after 6dp rounding of ``pr·N``.
    """
    n_nodes = nodes.count()  # bounded: one scalar, the only collect
    outdeg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("_deg"))
    pr = nodes.select(
        F.col(node_col), F.lit(1.0 / n_nodes).alias("_pr")
    )
    base = (1.0 - damping) / n_nodes
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges[src_col] == pr[node_col])
            .join(outdeg, src_col)
            .select(
                F.col(dst_col).alias("_to"),
                (F.col("_pr") / F.col("_deg")).alias("_c"),
            )
        )
        summed = contrib.groupBy("_to").agg(
            F.sum(F.col("_c").cast("decimal(38,18)")).cast("double").alias("_in")
        )
        pr = nodes.join(
            summed, nodes[node_col] == summed["_to"], "left"
        ).select(
            F.col(node_col),
            (base + damping * F.coalesce(F.col("_in"), F.lit(0.0))).alias("_pr"),
        )
    return pr.select(F.col(node_col), F.col("_pr").alias("pagerank"))


def triangle_participation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given
    as a (possibly duplicated, possibly bidirectional) edge list.

    Canonical compact-forward algorithm: orient every edge low→high
    id after dedup, enumerate wedges a<b<c by joining the oriented
    list with itself on the middle node, then close each wedge with a
    semi-check join against the oriented list on (a, c) — each
    triangle materializes exactly once, no post-hoc /3 or /6 division,
    no dedup shuffle.  Per-node participation = explode the three
    corners and count.

    Scale shape: three equi-joins on node keys — the join-based form
    of Suri & Vassilvitskii's MR triangle counting (WWW 2011).  The
    wedge join's cost is Σ deg(v)² on the JOIN KEY side; production
    graphs with power-law degrees orient by (degree, id) instead of
    raw id so every wedge pivots on its LOWEST-degree corner, bounding
    the blowup — same algorithm, one extra degree join, documented
    here as the knob (the catalog's bounded-degree generator graph
    does not need it).

    Output: (node, n_triangles) for EVERY node of the edge list,
    zero-participation rows included.
    """
    und = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .distinct()
    )
    ab = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    counts = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nodes = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )
    return nodes.join(counts, "node", "left").select(
        "node",
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any source node,
    bounded at ``max_hops`` (nodes further away are absent from the
    output).  The bounded-frontier form of label propagation — the
    building block for k-hop neighborhoods, blast-radius queries, and
    graph-distance features at 100 TB.

    Each round expands ONLY the current frontier (nodes whose distance
    equals the round number minus one): one node-keyed join edge-list ×
    frontier plus one min-combine groupBy — two shuffles per round,
    both on the node key, so at scale both sides co-partition.  Rounds
    are fixed (``max_hops``), lineage is flattened per round with
    ``localCheckpoint`` (the iterative-DataFrame rule: an unflattened
    loop grows the plan exponentially).  Deterministic: min() combine,
    no RNG — a recursive-CTE SQL oracle walks the same fixpoint.

    Size-gated driver solve (``_driver_solve``): BFS hops are a pure
    integer min-fixpoint, so below the gate the same bounded walk runs
    driver-side.  The source set is gated too (distinct, same node
    type as the edges), and only after the edge list passed.
    """
    spark = edges.sparkSession
    node_dt = sources.schema[node_col].dataType
    with _driver_solve(edges, (src_col, dst_col)) as (edges, epdf), _driver_solve(
        sources.select(node_col).distinct(),
        (node_col,),
        gate=epdf is not None and edges.schema[src_col].dataType == node_dt,
    ) as (_, spdf):
        if spdf is not None:
            adj: dict = {}
            for s, d in zip(epdf[src_col].tolist(), epdf[dst_col].tolist()):
                adj.setdefault(s, []).append(d)
            dist = {n: 0 for n in spdf[node_col].tolist()}
            frontier = set(dist)
            for h in range(1, max_hops + 1):
                nxt = set()
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v not in dist:
                            dist[v] = h
                            nxt.add(v)
                if not nxt:
                    break
                frontier = nxt
            schema = T.StructType(
                [
                    T.StructField(node_col, node_dt),
                    T.StructField("hops", T.IntegerType()),
                ]
            )
            return spark.createDataFrame(sorted(dist.items()), schema)
        dist = sources.select(
            F.col(node_col), F.lit(0).alias("hops")
        ).distinct().localCheckpoint(eager=True)
        for h in range(1, max_hops + 1):
            frontier = dist.filter(F.col("hops") == h - 1).select(
                F.col(node_col).alias("_fnode")
            )
            reached = (
                edges.join(frontier, edges[src_col] == F.col("_fnode"))
                .select(F.col(dst_col).alias(node_col), F.lit(h).alias("hops"))
            )
            dist = (
                dist.unionByName(reached)
                .groupBy(node_col)
                .agg(F.min("hops").alias("hops"))
                .localCheckpoint(eager=True)
            )
        return dist


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected simple graph:
    each round drops every node whose CURRENT degree is below ``k``
    and the edges touching it, then recomputes degrees.  After enough
    rounds the survivor set is THE k-core (the unique maximal subgraph
    with min degree ≥ k — Seidman 1983; uniqueness is what makes the
    operator oracle-able).  Rounds are FIXED, not run-to-fixpoint, so
    both engines compute the identical bounded peel whether or not it
    has converged — callers that need the true core assert convergence
    (see ``tests/test_operators.py``: round R equals round R-1 on the
    catalog graph).

    Scale shape per round: one degree aggregation + two semi-joins on
    node keys (edges × survivor set, both endpoints) — the
    peeling-by-rounds form of distributed k-core (the O(rounds) upper
    bound is the graph's degeneracy ordering depth, small for the
    bounded-degree catalog graph; production power-law graphs take
    O(log n) rounds in practice).  Lineage flattens per round with
    ``localCheckpoint`` (the iterative-DataFrame rule).

    Size-gated driver solve (``_driver_solve``): the peel is pure
    integer degree counting on the simple-edge set, so below the gate
    the SAME fixed rounds iterate driver-side.  (NULL endpoints are
    impossible here: the src != dst filter drops NULL comparisons.)

    Output: (node, core_deg) for every node surviving round
    ``rounds``, with its degree inside the surviving subgraph.
    """
    simple = edges.filter(F.col(src_col) != F.col(dst_col)).select(
        F.least(F.col(src_col), F.col(dst_col)).alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
    ).distinct()
    with _driver_solve(simple, ("u", "v")) as (und, updf):
        if updf is not None:
            cur_pairs = set(zip(updf["u"].tolist(), updf["v"].tolist()))
            for _ in range(rounds):
                deg: dict = {}
                for u, v in cur_pairs:
                    deg[u] = deg.get(u, 0) + 1
                    deg[v] = deg.get(v, 0) + 1
                keep = {n for n, d in deg.items() if d >= k}
                cur_pairs = {
                    (u, v) for (u, v) in cur_pairs if u in keep and v in keep
                }
            core_deg: dict = {}
            for u, v in cur_pairs:
                core_deg[u] = core_deg.get(u, 0) + 1
                core_deg[v] = core_deg.get(v, 0) + 1
            schema = T.StructType(
                [
                    T.StructField("node", und.schema["u"].dataType),
                    T.StructField("core_deg", T.LongType()),
                ]
            )
            return edges.sparkSession.createDataFrame(
                sorted(core_deg.items()), schema
            )
        cur = und
        for _ in range(rounds):
            deg = (
                cur.select(F.col("u").alias("node"))
                .unionByName(cur.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            keep = deg.filter(F.col("deg") >= k).select("node")
            cur = (
                cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
        # with rounds == 0 the returned frame still reads the cached
        # simple-edge set lazily — safe after unpersist, lineage kept
        return (
            cur.select(F.col("u").alias("node"))
            .unionByName(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the near-linear-time community baseline; GraphFrames
    ships the same synchronous variant as ``labelPropagation``): every
    node starts as its own label, and each round every node adopts the
    most frequent label among its neighbors, ties broken by the
    SMALLEST label — the determinism knob that makes the operator
    value-reproducible (the classic formulation breaks ties randomly;
    any fixed total order works and changes nothing structural).

    Edges are treated as DIRECTED here; symmetrize upstream for the
    undirected form.  Rounds are FIXED, not run to convergence:
    synchronous LPA can 2-cycle on bipartite structures, so production
    deployments cap rounds (GraphFrames requires maxIter) — and a
    fixed round count is also what keeps the SQL oracle an unrolled
    finite program.

    Per round: one node-keyed join (edge list × labels), one
    (node, label) count agg, one per-node argmax window — three
    exchanges all hashed on the node key, so at scale they
    co-partition; lineage is flattened per round with
    ``localCheckpoint`` (the iterative-DataFrame rule).  A node adopts
    labels from its OUT-neighbors (src collects dst labels); a node
    with no out-edges keeps its previous label.  Symmetrized input
    makes both statements the undirected neighbor rule.

    Size-gated driver solve (``_driver_solve``): the synchronous update
    is integer label counting with a (count DESC, label ASC) argmax —
    engine-identical on integral labels, so below the gate the SAME
    fixed rounds run driver-side.  Duplicate (src, dst) rows keep their
    multiplicity exactly as the distributed count does.

    Output: (node, label) after ``rounds`` synchronous updates.
    """
    from pyspark.sql import Window

    with _driver_solve(edges, (src_col, dst_col)) as (edges, epdf):
        if epdf is not None:
            out_adj: dict = {}
            node_set: set = set()
            for s, d in zip(epdf[src_col].tolist(), epdf[dst_col].tolist()):
                out_adj.setdefault(s, []).append(d)
                node_set.add(s)
                node_set.add(d)
            lab = {n: n for n in node_set}
            for _ in range(rounds):
                new_lab = dict(lab)
                for n, outs in out_adj.items():
                    cnt: dict = {}
                    for d in outs:
                        dl = lab[d]
                        cnt[dl] = cnt.get(dl, 0) + 1
                    new_lab[n] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                lab = new_lab
            src_dt = edges.schema[src_col].dataType
            schema = T.StructType(
                [
                    T.StructField("node", src_dt),
                    T.StructField("label", src_dt),
                ]
            )
            return edges.sparkSession.createDataFrame(sorted(lab.items()), schema)
        nodes = (
            edges.select(F.col(src_col).alias("node"))
            .unionByName(edges.select(F.col(dst_col).alias("node")))
            .distinct()
        )
        labels = nodes.select(
            "node", F.col("node").alias("label")
        ).localCheckpoint(eager=True)
        for _ in range(rounds):
            neigh = edges.join(
                labels.withColumnRenamed("node", "_ln"),
                F.col(dst_col) == F.col("_ln"),
            ).select(F.col(src_col).alias("node"), "label")
            counts = neigh.groupBy("node", "label").agg(
                F.count(F.lit(1)).alias("c")
            )
            w = Window.partitionBy("node").orderBy(
                F.col("c").desc(), F.col("label").asc()
            )
            best = (
                counts.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select("node", "label")
            )
            # nodes with no in-edges keep their current label
            labels = (
                labels.join(best.withColumnRenamed("label", "_new"), "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("_new"), F.col("label")).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
        return labels


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: ``(doc_id,
    cluster_id)`` where ``cluster_id`` is the MINIMUM doc_id reachable
    through the pair graph — the standard step between candidate-pair
    generation (d1/d3/d4b/v4) and canonical-document selection in a
    training-data dedup pipeline.  The fixpoint is unique, so any
    correct algorithm (including a SQL transitive-closure oracle)
    produces identical output.

    Algorithm: min-label propagation with POINTER JUMPING — each round
    a node takes ``min(own label, labels of neighbors, label OF its
    label)``.  The neighbor step alone converges in graph-diameter
    rounds; the label-of-label join doubles the propagation distance
    per round, giving O(log diameter) convergence (the same idea as
    large-star/small-star).  Each round is two shuffles on node id;
    per-round ``localCheckpoint`` keeps the lineage flat (an iterative
    DataFrame loop otherwise grows the plan exponentially).
    Convergence detection: labels only ever decrease, so SUM(label)
    strictly decreases until the fixpoint — one cheap agg per round.

    Size-gated driver solve (``_driver_solve``): below the gate the
    component labels come from a driver union-find over the doubled
    edge set (same unique fixpoint; near-dup pair graphs are a tiny
    fraction of the corpus, and the per-round jobs are pure
    choreography at that size).  A pair with a NULL endpoint keeps the
    distributed loop, whose answer includes a ``(NULL, NULL)`` row.
    """
    und = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    doubled = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    with _driver_solve(doubled, ("src", "dst")) as (edges, epdf):
        if epdf is not None:
            parent: dict = {}

            def find(x: int) -> int:
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            nodes: set = set()
            for s, d in zip(epdf["src"].tolist(), epdf["dst"].tolist()):
                nodes.add(s)
                a, b = find(s), find(d)
                if a != b:
                    # union by MIN id: the winning root is always the
                    # component's minimum node id, which is exactly the
                    # distributed loop's fixpoint label
                    if b < a:
                        a, b = b, a
                    parent[b] = a
            return pairs.sparkSession.createDataFrame(
                sorted((n, find(n)) for n in nodes), "doc_id long, cluster_id long"
            )
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        prev_sum = labels.agg(F.sum("label")).first()[0]
        for _ in range(max_iter):
            neigh = (
                edges.join(labels, edges["src"] == labels["node"])
                .groupBy(edges["dst"].alias("node2"))
                .agg(F.min("label").alias("_nmin"))
            )
            hop = labels.select(
                F.col("node").alias("lnode"), F.col("label").alias("_lmin")
            )
            labels = (
                labels.join(neigh, labels["node"] == neigh["node2"], "left")
                .join(hop, labels["label"] == hop["lnode"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("_nmin"), F.col("label")),
                        F.coalesce(F.col("_lmin"), F.col("label")),
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            new_sum = labels.agg(F.sum("label")).first()[0]
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )


def hits_fixed(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) unrolled ``iters`` times
    from the all-ones hub vector, L1-normalized after every half-step:
    ``a'(v) = Σ_{u→v} h(u) / Σ a'``, ``h'(u) = Σ_{u→v} a'(v) / Σ h'``.
    Multi-edges contribute once each, like :func:`pagerank_fixed`.

    Scale shape per half-step: one node-keyed join (edge list ×
    score vector), one DECIMAL(38,18)-sum aggregation (shuffle-order-
    independent, so an unrolled SQL oracle matches bit-for-bit), one
    left join back to the node list for zero-degree sides, and a
    1-row L1 total broadcast back for the normalization — the same
    Pregel-style propagation as PageRank with the transpose edge
    direction alternating.
    """

    def _half(score: DataFrame, from_col: str, to_col: str) -> DataFrame:
        raw = (
            edges.join(score, edges[from_col] == score[node_col])
            .groupBy(F.col(to_col).alias("_to"))
            .agg(
                F.sum(F.col("_s").cast("decimal(38,18)"))
                .cast("double")
                .alias("_m")
            )
        )
        filled = (
            nodes.join(raw, nodes[node_col] == raw["_to"], "left")
            .select(
                F.col(node_col),
                F.coalesce(F.col("_m"), F.lit(0.0)).alias("_m"),
            )
            # node-cardinality frame feeding BOTH the L1 total and the
            # normalized output: without this checkpoint the diamond
            # doubles the re-executed lineage at every half-step
            # (2^6 recomputes over 3 iterations — measured 566
            # exchanges before, ~30 after)
            .localCheckpoint(eager=True)
        )
        total = filled.agg(
            F.sum(F.col("_m").cast("decimal(38,18)")).cast("double").alias("_t")
        )
        return filled.crossJoin(F.broadcast(total)).select(
            F.col(node_col), (F.col("_m") / F.col("_t")).alias("_s")
        )

    h = nodes.select(F.col(node_col), F.lit(1.0).alias("_s"))
    a = None
    for _ in range(iters):
        a = _half(h, src_col, dst_col)
        h = _half(a, dst_col, src_col)
    return (
        a.select(F.col(node_col), F.col("_s").alias("authority"))
        .join(
            h.select(F.col(node_col), F.col("_s").alias("hub")), node_col
        )
    )
