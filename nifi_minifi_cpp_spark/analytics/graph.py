"""Iterative graph operators as DataFrame joins.

Connected components (cluster-consistent dedup), the PageRank family
(data selection), label propagation, triangle census, HITS, BFS hops
and k-core peeling. SQL cannot express their fixpoint loops, so each
round is a slim join of a node-sized frame onto the edge list plus an
aggregate, and ``reliable_barrier`` cuts the lineage between rounds.

Every operator starts from one edge prologue, ``_edge_table``: select
the endpoints as ``_s``/``_d``, add the reversed edges when the graph
is undirected, distinct, barrier. With ``undirected=True`` the
operator builds both orientations itself, so every node is a source
and every node has an in-edge by construction: ``pagerank`` takes its
node set from the out-degree table and needs no per-round zero-fill,
and no caller has to promise a symmetric input.

The three PageRank walks (uniform, personalized via ``teleport``, and
grouped) share one round loop, ``_rank_rounds``. They differ only in
the keys their rank frame carries (``_n``, or ``_g`` + ``_n``) and in
the restart term each round joins.

Two module dials:

- ``BROADCAST_MAX_NODES``: every per-round join pairs the O(m)-row
  edge table with an O(n)-row frame (ranks, labels, frontier,
  survivors, or triangle adjacency). Catalyst cannot size that frame
  through a checkpoint + join lineage, so without a hint it either
  sort-merge-joins each round or broadcasts the edge side. When the
  measured size fits, the frame is broadcast and every round is a
  map-side hash join over the stationary edge table; past it, the
  plans keep the shuffled joins that suit billion-node graphs.
- ``BARRIER_MAX_EDGES``: materializing PageRank's (src, dst, degree)
  table costs ~24 B per edge but saves a degree re-aggregation per
  round. The 100x probe put the crossover between 1.2M edges (the
  barrier wins, ~0.7x) and 120M (it loses, 248 s vs 176 s).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import reliable_barrier

BROADCAST_MAX_NODES = 8_000_000  # (long, double) rows ~ 128 MB built

BARRIER_MAX_EDGES = 16_000_000  # ~384 MB of (src, dst, degree) rows

# PageRank cuts the rank lineage every few rounds so long runs do not
# stack unbounded plan depth
_BARRIER_EVERY = 4


def _maybe_broadcast(df: DataFrame, fits: bool) -> DataFrame:
    return F.broadcast(df) if fits else df


def _edge_table(
    edges: DataFrame, src: str, dst: str, undirected: bool = False
) -> DataFrame:
    """The barriered, distinct (``_s``, ``_d``) edge list every operator
    starts from; ``undirected`` adds the reversed edge of every edge
    before the distinct."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if undirected:
        e = e.unionByName(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
    return reliable_barrier(e.distinct())


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Component labels for an undirected graph.

    Returns (node, component) where component = min node id reachable.
    When duplicate relations CHAIN (A~B, B~C, but A!~C), cluster-
    consistent dedup needs the connected component of the similarity
    graph, not pairwise verdicts. ``edges`` needs one row per edge in
    either orientation; isolated nodes appear only if self-loops are
    included by the caller.

    Min-label propagation with POINTER JUMPING (the hash-to-min idea of
    Rastogi et al. 2013, "Finding Connected Components in Map-Reduce in
    Logarithmic Rounds"): every round each node takes the min label
    over its neighbors' labels, then labels compress by one pointer
    jump (label <- label's label), so a path of length L converges in
    O(log L) rounds instead of L. The loop stops when a round changes
    nothing, and raises if that takes more than ``max_iterations``
    rounds (30 covers any graph a real corpus produces) rather than
    returning silently-wrong labels.

    NOTE: the builder runs one eager count at plan-construction
    time (a cached-RDD count on the barriered edge/node frame) to
    set the broadcast dial — a driver-blocking action inside a
    builder API, cheap because the frame is already barriered.
    """
    sym = _edge_table(edges, src, dst, undirected=True)
    # the (node, label) frame has at most 2|E| rows
    fits = 2 * sym.count() <= BROADCAST_MAX_NODES
    labels = reliable_barrier(
        sym.groupBy("_s")
        .agg(F.min("_d").alias("nmin"))
        .select(F.col("_s").alias("node"), F.least("_s", "nmin").alias("label"))
    )

    for _ in range(max_iterations):
        # neighbor-min: the smallest label among my neighbors and me
        nbr = (
            sym.join(_maybe_broadcast(labels.withColumnRenamed("node", "_d"), fits), "_d")
            .groupBy("_s")
            .agg(F.min("label").alias("nmin"))
            .select(F.col("_s").alias("node"), "nmin")
        )
        # carry the round-entry label as `old` so convergence is an
        # exact changed-row COUNT, not a sum of labels: with 64-bit
        # node ids (uuid hashes near 2^63) sum(label) overflows long —
        # wrapping silently in non-ANSI sessions (a spurious equal sum
        # would early-exit with wrong components) and throwing under
        # ANSI. A count is bounded by the row count; never overflows.
        stepped = labels.join(_maybe_broadcast(nbr, fits), "node", "left").select(
            "node",
            F.least("label", F.coalesce("nmin", "label")).alias("label"),
            F.col("label").alias("old"),
        )
        # pointer jump: label <- label's label (path halving)
        jump = stepped.alias("l1").join(
            _maybe_broadcast(
                stepped.select(
                    F.col("node").alias("label"), F.col("label").alias("label2")
                ).alias("l2"),
                fits,
            ),
            "label",
            "left",
        )
        # barrier each round: an iterative plan otherwise compounds
        # analysis depth linearly with rounds (persist alone does not
        # truncate lineage) and the analyzer/codegen eventually fails
        new_labels = reliable_barrier(
            jump.select(
                "node",
                F.least("label", F.coalesce("label2", "label")).alias("label"),
                "old",
            )
        )
        changed = new_labels.agg(
            F.sum((F.col("label") < F.col("old")).cast("long")).alias("c")
        ).first()[0]
        labels = new_labels.select("node", "label")
        if not changed:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Cluster-consistent dedup: keep exactly ONE row (the min id) per
    connected component of the duplicate-pair graph; rows in no pair
    survive untouched. This is the transitive upgrade of the pairwise
    drop-larger-id rule the LSH dedups apply."""
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def _rank_rounds(
    weighted: DataFrame,
    ranks: DataFrame,
    restart: DataFrame | Column,
    how: str,
    keys: list[str],
    iterations: int,
    damping: float,
    fits: bool,
    barrier_every: int = _BARRIER_EVERY,
) -> DataFrame:
    """The PageRank round loop every walk shares.

    ``ranks`` is the start frame (``*keys``, ``_r``); ``keys`` ends with
    the node key ``_n``. Each round spreads every rank over its node's
    out-edges in ``weighted`` (``_s``, ``_d``, ``_deg``), sums what
    each key receives (``_in``), and joins the restart term ``_b``:

    - a literal Column: the uniform restart, when the contributions
      already reach every node (undirected graphs);
    - ``how="left"``: a restart frame looked up from the contributions,
      which reach every node (personalized walk on an undirected graph);
    - ``how="right"``: a restart frame that lists every node, which the
      contributions are joined onto (directed graphs, whose source-only
      nodes receive nothing);
    - ``how="full_outer"``: sparse frames on both sides (grouped walk).

    rank = (1-d) * restart + d * received. Each barrier also re-measures
    the broadcast dial on the frame it materialized.
    """
    for i in range(iterations):
        contribs = (
            weighted.join(
                _maybe_broadcast(ranks.withColumnRenamed("_n", "_s"), fits), "_s"
            )
            .select(
                *keys[:-1],
                F.col("_d").alias("_n"),
                (F.col("_r") / F.col("_deg")).alias("_c"),
            )
            .groupBy(*keys)
            .agg(F.sum("_c").alias("_in"))
        )
        if isinstance(restart, Column):
            step = contribs.withColumn("_b", restart)
        elif how == "right":
            # the right join's rows, written as a left join so the
            # contributions are the side that can be broadcast
            step = restart.join(_maybe_broadcast(contribs, fits), keys, "left")
        else:
            step = contribs.join(restart, keys, how)
        ranks = step.select(
            *keys,
            (
                (1.0 - damping) * F.coalesce(F.col("_b"), F.lit(0.0))
                + damping * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("_r"),
        )
        if (i + 1) % barrier_every == 0 and i + 1 < iterations:
            ranks = reliable_barrier(ranks)
            fits = ranks.count() <= BROADCAST_MAX_NODES
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    teleport: DataFrame | None = None,
    undirected: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999) as DataFrame joins.
    Returns (node, rank) after ``iterations`` synchronous updates from
    a uniform start: rank = (1-d)/N + d * sum(in-neighbor rank / its
    out-degree).

    ``teleport``: optional one-column (``node``) seed frame for
    PERSONALIZED PageRank (Haveliwala 2002): the restart mass
    (1-d) concentrates uniformly on the seed set instead of all
    nodes, and the walk starts from the seeds — relevance-to-the-
    seeds ranking, the data-selection primitive ("expand from these
    known-good suppliers/domains"). Raises ``ValueError`` when no seed
    appears in the edge list (the restart denominator |S| would be 0).

    ``undirected=True`` reads each row of ``edges`` as an undirected
    edge: the operator adds the reversed edges before its distinct, so
    the walk sees both orientations of every edge. Then every node is a
    source, so the node table IS the out-degree table's key column, and
    every node has an in-edge, so each round's contributions reach
    every node and no zero-fill join is needed. On a directed graph
    (the default), dangling nodes (out-degree 0) keep their rank mass
    out of play, and source-only nodes keep only the restart mass.

    100 TB shape: each round is ONE equi-join of the slim (node, rank)
    table onto the (src, dst, out-degree) table plus a groupBy sum (see
    ``_rank_rounds``). The weighted table is built once, behind a
    barrier while it fits ``BARRIER_MAX_EDGES``; the rank frame is
    broadcast into the per-round joins while |V| fits
    ``BROADCAST_MAX_NODES``.

    NOTE: the builder runs eager actions at plan-construction time: one
    aggregate over the barriered degree table (|V| and |E| for the two
    dials; directed graphs count their barriered node table for |V|),
    plus, when ``teleport`` is given, the one-row |S| aggregate.
    """
    e = _edge_table(edges, src, dst, undirected)
    deg = reliable_barrier(e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg")))
    sizes = deg.agg(F.count(F.lit(1)).alias("n"), F.sum("_deg").alias("m")).first()
    if undirected:
        nodes, n_nodes = deg.select(F.col("_s").alias("_n")), sizes["n"]
    else:
        nodes = reliable_barrier(
            e.select(F.col("_s").alias("_n"))
            .unionByName(e.select(F.col("_d").alias("_n")))
            .distinct()
        )
        n_nodes = nodes.count()
    fits = n_nodes <= BROADCAST_MAX_NODES
    weighted = e.join(_maybe_broadcast(deg, fits), "_s")
    if int(sizes["m"] or 0) <= BARRIER_MAX_EDGES:
        weighted = reliable_barrier(weighted)
    if teleport is None:
        base = F.lit(1.0 / n_nodes)
        start = nodes.select("_n", base.alias("_r"))
        restart = base if undirected else nodes.select("_n", base.alias("_b"))
    else:
        seeds = teleport.select(F.col("node").alias("_n")).distinct()
        # barrier: consumed three times (|S| aggregate, rank start,
        # restart frame) — without it each consumer re-runs the seed
        # frame's own source scan
        flagged = reliable_barrier(
            nodes.join(seeds.withColumn("_seed", F.lit(1)), "_n", "left").select(
                "_n", F.coalesce(F.col("_seed"), F.lit(0)).alias("_seed")
            )
        )
        n_seeds = flagged.agg(F.sum("_seed").cast("long")).collect()[0][0]
        if not n_seeds:
            raise ValueError(
                "pagerank(teleport=...): no teleport seed appears in the "
                "edge list; restart mass denominator |S| is 0"
            )
        base = F.col("_seed") / F.lit(int(n_seeds))
        start = flagged.select("_n", base.alias("_r"))
        if undirected:
            # only the |S| seed rows carry restart mass: the per-round
            # lookup broadcasts |S| rows, not |V|
            restart = F.broadcast(
                reliable_barrier(
                    flagged.filter(F.col("_seed") == 1).select("_n", base.alias("_b"))
                )
            )
        else:
            restart = flagged.select("_n", base.alias("_b"))
    ranks = _rank_rounds(
        weighted, start, restart, "left" if undirected else "right",
        ["_n"], iterations, damping, fits,
    )
    return ranks.select(F.col("_n").alias("node"), F.col("_r").alias("rank"))


def pagerank_grouped(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    grp: str = "grp",
    node: str = "node",
) -> DataFrame:
    """BATCHED personalized PageRank — one walk per SEED GROUP in a
    single pass (multi-tenant scoring: "expand from each customer's
    own trust set" without re-running the engine per tenant).
    ``seeds`` is a (grp, node) frame; each group's restart mass
    (1-d) spreads uniformly over ITS seeds, exactly
    ``pagerank(teleport=...)`` semantics per group. Returns
    (grp, node, rank) for nodes with non-zero mass.

    100 TB shape: the edge list, out-degrees, and barriers are built
    ONCE and shared by every group — the per-iteration join carries
    the slim (grp, node, rank) frame against the same weighted edge
    table, so g tenants cost one pass over g·|reached| rank rows
    instead of g engine runs re-scanning the graph. Nodes outside a
    group's reach simply never materialize (sparse frames, not a
    dense nodes×groups grid). Because those frames grow from round to
    round, the walk barriers every round, and each barrier re-measures
    the broadcast dial on the actual (grp, node, rank) rows.

    NOTE: the builder runs eager counts at plan-construction time (one
    on the barriered seed table, one per barriered round) to set the
    broadcast dial — cheap cached-RDD counts.
    """
    e = _edge_table(edges, src, dst)
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    weighted = reliable_barrier(e.join(deg, "_s"))
    sd = seeds.select(F.col(grp).alias("_g"), F.col(node).alias("_n")).distinct()
    sizes = sd.groupBy("_g").agg(F.count(F.lit(1)).alias("_k"))
    base = reliable_barrier(
        sd.join(F.broadcast(sizes), "_g").select(
            "_g", "_n", (F.lit(1.0) / F.col("_k")).alias("_b")
        )
    )
    ranks = _rank_rounds(
        weighted, base.select("_g", "_n", F.col("_b").alias("_r")), base,
        "full_outer", ["_g", "_n"], iterations, damping,
        base.count() <= BROADCAST_MAX_NODES, barrier_every=1,
    )
    return ranks.select(
        F.col("_g").alias(grp), F.col("_n").alias(node), F.col("_r").alias("rank")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, "Near
    linear time algorithm to detect community structures"). Every node starts labeled with itself; each round it
    adopts the MOST FREQUENT label among its neighbors, ties broken
    by the smallest label (the deterministic variant — the paper's
    random tie-break is unreproducible across engines). Returns
    (node, label) after ``iterations`` synchronous rounds.

    Unlike min-label propagation (connected_components), mode-label
    updates can split a connected graph into communities: a label
    only spreads while it keeps winning local majorities.

    100 TB shape: each round is ONE equi-join of the slim
    (node, label) frame onto the symmetrized edge list, a
    (node, label) count aggregation, and a per-node top-1 picked by a
    min_by HASH aggregate (map-side combined) rather than a
    sort-window — two shuffles a round on 16-byte rows, no per-round
    sort; the edge list is computed once behind a barrier and reused
    every round.

    NOTE: the builder runs one eager count at plan-construction
    time (a cached-RDD count on the barriered edge/node frame) to
    set the broadcast dial — a driver-blocking action inside a
    builder API, cheap because the frame is already barriered.
    """
    sym = _edge_table(edges, src, dst, undirected=True)
    # the (node, label) frame has at most 2|E| rows
    fits = 2 * sym.count() <= BROADCAST_MAX_NODES
    labels = sym.select(F.col("_s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for r in range(iterations):
        if r == 0:
            # Round 1 on identity labels needs no join and no count:
            # every neighbor carries its OWN distinct label, so each
            # (node, label) count is exactly 1 and the (count DESC,
            # label ASC) winner is just the minimum neighbor id — one
            # map-side-combined min aggregate over the barriered edge
            # table.
            labels = sym.groupBy("_s").agg(F.min("_d").alias("label")).select(
                F.col("_s").alias("node"), "label"
            )
            continue
        counted = (
            sym.join(_maybe_broadcast(labels.withColumnRenamed("node", "_d"), fits), "_d")
            .groupBy("_s", "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        # top-1 via min_by over the (-count, label) struct — lexical
        # struct ordering IS the (count DESC, label ASC) rule — a hash
        # aggregate with map-side combine instead of a full sort-window
        # per round
        labels = counted.groupBy("_s").agg(
            F.min_by(
                "label",
                F.struct((-F.col("_c")).alias("_k1"), F.col("label").alias("_k2")),
            ).alias("label")
        ).select(F.col("_s").alias("node"), "label")
    return labels


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle census. Returns ONE row (n_nodes, n_edges,
    n_triangles) for the undirected simple graph behind ``edges``
    (self-loops dropped, orientation and duplicates normalized away).

    Adjacency-intersection shape: canonicalize every edge to a < b,
    build each node's sorted out-neighbor array ONCE, then for every
    edge (a, b) count |out(a) ∩ out(b)| — the c's completing a < b < c,
    so every triangle is counted exactly once at its smallest vertex.

    100 TB shape: this shuffles O(m) edge rows and O(n) adjacency
    rows, NOT the O(sum deg²) wedge set a join-based closure
    materializes (the wedge plan measured 16s where this one runs ~2s
    at sf0.1). The intersection itself runs in whole-stage codegen
    over the two arrays.

    The adjacency table holds exactly m neighbor longs plus n keys, so
    it is broadcast while the deduplicated edge count fits
    ``BROADCAST_MAX_NODES`` (8M edges ~ 64 MB of array payload): the
    per-edge intersection is then map-side and the ~deg-sized arrays
    are never shipped once per edge row (19.5s -> ~4s at sf0.1). Past
    the dial the same plan shuffles both sides, which survives billions
    of edges.

    NOTE: the builder runs one eager count at plan-construction time (a
    cached-RDD count on the barriered edge list) to set the dial.
    """
    e = _edge_table(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        ).filter(F.col("_a") != F.col("_b")),
        "_a",
        "_b",
    )
    adj = _maybe_broadcast(
        e.groupBy("_s").agg(F.sort_array(F.collect_list("_d")).alias("_nbrs")),
        e.count() <= BROADCAST_MAX_NODES,
    )
    closed = (
        e.join(adj, "_s")
        .join(
            adj.select(F.col("_s").alias("_d"), F.col("_nbrs").alias("_nbrs_d")),
            "_d",
        )
        .select(F.size(F.array_intersect("_nbrs", "_nbrs_d")).alias("_t"))
    )
    nodes = (
        e.select(F.col("_s").alias("n"))
        .unionByName(e.select(F.col("_d").alias("n")))
        .distinct()
    )
    return (
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
        .crossJoin(
            closed.agg(F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_triangles"))
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, "Authoritative
    sources in a hyperlinked environment"). On a DIRECTED graph, a good hub points at good
    authorities and a good authority is pointed at by good hubs:
    each synchronous round computes auth(v) = Σ hub(u) over in-edges
    then hub(u) = Σ auth(v) over out-edges, L1-normalizing after each
    half-step. L1 (sum) normalization replaces the textbook L2: it
    keeps the same fixpoint direction (normalization only rescales)
    while avoiding sqrt — every value stays a plain ratio, which is
    what makes an unrolled-CTE oracle reproduce it bit-for-bit up to
    summation order. Returns (node, hub, auth) after ``iterations``
    rounds from a uniform hub start of 1.0; pure sinks keep hub 0 and
    pure sources keep auth 0 — exact zeros, not epsilons.

    100 TB shape: identical to ``pagerank`` — each half-step is ONE
    equi-join of the slim (node, score) frame onto the edge list plus
    a groupBy sum; the global L1 mass is a one-row broadcast scalar
    (no second pass over nodes); the edge table is computed once
    behind a barrier; per-round lineage is cut by the barrier on the
    hub frame.

    The score frames stay SPARSE through the rounds — hubs over
    out-nodes, auths over in-nodes — because a node outside those sets
    carries exactly 0.0 and a 0.0 score contributes nothing to either
    half-step sum or to the L1 mass. The zero rows are filled in ONCE
    at the end by the final zero-fill join, which is also where the
    pure-sink hub=0 / pure-source auth=0 exactness comes from (coalesce
    to literal 0.0).

    NOTE: the builder runs one eager count at plan-construction
    time (a cached-RDD count on the barriered edge/node frame) to
    set the broadcast dial — a driver-blocking action inside a
    builder API, cheap because the frame is already barriered.
    """
    e = _edge_table(edges, src, dst)
    # the per-half-step score frames have at most |V| <= 2|E| rows
    fits = 2 * e.count() <= BROADCAST_MAX_NODES
    # sparse uniform start: only out-node hub values ever feed the
    # auth half-step
    hubs = e.select(F.col("_s").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("hub")
    )
    if iterations <= 0:  # degenerate: the dense uniform start
        return (
            e.select(F.col("_s").alias("node"))
            .unionByName(e.select(F.col("_d").alias("node")))
            .distinct()
            .select("node", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
        )
    auths = None
    for _ in range(iterations):
        a_raw = (
            e.join(_maybe_broadcast(hubs.withColumnRenamed("node", "_s"), fits), "_s")
            .groupBy("_d")
            .agg(F.sum("hub").alias("_x"))
        )
        a_mass = F.broadcast(a_raw.agg(F.sum("_x").alias("_t")))
        auths = (
            a_raw.withColumnRenamed("_d", "node")
            .crossJoin(a_mass)
            .select("node", (F.col("_x") / F.col("_t")).alias("auth"))
        )
        h_raw = (
            e.join(_maybe_broadcast(auths.withColumnRenamed("node", "_d"), fits), "_d")
            .groupBy("_s")
            .agg(F.sum("auth").alias("_x"))
        )
        h_mass = F.broadcast(h_raw.agg(F.sum("_x").alias("_t")))
        hubs = reliable_barrier(
            h_raw.withColumnRenamed("_s", "node")
            .crossJoin(h_mass)
            .select("node", (F.col("_x") / F.col("_t")).alias("hub"))
        )
    # out-nodes ∪ in-nodes IS the node set, and both sparse frames are
    # node-sized (hubs materialized, auths one agg above the barriered
    # hub frame — its duplicated subtree is deduped by runtime exchange
    # reuse) — derive it from them instead of re-scanning the
    # 2|E|-row edge table
    nodes = (
        hubs.select("node").unionByName(auths.select("node")).distinct()
    )
    return (
        nodes.join(_maybe_broadcast(hubs, fits), "node", "left")
        .join(_maybe_broadcast(auths, fits), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    iterations: int = 3,
) -> DataFrame:
    """Multi-source BFS hop distances — the frontier-relaxation
    sibling of ``connected_components``: starting from ``seeds`` at
    hop 0, each synchronous round relaxes
    ``dist'(v) = min(dist(v), min over in-edges dist(u) + 1)`` and the
    result is every node reachable within ``iterations`` hops with its
    exact minimum hop count. Pure integer arithmetic — deterministic
    on any engine and partitioning.

    100 TB shape: one slim (node, hop) frame; each round is ONE
    equi-join of the edge list against it plus a min-aggregate (the
    same slim-pair/barrier-per-round discipline as the other iterative
    operators — no frontier ever re-materializes prior rounds through
    lineage). Rounds shuffle O(m) join rows and O(n) aggregate rows.

    NOTE: the builder runs one eager count at plan-construction
    time (a cached-RDD count on the barriered edge/node frame) to
    set the broadcast dial — a driver-blocking action inside a
    builder API, cheap because the frame is already barriered.
    """
    e = _edge_table(edges, src, dst)
    # the (node, hop) frontier has at most |V| <= 2|E| rows
    fits = 2 * e.count() <= BROADCAST_MAX_NODES
    nd = reliable_barrier(
        seeds.select(F.col(node).alias("_n")).distinct().select(
            "_n", F.lit(0).cast("int").alias("_h")
        )
    )
    for _ in range(iterations):
        prop = e.join(_maybe_broadcast(nd, fits), e["_s"] == nd["_n"]).select(
            F.col("_d").alias("_n"), (F.col("_h") + F.lit(1)).alias("_h")
        )
        nd = reliable_barrier(
            nd.unionByName(prop).groupBy("_n").agg(F.min("_h").alias("_h"))
        )
    return nd.select(F.col("_n").alias(node), F.col("_h").alias("hop"))


def k_core_peel(
    edges: DataFrame,
    k: int = 3,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core peeling: each round drops every node whose CURRENT degree is below ``k``
    (and the edges touching it), the standard densest-region filter
    (Seidman 1983, "Network structure and minimum degree") used to
    trim low-signal periphery before community/triangle analysis.
    Runs ``iterations`` fixed synchronous rounds (a fixpoint loop in
    production; fixed rounds here so the SQL oracle can unroll) and
    returns ONE row: (n_nodes, n_edges) of the surviving subgraph.

    100 TB shape: per round ONE degree aggregate over the symmetric
    edge list plus two left-semi joins against the (typically much
    smaller) survivor set — slim integer keys only, barriered per
    round like the other iterative operators. Peeling cascades:
    survivors shrink monotonically, so later rounds cost less.

    NOTE: the builder runs one eager count at plan-construction
    time (a cached-RDD count on the barriered edge/node frame) to
    set the broadcast dial — a driver-blocking action inside a
    builder API, cheap because the frame is already barriered.
    """
    sym = _edge_table(
        edges.filter(F.col(src) != F.col(dst)), src, dst, undirected=True
    )
    # the survivor set has at most 2|E| rows; broadcasting it makes
    # both per-round semi-joins map-side — the symmetric edge table is
    # never shuffled while peeling
    fits = 2 * sym.count() <= BROADCAST_MAX_NODES
    for _ in range(iterations):
        keep = reliable_barrier(
            sym.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("_s")
        )
        sym = reliable_barrier(
            sym.join(_maybe_broadcast(keep, fits), "_s", "left_semi").join(
                _maybe_broadcast(keep.withColumnRenamed("_s", "_d"), fits),
                "_d",
                "left_semi",
            )
        )
    return sym.agg(
        F.countDistinct("_s").cast("long").alias("n_nodes"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
    )
