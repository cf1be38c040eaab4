"""Graph operators over edge-list DataFrames.

Connected components live in :mod:`.cluster`; this module adds rank
propagation (PageRank). Everything over data-sized frames is
DataFrame-native: the iteration count is a plan-construction loop on
the driver, never a per-row loop. Only :func:`markov_stationary`, whose
frame is bounded by its edge count, iterates on the driver itself. All
rank arithmetic is INTEGER-scaled so results are independent of
float summation order and replay bit-for-bit in any SQL engine.

Scale design: each iteration is one equi-join (ranks ⋈ edges, shuffled
on the src key) plus one hash aggregate (sum of contributions grouped by
dst) — the same shuffle pattern GraphX/Pregel lowers to, expressed
relationally so AQE handles skewed hub nodes. For deep iteration counts
pass ``checkpoint_every`` to truncate the lineage chain (same
localCheckpoint pattern as operators.cluster.connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..conf import checkpoint as _checkpoint
from .util import collect_bounded, literal_frame, sql_div, sql_fit

__all__ = [
    "pagerank",
    "count_triangles",
    "bfs_hops",
    "label_propagation",
    "kcore_peel",
    "markov_stationary",
    "cooccurrence_topk_similar",
]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 1_000_000,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank with integer-scaled arithmetic.

    Ranks are bigints in units of ``1/scale``; the damping factor is the
    rational ``damping_num/damping_den`` (default 17/20 = 0.85). Every
    update is integer floor division, so the result is EXACTLY
    deterministic — independent of partitioning, aggregation order, and
    engine — which is what makes a fixed-iteration PageRank
    value-oracle-checkable in ANSI SQL (unrolled CTEs), unlike the usual
    float formulation.

    Update rule per iteration (uniform teleport, dangling mass dropped —
    documented contract, matching the oracle):

        contrib(e) = rank(src) * damping_num // (damping_den * deg(src))
        rank'(v)   = scale * (damping_den - damping_num)
                         // (damping_den * N)  +  sum contrib over in-edges

    Returns ``(node, rank_scaled)`` for every node (isolated
    destinations included). One shuffle per iteration plus the final
    left join; degrees and the node set are computed once and reused.

    Resource contract (r17): the edge projection, node set, and
    degree-annotated edge frame are eagerly checkpointed via
    ``conf.checkpoint`` — each unrolled iteration references all three,
    and without the materialization Catalyst re-executes the CALLER'S
    edge subtree (often a full-corpus projection + distinct) once per
    reference: the 3-iteration plan re-scanned the source 28 times.
    ``conf.checkpoint`` is ``localCheckpoint`` by default (the loop's
    established mode — the per-iteration rank frames already use it) and
    flips to reliable ``.checkpoint`` under ``RELIABLE_CHECKPOINT_CONF``
    for clusters where executor loss matters. Blocks are released by the
    ContextCleaner once the returned frame is garbage-collected
    (``unpersist`` here would be premature — the result is lazy).
    """
    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst")).transform(
        _checkpoint
    )
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .transform(_checkpoint)
    )
    deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    # N enters every rank expression as a scalar: a 1-row frame
    # cross-joined lazily (broadcast of one row — the same lazy-scalar
    # pattern as embed_quantize's global range), never a driver collect.
    n_frame = nodes.agg(F.count(F.lit(1)).alias("__n"))
    base = F.floor(
        F.lit(scale * (damping_den - damping_num)) / (F.lit(damping_den) * F.col("__n"))
    ).cast("bigint")
    ranks = (
        nodes.crossJoin(F.broadcast(n_frame))
        .select("node", F.floor(F.lit(scale) / F.col("__n")).cast("bigint").alias("rank_scaled"))
    )
    edge_deg = e.join(deg, "__src").transform(
        _checkpoint
    )  # deg is edges-derived: inner join is total
    for i in range(iterations):
        contrib = (
            ranks.join(edge_deg, ranks["node"] == edge_deg["__src"])
            .select(
                F.col("__dst").alias("node"),
                F.floor(
                    (F.col("rank_scaled") * damping_num)
                    / (F.lit(damping_den) * F.col("__deg"))
                ).cast("bigint").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_frame))
            .select(
                "node",
                (base + F.coalesce(F.col("__in"), F.lit(0)))
                .cast("bigint")
                .alias("rank_scaled"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.transform(_checkpoint, eager=False)
    return ranks


def count_triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count of an undirected simple graph, degree-
    ordered (one-row result: ``n_nodes, n_edges, n_triangles``).

    The classic O(E^{3/2}) orientation algorithm, expressed
    relationally: orient every undirected edge from the lower to the
    higher endpoint under the total order ``(degree, node)``, then
    count wedges ``a→b, a→c`` (b before c in the same order) closed by
    an oriented edge ``b→c``.  Each triangle has exactly one node with
    out-degree 2 within it under this orientation, so every triangle
    is counted exactly once — no post-join dedup shuffle.

    Why degree-ordered instead of plain id-ordered: a hub of degree d
    would otherwise own O(d^2) wedges; orienting away from high-degree
    nodes bounds every out-neighborhood by O(sqrt(E)), which is what
    keeps the wedge join's fan-out flat on power-law graphs (the
    standard Schank/Wagner bound).  All three joins are hash
    equi-joins on node keys; AQE handles residual skew.

    Input may contain duplicate or self edges; both are removed first
    (distinct on the normalized (lo, hi) pair, lo < hi).

    The normalized edge frame fans out to FOUR consumers (degree
    counting, orientation, the wedge-closing probe, and the edge
    count), and the oriented frame to three more — so both are
    eagerly localCheckpoint'd. Without this, an expensive upstream
    edge derivation (e.g. a per-order basket self-join) re-executes
    once per consumer: the bounded-iterate/unbounded-input trap of
    SCALE.md §18 in fan-out form. Both frames are edge-bounded, so
    the materialization cost is O(E), far below one upstream replay.
    """
    lo = F.least(F.col(src), F.col(dst))
    hi = F.greatest(F.col(src), F.col(dst))
    und = (
        edges.select(lo.alias("u"), hi.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(_checkpoint)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("ra"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("rb"),
    ).transform(_checkpoint)
    e1 = oriented.select(
        F.col("a"), F.col("b").alias("w1"), F.col("rb").alias("r1")
    )
    e2 = oriented.select(
        F.col("a"), F.col("b").alias("w2"), F.col("rb").alias("r2")
    )
    wedges = e1.join(e2, "a").filter(
        (F.col("r1") < F.col("r2"))
        | ((F.col("r1") == F.col("r2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(
        F.col("a").alias("w1"), F.col("b").alias("w2")
    )
    tri = wedges.join(closing, ["w1", "w2"], "left_semi")
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_edges = und.agg(F.count(F.lit(1)).alias("m")).select("m")
    n_tri = tri.agg(F.count(F.lit(1)).alias("t")).select("t")
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_tri)
        .select(
            F.col("n").cast("bigint").alias("n_nodes"),
            F.col("m").cast("bigint").alias("n_edges"),
            F.col("t").cast("bigint").alias("n_triangles"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source breadth-first hop distances on an undirected
    graph: ``(node, hop)`` for every node within ``max_hops`` of any
    seed, where ``hop`` is the EXACT shortest hop count (level-
    synchronous BFS visits each node on its first reachable level, so
    no min-aggregation pass is needed).

    Reference parity: none — graph traversal is part of the
    large-scale analytics suite (same family as pagerank /
    label_propagation above).

    Scale design: each level is one equi-join of the current frontier
    against the bidirectional edge frame plus one anti-join against
    the visited set — the Pregel expansion step expressed
    relationally, shuffling only (node) keys. The edge frame is the
    loop-invariant input and is eagerly localCheckpoint'd once
    (SCALE.md §18 — without it every level would re-derive the
    caller's edge pipeline); each level's NEW frontier is
    checkpointed so level ``h+1`` never replays level ``h``'s joins.
    The visited set stays a lazy union of checkpointed level frames —
    node-bounded, never recomputed. Frontier exhaustion short-circuits
    the loop (``isEmpty`` on an already-materialized frame is free).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    bidir = (
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(_checkpoint)
    )
    visited = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("int"))
        .transform(_checkpoint)
    )
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        nbrs = (
            frontier.join(bidir, frontier["node"] == bidir["a"])
            .select(F.col("b").alias("node"))
            .distinct()
        )
        new = (
            nbrs.join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h).cast("int"))
            .transform(_checkpoint)
        )
        if new.isEmpty():
            break
        visited = visited.unionAll(new)
        frontier = new.select("node")
    return visited


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node_col: str = "node",
    max_rounds: int = 3,
) -> DataFrame:
    """Multi-source WEIGHTED shortest-path distances on an undirected
    graph, bounded to paths of at most ``max_rounds`` edges:
    ``(node, dist)`` where ``dist`` is the exact minimum sum of
    integer edge weights over any <=``max_rounds``-edge path from any
    seed (classic bounded Bellman-Ford — the weighted companion to
    :func:`bfs_hops`, whose hop count is the ``weight = 1`` special
    case).

    Reference parity: none — graph traversal is part of the
    large-scale analytics suite (same family as pagerank / bfs_hops).

    Weights should be integral (quantize first) so distances hash
    identically across engines; negative weights are fine within the
    bounded-round contract (no negative-cycle divergence because the
    round count, not convergence, terminates the loop).

    Scale design: each round is ONE equi-join of the node-bounded
    distance frame against the bidirectional edge frame plus one
    min-aggregation — the relax step expressed relationally, never
    materializing paths. The edge frame is loop-invariant and eagerly
    localCheckpoint'd once (SCALE.md §18 — the "bounded iterate,
    unbounded input" trap); each round's distance frame is
    checkpointed so round ``r+1`` never replays round ``r``'s join.
    Unlike BFS there is no frontier/visited split: a settled node can
    still improve through a longer-but-lighter path, so every round
    relaxes the full distance frame (node-bounded, so the join stays
    O(V + E) per round).
    """
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight).cast("bigint").alias("w"),
    )
    bidir = (
        e.unionAll(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
        .filter(F.col("a") != F.col("b"))
        .transform(_checkpoint)
    )
    dist = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
        .transform(_checkpoint)
    )
    for _ in range(max_rounds):
        relaxed = (
            dist.join(bidir, dist["node"] == bidir["a"])
            .select(
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(_checkpoint)
        )
    return dist


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-``rounds`` k-core peeling: repeatedly delete nodes of
    degree < ``k`` (and their incident edges). After enough rounds the
    survivor set IS the k-core; a FIXED round count keeps the
    computation an exact, engine-replayable function of the input (the
    same unrolled-iteration contract as :func:`pagerank` — the oracle
    replays each round as a CTE), and in practice the peel converges
    in a handful of rounds on social/bipartite graphs.

    Input must be symmetric for undirected semantics (pass both
    directions, as the pagerank gate does). Each round is one degree
    aggregate + two semi-joins — all hash equi-joins on the node key,
    nothing quadratic, O(rounds) shuffles.

    Returns the surviving edge set (same columns).
    """
    # localCheckpoint per round: the degree branch and the two
    # semi-join branches each re-evaluate `b`, so WITHOUT truncation
    # round r's lineage contains ~2^r copies of the base plan —
    # measured 4.4 s for 3 rounds on the sf0.1 bipartite graph purely
    # from replanning/recompute; checkpointing each round's survivor
    # set (an eager, executor-local materialization, same policy as
    # cluster.py's CC loop) makes every round one aggregate + two
    # joins over a flat scan.
    b = edges.transform(_checkpoint)
    for _ in range(rounds):
        deg = b.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.filter(F.col("__deg") >= k).select(src)
        nxt = b.join(keep, src, "left_semi").join(
            keep.withColumnRenamed(src, dst), dst, "left_semi"
        ).transform(_checkpoint)
        # No explicit unpersist: DataFrame.unpersist() does not
        # release localCheckpoint RDD blocks (it's a no-op here —
        # ADVICE r8). Superseded rounds' blocks are reclaimed by the
        # ContextCleaner once the RDD is GC'd; each round's survivor
        # set only shrinks, so peak residency is bounded by the input
        # edge frame, not by rounds.
        b = nxt
    return b


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (LPA) community detection for a
    FIXED number of rounds — the cheap modularity-free community
    finder (Raghavan et al. 2007).  Every node starts labeled with
    itself; each round it adopts the most frequent label among its
    neighbors (ties break on the smaller label — the determinism LPA
    famously lacks and an oracle-checkable operator must pin).  A
    fixed round count keeps the result an exact function of the input,
    same unrolled-iteration contract as :func:`pagerank` /
    :func:`kcore_peel`.

    Input must be symmetric for undirected semantics.  Per round: one
    edge-label join + one (node, label) count + one per-node argmax
    (``WindowGroupLimit``-bounded) — all hash-partitioned on node
    keys, O(E) exchange per round, nothing quadratic.  Isolated nodes
    (none, if edges are symmetric and self-free) keep their label via
    the coalesce.

    Returns ``(node, label)``.
    """
    if rounds < 1:
        raise ValueError("label_propagation requires rounds >= 1")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .transform(_checkpoint)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).transform(_checkpoint)
    for _ in range(rounds):
        msgs = (
            e.join(labels.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # per-node argmax as min(struct(-count, label)) — identical to
        # the former row_number()-over-(count DESC, label ASC) pick,
        # but a hash aggregate with MAP-SIDE partial combine: each map
        # partition forwards one candidate per node instead of every
        # (node, label) row into a sort-window exchange (guide §2.3,
        # r17; plan: Window+Filter -> partial_min/min, one exchange
        # less per round together with the join removal below)
        picked = (
            msgs.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__c")).alias("__nc"),
                        F.col("label").alias("__l"),
                    )
                ).alias("__w")
            )
            .select("node", F.col("__w.__l").alias("__new"))
        )
        # labels invariantly holds EXACTLY one row per node (starts as
        # the node set; the left join + coalesce preserves it), so the
        # former per-round `nodes.join(labels)` re-anchor was a no-op
        # costing one |V|-row join per round — dropped (r17)
        labels = (
            labels.join(picked, "node", "left")
            .select("node", F.coalesce("__new", "label").alias("label"))
            .transform(_checkpoint)
        )
    return labels


def markov_stationary(
    transitions: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n",
    rounds: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Stationary distribution of an observed transition-count matrix
    by fixed-``rounds`` power iteration in exact integer fixed-point —
    "where does the behavior flow settle", the steady-state companion
    of the transition-matrix report.

    Per round, each state's mass flows along its outgoing counts with
    a single truncating division per edge
    (``v(u) * n(u,w) div deg(u)``), then the vector renormalizes back
    to ``scale`` total (two more exact integer divisions).  Everything
    is a pure function of the counts — an unrolled SQL CTE replays it
    bit-for-bit; float stochastic-matrix iteration would depend on
    engine-private sum order.

    States are the sources of the count frame (a state with no
    outgoing edges would absorb mass; observed event streams have
    none, and the renormalization keeps the total at ``scale``
    regardless).  A null source is a state that sends nothing; a null
    destination receives nothing.

    The loop runs on the driver: one capped collect of the
    ``(src, dst, n)`` frame (at most
    :data:`~.util.DRIVER_LOOP_MAX_ROWS` rows, else ``ValueError``),
    then exact Python integers, raising ``ArithmeticError`` where ANSI
    Spark would (a value past BIGINT, a zero out-degree).  At 100 TB
    the SF-linear work is the upstream count aggregate, not this loop.

    Returns ``(state, stationary_scaled)``.
    """
    op = "markov_stationary"
    if rounds < 1:
        raise ValueError(f"{op} requires rounds >= 1")
    edges = transitions.select(
        F.col(src).alias("u"), F.col(dst).alias("w"),
        F.col(weight).cast("bigint").alias("n"),
    )
    state_type = edges.schema["u"].dataType
    rows = collect_bounded(edges, op)
    states = list(dict.fromkeys(u for u, _, _ in rows))
    deg: dict = {}
    for u, _, n in rows:
        if n is not None:
            deg[u] = deg.get(u, 0) + n
    for d in deg.values():
        sql_fit(d, "BIGINT", op)
    sent = [(u, w, n) for u, w, n in rows if u is not None and n is not None]
    v = dict.fromkeys(states, sql_fit(scale, "BIGINT", op))
    for _ in range(rounds):
        inflow: dict = {}
        for u, w, n in sent:
            c = sql_fit(sql_div(v[u] * n, deg[u], op), "BIGINT", op)
            inflow[w] = inflow.get(w, 0) + c
        for x in inflow.values():
            sql_fit(x, "BIGINT", op)
        # the state space stays the sources: mass into a sink state
        # (or a null destination) leaves, and renormalization restores it
        raw = {s: inflow.get(s, 0) if s is not None else 0 for s in states}
        tot = max(sql_fit(sum(raw.values()), "BIGINT", op), 1)
        v = {
            s: sql_div(sql_fit(r * scale, "BIGINT", op), tot, op)
            for s, r in raw.items()
        }
    schema = StructType([
        StructField("state", state_type),
        StructField("stationary_scaled", LongType()),
    ])
    return literal_frame(transitions.sparkSession, schema, list(v.items()))


def cooccurrence_topk_similar(
    baskets: DataFrame,
    basket_col: str = "basket",
    item_col: str = "item",
    k: int = 5,
    min_pairs: int = 2,
) -> DataFrame:
    """Top-``k`` most-similar items per item by co-occurrence cosine —
    the item-item collaborative-filtering primitive ("customers who
    bought X also bought"): ``cos(a, b) = c(a,b) / sqrt(c(a) * c(b))``
    over basket co-membership counts, rendered as exact-deterministic
    ppm (IEEE ``sqrt`` is correctly rounded — unlike ``ln`` it is
    REQUIRED to be bit-exact by the standard — so
    ``floor(c12 * 1e6 / sqrt(c1 * c2))`` replays identically on any
    engine; valid while ``c12 < ~9e9``, far past any real basket
    count).

    Input: one row per (basket, item) — duplicates are collapsed.
    Pairs with fewer than ``min_pairs`` shared baskets are pruned
    BEFORE the similarity math (noise floor + output bound).

    Scale: the pair frame is the per-basket self-join — fan-out
    bounded by basket size squared, the same contract as the triangle
    / community gates, never all-pairs over the catalog.  Per-item
    totals join back by item hash (SF-linear frame — no broadcast
    hint, the scale guard's rule).  The final top-k is a
    per-item-PARTITIONED window, compiled to WindowGroupLimit.

    Returns ``(item, other, n_both, cos_ppm, rank)`` with both
    directions present (each edge appears under both endpoints).
    """
    if k < 1:
        raise ValueError("cooccurrence_topk_similar requires k >= 1")
    # the distinct basket-item frame feeds BOTH sides of the pair
    # self-join and the totals aggregate — cut it once so the distinct
    # shuffle runs once, not three times. conf.checkpoint rather than
    # persist (r17): downstream plans read a plain RDD scan, so AQE
    # still optimizes them — the same persist-vs-checkpoint A/B the
    # KMV sketches ran found InMemoryRelation subplans bypass AQE and
    # measure slower. LAZY since r18: the eager spelling serialized an
    # SF-LINEAR materialization job before any real work and measured
    # +0.5-2 s at sf0.1 (3-round interleaved A/B, one warm session:
    # parts_item_sim eager 2.81 / lazy 2.29 / persist 3.56 s;
    # cust_recs_topk 4.93 / 4.33 / 4.45) — the first consuming job
    # materializes the cache instead, and the plan-shape win (6 -> 0
    # duplicate scans) is identical.
    b = (
        baskets.select(
            F.col(basket_col).alias("__bk"), F.col(item_col).alias("__it")
        )
        .distinct()
        .transform(lambda d: _checkpoint(d, eager=False))
    )
    # totals is consumed by BOTH scoring joins (__ca and __cb) — each
    # would re-aggregate b; the frame is item-cardinality-bounded.
    totals = b.groupBy(F.col("__it").alias("__t_it")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c1")
    ).transform(lambda d: _checkpoint(d, eager=False))
    pairs = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.__bk") == F.col("y.__bk"))
            & (F.col("x.__it") < F.col("y.__it")),
        )
        .groupBy(
            F.col("x.__it").alias("__a"), F.col("y.__it").alias("__b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= min_pairs)
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("__b").alias("__a"), F.col("__a").alias("__b"), "n_both"
        )
    )
    scored = (
        sym.join(totals.withColumnRenamed("__t_it", "__a"), "__a")
        .withColumnRenamed("__c1", "__ca")
        .join(totals.withColumnRenamed("__t_it", "__b"), "__b")
        .withColumnRenamed("__c1", "__cb")
        .select(
            F.col("__a").alias("item"),
            F.col("__b").alias("other"),
            "n_both",
            F.floor(
                F.col("n_both")
                * 1000000.0
                / F.sqrt((F.col("__ca") * F.col("__cb")).cast("double"))
            )
            .cast("bigint")
            .alias("cos_ppm"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cos_ppm"), F.asc("other")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
