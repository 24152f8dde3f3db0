"""PageRank by power iteration over a co-purchase graph — the
iterative-graph-algorithm representative (same driver-side-loop,
distributed-data pattern as Lloyd's k-means in clustering.py, but the
model state — the rank vector — stays DISTRIBUTED: one row per node,
never collected).

Spark-first shape per iteration: one shuffle join (edges ⋈ ranks on
src) + one aggregation (sum contributions by dst). Both key on node
ids, so pre-partitioning edges and ranks on the same key makes every
iteration reuse one partitioning (bucketed checkpoints at production
scale). The damping base term enters as an expression over a
driver-held scalar (node count — model-parameter scale, one count()).

Cross-engine float parity (the DuckDB twin unrolls the same
iterations): per-edge contributions are TRUNCATED to 12 dp
(floor(x*1e12)/1e12 — unlike round(), truncation has no half-way ties,
so it is bit-deterministic across engines), summed EXACTLY via
DECIMAL(32,12) (order-independent), and the new rank is truncated the
same way — so both engines walk bit-identical rank vectors through
every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import iterate, pin_for_query

DAMPING = 0.85


def _trunc12(col: F.Column) -> F.Column:
    """Truncate a (positive) double to 12 dp, tie-free: the scaled
    value is an exact integer < 2^53, so both engines agree bitwise."""
    return F.floor(col * F.lit(1e12)).cast("double") / F.lit(1e12)


def copurchase_edges(lineitem: DataFrame, min_weight: int = 1) -> DataFrame:
    """Symmetric distinct (src, dst) edges between parts that appear
    together in at least ``min_weight`` distinct orders — the one edge
    definition of every co-purchase operator in this module
    (``min_weight=1``: the raw co-purchase graph; ``min_weight=2``: the
    repeated-co-purchase graph, where one-off basket coincidences are
    noise edges). A row with a NULL ``l_orderkey`` belongs to no order
    and forms no edge, as in the SQL twins' equi-join.

    Shape: ONE shuffle gathers each order's part set (``collect_set``
    also dedupes within the order, so no pre-``distinct`` pass), the
    per-order pairing is a map-side double ``explode`` (bounded
    fan-out: orders have ~7 lines, so the blowup is ≤ 7² per order — a
    constant, not a skew risk), and one more shuffle counts the
    src < dst half across orders (map-side combined) before the weight
    filter and the map-only mirror union. Two exchanges total, vs four
    for the equivalent self-join formulation (distinct + re-shuffle of
    both join sides + pair aggregation) — the pairing itself never
    touches the network."""
    sets = (
        lineitem.filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    half = (
        sets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= min_weight)
        .select("src", "dst")
    )
    return half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def purchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Distinct (c, p) customer→part purchase pairs of the bipartite
    purchase graph: the inner join ``o_orderkey = l_orderkey`` (a NULL
    key joins nothing), projected to (o_custkey, l_partkey) and
    deduped — the one edge definition of ``build_hits_edges``,
    ``hits``' callers and ``itemitem_cf``."""
    return (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )


def pagerank(
    lineitem: DataFrame,
    iters: int = 3,
    broadcast_nodes: int = 2_000_000,
    plan_hook=None,
) -> DataFrame:
    """Damped PageRank over the co-purchase graph: builds the
    symmetric edge list and delegates to ``ranks_over_edges`` (the
    generic power-iteration machinery, shared with
    ``corpus.textrank_keywords``). Returns (node, r)."""
    return ranks_over_edges(
        copurchase_edges(lineitem), iters, broadcast_nodes, plan_hook
    )


def ranks_over_edges(
    edges: DataFrame,
    iters: int = 3,
    broadcast_nodes: int = 2_000_000,
    plan_hook=None,
    seed_mod: int | None = None,
) -> DataFrame:
    """Ranks after ``iters`` damped power iterations over a symmetric
    (src, dst) edge list, for nodes with at least one edge. Returns
    (node, r).

    When the node count is under ``broadcast_nodes`` the per-iteration
    edges⋈ranks join BROADCASTS the rank vector (a few MB — iterations
    become map-only over the cached edge list plus one small
    aggregation); above it the join falls back to a shuffle that
    co-partitions with the contribution aggregation. Node counts are
    usually orders of magnitude below edge counts, so the broadcast
    path is the common case.

    The iterations run through ``session.iterate``, so the final
    action reads a stored vector, not a plan nested ``iters`` deep
    whose broadcast stages re-run every earlier iteration (measured
    superlinear: the 3-deep chain cost ~2x the sum of its parts at
    sf0.1).

    ``seed_mod`` switches to PERSONALIZED PageRank (Page et al. 1999
    §6; Haveliwala 2002): teleport mass goes only to the seed set
    {node : node % seed_mod == 0} — init 1/|S| on seeds and 0
    elsewhere, per-node restart term 0.15/|S| on seeds and 0
    elsewhere. Identical plan shape per iteration (the restart term
    is a pure CASE projection); the symmetric graph guarantees every
    node receives contributions, so no rank row is ever dropped."""
    # PERSIST the raw edge list first: the degree aggregation and the
    # deg-folded table both consume it, and without the cache the
    # upstream edge build would run once per consumer (it is the
    # dominant cost of the whole query).
    edges = edges.persist()
    # degrees are the ONLY edge-wide aggregation needed: their key set
    # IS the node set (the graph is symmetric), so the node and seed
    # counts — scalar model parameters, the one driver-side pull —
    # aggregate deg, and the initial rank vector is a projection of
    # deg. This saves two further full passes over the edge list (a
    # distinct-count and an edge-wide distinct) that earlier versions
    # ran.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    # materializes deg AND the edge cache beneath it; it also gates
    # BOTH broadcast decisions below — deg is node-count-sized too, so
    # force-broadcasting it above the gate would hit the same driver/
    # broadcast limits the gate exists for
    def is_seed(node: F.Column) -> F.Column:
        # plain PageRank teleports to every node
        return F.lit(True) if seed_mod is None else node % seed_mod == 0

    n_nodes, n_seeds = deg.agg(
        F.count(F.lit(1)), F.count_if(is_seed(F.col("src")))
    ).first()
    if n_seeds == 0:
        edges.unpersist()
        deg.unpersist()
        if n_nodes:
            raise ValueError(
                f"ppr: no seed nodes (node % {seed_mod} == 0) in the graph"
            )
        # an empty graph has an empty rank vector (and no 1/n_nodes)
        empty = deg.select(F.col("src").alias("node"), F.lit(0.0).alias("r"))
        return edges.sparkSession.createDataFrame([], empty.schema)
    bcast = n_nodes <= broadcast_nodes
    # broadcast fold keeps the (much larger) edge side shuffle-free on
    # the way into the cache (filled by the first iteration);
    # shuffle-join fallback above the gate
    ed = edges.join(F.broadcast(deg) if bcast else deg, "src").persist()

    def base_of(node_col: F.Column) -> F.Column:
        return F.when(
            is_seed(node_col), F.lit(0.15) / F.lit(float(n_seeds))
        ).otherwise(F.lit(0.0))

    def init_of(node_col: F.Column) -> F.Column:
        return F.when(
            is_seed(node_col), _trunc12(F.lit(1.0) / F.lit(float(n_seeds)))
        ).otherwise(F.lit(0.0))

    def step(ranks: DataFrame, it: int, seen) -> DataFrame:
        r_in = F.broadcast(ranks) if bcast else ranks
        contrib = ed.join(r_in, ed["src"] == r_in["node"]).select(
            F.col("dst"),
            _trunc12(F.col("r") / F.col("deg")).alias("c"),
        )
        return (
            contrib.groupBy("dst")
            .agg(
                F.sum(F.col("c").cast("decimal(32,12)")).cast("double").alias("s")
            )
            .select(
                F.col("dst").alias("node"),
                _trunc12(
                    base_of(F.col("dst")) + F.lit(DAMPING) * F.col("s")
                ).alias("r"),
            )
        )

    init = deg.select(F.col("src").alias("node"), init_of(F.col("src")).alias("r"))
    ranks, _, _ = iterate(
        init, step, iters, plan_hook=plan_hook, stage="iteration"
    )
    # Release the edge and degree caches before returning: a
    # long-lived session calling pagerank repeatedly must not
    # accumulate edge-list-sized storage blocks per call. The returned
    # rank vector is stored for the rest of the query scope.
    for df in (ed, deg, edges):
        df.unpersist()
    return ranks


def triangle_counts(
    lineitem: DataFrame,
    broadcast_nodes: int = 2_000_000,
    broadcast_edges: int = 20_000_000,
    plan_hook=None,
    with_degrees: bool = False,
) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph — the
    standard graph-locality/clustering signal (and the classic
    MapReduce triangle-enumeration benchmark).

    Spark-first shape (Cohen / node-iterator++): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher
    one — a total order, so each triangle {x,y,z} survives as EXACTLY
    one directed path x->y->z plus its closing edge x->z. Orienting by
    degree bounds every node's OUT-degree by O(sqrt(m)) — the hub that
    would make a naive self-join quadratic ends up on the RECEIVING
    end of its edges. Triangles are then enumerated by ADJACENCY
    INTERSECTION, not a wedge join: for each oriented edge x->y the
    closing nodes are exactly out(x) ∩ out(y), so only triangles ever
    materialize — the wedge-join alternative would shuffle every
    2-path, orders of magnitude more rows than the triangles they
    close. Work is O(m^1.5) worst-case, all equi-joins on node ids,
    AQE-splittable on residual skew; the out-degree bound keeps every
    adjacency array O(sqrt(m)) so ``collect_list`` can't blow up.
    Integer-only — no float parity concerns.

    Same persist discipline as ``pagerank`` above: the edge list feeds
    the degree agg and the orientation, and the oriented list feeds
    both the adjacency build and the probe side, so each is
    materialized once and released as soon as its consumers are done.
    The degree table and the per-node counts are pinned to the query
    scope (``session.pin_for_query``), which frees them when it
    closes.
    ``deg`` is node-count-sized; below ``broadcast_nodes`` it
    broadcasts into the orientation join (map-only), above it the join
    falls back to a shuffle."""
    edges = pin_for_query(copurchase_edges(lineitem))
    # degrees' key set IS the node set (symmetric graph) — same trick
    # as pagerank: one pass over the cached edges covers the node
    # count AND the degree table, no separate distinct-count pass
    deg = pin_for_query(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    n_nodes = deg.count()  # also warms the edge cache
    d_in = F.broadcast(deg) if n_nodes <= broadcast_nodes else deg
    half = edges.filter(F.col("src") < F.col("dst"))
    h = (
        half.join(
            d_in.select(F.col("src"), F.col("deg").alias("ds")), "src"
        ).join(
            d_in.select(F.col("src").alias("dst"), F.col("deg").alias("dd")), "dst"
        )
    )
    fwd = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    # Repartition BEFORE caching: AQE coalesces the broadcast-join
    # output into very few partitions (right for the join, wrong for
    # what follows), and the intersect stage below is the CPU-heavy
    # one — cached at full width it runs on every core instead of
    # three. Hashing on `lo` also pre-co-partitions the non-broadcast
    # adjacency join fallback.
    width = lineitem.sparkSession.sparkContext.defaultParallelism
    e = h.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    ).repartition(width, "lo").persist()
    n_oriented = e.count()
    edges.unpersist()
    if not with_degrees:
        deg.unpersist()  # e is materialized; nothing reads deg anymore
    # The adjacency table totals m array entries across node-count
    # rows, so its broadcast gate is the EDGE count, not the node
    # count (2M half-edges ≈ 16 MB of longs). Below the gate the
    # intersect stage is MAP-ONLY over the thin cached edge list — no
    # shuffle ever carries an array; above it the joins fall back to
    # shuffles, the first of which is already co-partitioned on `lo`.
    adj = e.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    a_in = F.broadcast(adj) if n_oriented <= broadcast_edges else adj
    tri = (
        e.join(a_in.select(F.col("lo").alias("_x"), F.col("nbrs").alias("nx")),
               F.col("lo") == F.col("_x"))
        .join(a_in.select(F.col("lo").alias("_y"), F.col("nbrs").alias("ny")),
              F.col("hi") == F.col("_y"))
        .select(
            F.col("lo").alias("x"),
            F.col("hi").alias("y"),
            F.explode(F.array_intersect("nx", "ny")).alias("z"),
        )
    )
    out = pin_for_query(
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    if plan_hook is not None:
        # the enumeration plan (orientation + adjacency intersect +
        # per-node fold) before it executes, for scripts/plan_audit.py
        # — the operator materializes eagerly, so the query-level
        # audit only ever sees the cached result
        plan_hook("enumerate", out)
    out.count()  # materialize before releasing the oriented-edge cache
    e.unpersist()
    if with_degrees:
        # clustering_coeff consumer: every degree>=2 node, zero-
        # triangle nodes included — reuses the deg frame this pass
        # already built instead of a second edge build (measured 2x
        # on the sf0.1 battery)
        res = (
            deg.filter(F.col("deg") >= 2)
            .select(
                F.col("src").alias("node"),
                F.col("deg").cast("bigint").alias("degree"),
            )
            .join(out, "node", "left")
            .select(
                "node",
                F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
                "degree",
            )
        )
        return res
    return out


def link_prediction(
    lineitem: DataFrame, top: int = 50, targets_mod: int = 100
) -> DataFrame:
    """Common-neighbors link prediction over the co-purchase graph:
    for a TARGET batch of nodes (the deterministic 1-in-``targets_mod``
    id residue — per-item recommendation batches are how this ships;
    an all-pairs sweep of a dense graph is never the product shape),
    score every non-neighbor at distance 2 by neighborhood Jaccard
    (|N(a) ∩ N(b)| / |N(a) ∪ N(b)|) and return the ``top`` strongest
    predicted links — the "customers also bought" primitive.

    Scale shape: anchoring the wedge join on the target batch bounds
    enumeration at |targets| x avg_deg² instead of the full Σ deg(m)²
    (this co-purchase graph is DENSE — avg degree ~120 at sf0.1, so
    the unanchored sweep is ~300M wedges vs ~3M anchored; measured,
    not guessed). Candidates collapse through a groupBy on (a, b)
    with map-side combine; existing edges leave via one anti-join;
    the top-n is a TakeOrdered with deterministic ties (score desc,
    then a, b). Exactness is per-target: every target's scores are
    exact, no sampling inside a target's neighborhood.

    Returns (a, b, common, jaccard), jaccard 6-dp-rounded."""
    edges = copurchase_edges(lineitem).persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    anchored = edges.filter(F.col("src") % targets_mod == 0)
    cand = (
        anchored.alias("x")
        .join(edges.alias("y"), F.col("x.dst") == F.col("y.src"))
        .filter(F.col("x.src") != F.col("y.dst"))
        .groupBy(
            F.col("x.src").alias("a"), F.col("y.dst").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    fresh = cand.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("_db"))
    return (
        fresh.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("common").cast("bigint").alias("common"),
            F.round(
                F.col("common")
                / (F.col("_da") + F.col("_db") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(top)
    )


def kcore(
    lineitem: DataFrame,
    k: int = 3,
    min_weight: int = 2,
    max_rounds: int = 40,
    plan_hook=None,
) -> DataFrame:
    """k-core of the REPEATED-co-purchase graph by iterative peeling:
    keep only part pairs that co-occur in ≥ ``min_weight`` distinct
    orders (one-off basket coincidences are noise edges — the raw
    co-purchase graph is so dense that every node survives any
    useful k), then repeat "drop every node with degree < k (and its
    edges)" until stable — the standard cohesive-subgraph extractor
    (Seidman 1983; how graph systems separate a dense engaged core
    from the long pendant tail before community detection or
    embedding training).

    Edge build: ``copurchase_edges(lineitem, min_weight)``.

    Spark shape: each round is ONE degree aggregation over the
    surviving symmetric edge list plus two semi-join filters against
    the ≥k node set — all equi-joins co-partitioned on node id, no
    pairwise work. The rounds run through ``session.iterate``: each
    round references the edge frame three times (degree agg + both
    endpoint filters), so an uncheckpointed chain would triple the
    LOGICAL tree per round and Catalyst analysis blows up
    exponentially (the CC-loop lesson, dedup.py; reproduced here as a
    2 GB plan string). The driver sees only the surviving edge COUNT
    per round, observed on the round's own checkpoint, and an equal
    count in two consecutive rounds is a fixed point (peeling only
    ever removes edges; equal size ⇒ equal set). Peeling converges in
    O(peel-depth) rounds — small on real graphs; ``max_rounds`` is a
    backstop, and the converged state is IDEMPOTENT, so the DuckDB
    twin's fixed unroll reproduces it exactly (the kmeans/pagerank
    precedent).

    ``plan_hook(stage, df)`` receives round 1's pruned-edge frame —
    the representative per-iteration plan for scripts/plan_audit.py.

    Returns (part, degree) for every k-core member with its
    WITHIN-CORE degree, ordered by part. Raises if ``max_rounds``
    passes without a fixed point — a partial peel is NOT a k-core,
    and silently returning one would corrupt every consumer (the
    connected-components convention)."""

    def peel(cur: DataFrame, i: int, seen) -> DataFrame:
        keep = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        return (
            cur.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )

    cur, _, converged = iterate(
        copurchase_edges(lineitem, min_weight).localCheckpoint(), peel,
        max_rounds, observe=[F.count(F.lit(1)).alias("n_edges")],
        until=lambda prev, seen: prev == seen, plan_hook=plan_hook,
        stage="peel",
    )
    if not converged:
        raise RuntimeError(
            f"kcore: no fixed point after {max_rounds} rounds"
        )
    return (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .select(F.col("src").alias("part"), "degree")
        .orderBy("part")
    )


def build_hits_edges(
    orders: DataFrame, lineitem: DataFrame, out_dir: str
) -> None:
    """BUILD phase of the staged HITS lifecycle: materialize the
    distinct customer→part purchase edge list once per corpus snapshot
    (r10 verdict: the ``purchase_edges`` build re-ran on every
    ``hits`` invocation and dominated its 9 s warm time).

    Layout (all under ``out_dir``):
      - ``edges_by_c``  — edges hash-partitioned + sorted on ``c``
      - ``edges_by_p``  — the SAME edges partitioned + sorted on ``p``
      - ``meta``        — one row (n_c, n_p): node counts, so the probe
        makes its broadcast-vs-shuffle decision without count jobs
        (and from max(n_c, n_p) — both score vectors get broadcast)

    The dual orientation is the at-scale layout: each HITS half-step
    joins edges on a DIFFERENT key (authority step on ``c``, hub step
    on ``p``), so above the broadcast threshold a single-orientation
    edge list re-shuffles per half-step per iteration, while
    orientation-matched copies keep every join's probe side already
    clustered on its key — the classic store-the-graph-twice trade of
    bipartite power iteration. ``meta`` is written LAST so its
    ``_SUCCESS`` marker proves a complete publish."""
    import os

    edges = purchase_edges(orders, lineitem).persist()
    n_c = edges.select("c").distinct().count()
    n_p = edges.select("p").distinct().count()
    edges.repartition(8, "c").sortWithinPartitions("c").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "edges_by_c"))
    edges.repartition(8, "p").sortWithinPartitions("p").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "edges_by_p"))
    spark = edges.sparkSession
    spark.createDataFrame(
        [(n_c, n_p)], "n_c bigint, n_p bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "meta")
    )
    edges.unpersist()


def hits(
    edges: DataFrame,
    iters: int = 2,
    broadcast_nodes: int = 2_000_000,
    plan_hook=None,
    *,
    edges_by_p: DataFrame | None = None,
    n_c: int | None = None,
    n_p: int | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the BIPARTITE
    customer -> part purchase graph — the directed companion to the
    undirected-co-purchase ``pagerank``: authorities are the parts
    hub buyers concentrate on, hubs the customers whose baskets
    concentrate on authoritative parts. Classic mutual recursion,
    L2-normalized each half-step:

        auth(p) = sum over edges (c,p) of hub(c);   auth /= ||auth||2
        hub(c)  = sum over edges (c,p) of auth(p);  hub  /= ||hub||2

    Cross-engine determinism: every score is truncated to 12 dp
    (tie-free floor — the ``pagerank`` rule), every edge-sum and
    norm's sum-of-squares accumulates in DECIMAL(32,12) (exact, so
    accumulation order is irrelevant), and each L2 norm's sum of
    squares is observed on the half-step's own checkpoint — one
    scalar, no extra action.

    Scale shape: the edge list persists once and both half-step joins
    reuse it; score vectors are node-count-sized, so the
    per-iteration join BROADCASTS them under ``broadcast_nodes``
    (iterations become map-only over the cached edges + one groupBy)
    and falls back to a co-partitioned shuffle join above it. The
    half-steps run through ``session.iterate`` on ONE state frame
    (role, node, s, score): the role the last half-step computed
    holds raw sums ``s``, the other role its normalized ``score``.

    ``edges`` is the distinct (c, p) frame: ``purchase_edges(orders,
    lineitem)`` or its staged ``edges_by_c`` copy. ``edges_by_p``
    optionally supplies the p-oriented copy for the hub half-step
    (defaults to ``edges``); ``n_c``/``n_p`` carry the staged node
    counts so no count jobs run.

    Returns (role, node, score): role 'authority' for parts, 'hub'
    for customers, scores from the final iteration."""
    edges = edges.persist()
    edges_p = edges if edges_by_p is None else edges_by_p.persist()
    if n_c is None:
        n_c = edges.select("c").distinct().count()
    if n_p is None:
        n_p = edges.select("p").distinct().count()
    # broadcast decision sizes BOTH vectors that get broadcast: the
    # hub (customer-count) and authority (part-count) score frames —
    # sizing from customers alone under-estimated when parts dominate
    bcast = max(n_c, n_p) <= broadcast_nodes

    def normalized(state: DataFrame, role: str, seen) -> DataFrame:
        # the raw sums of ``role`` over their observed L2 norm (the
        # initial hub scores of 1.0 as they are)
        s = F.col("s")
        if seen is not None:
            s = _trunc12(s / F.sqrt(F.lit(seen["n2"])))
        rows = state.filter(F.col("role") == role)
        return rows.select("role", "node", s.alias("score"))

    def half_step(state: DataFrame, i: int, seen) -> DataFrame:
        # even rounds sum hub scores c -> p into authorities, odd rounds
        # authority scores p -> c into hubs: one plan, keys swapped
        src, dst, e, was, now = (
            ("c", "p", edges, "hub", "authority")
            if i % 2 == 0
            else ("p", "c", edges_p, "authority", "hub")
        )
        scores = normalized(state, was, seen)
        s_in = F.broadcast(scores) if bcast else scores
        raw = (
            e.join(s_in, e[src] == s_in["node"])
            .groupBy(dst)
            .agg(
                F.sum(F.col("score").cast("decimal(32,12)"))
                .cast("double")
                .alias("s")
            )
        )
        return scores.unionByName(
            raw.select(F.lit(now).alias("role"), F.col(dst).alias("node"), "s"),
            allowMissingColumns=True,
        )

    hubs = edges.select(
        F.lit("hub").alias("role"), F.col("c").alias("node"), F.lit(1.0).alias("s")
    ).distinct()
    n2 = F.sum(_trunc12(F.col("s") * F.col("s")).cast("decimal(32,12)"))
    state, seen, _ = iterate(
        hubs, half_step, 2 * iters, observe=[n2.cast("double").alias("n2")],
        plan_hook=plan_hook, stage="iteration",
    )
    edges.unpersist()
    if edges_p is not edges:
        edges_p.unpersist()
    return (
        state.filter(F.col("role") == "authority")
        .select("role", "node", "score")
        .unionByName(normalized(state, "hub", seen))
    )


def itemitem_cf(
    orders: DataFrame,
    lineitem: DataFrame,
    top: int = 20,
    max_basket: int = 64,
) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001): cosine
    similarity between parts over their binary customer-incidence
    vectors — cos(a,b) = |C_a ∩ C_b| / sqrt(|C_a|·|C_b|) — the
    "customers who bought this also bought" model build. Differs from
    ``link_prediction`` (anchored wedge Jaccard on the part-part
    projection): this scores the full model from the BIPARTITE
    incidence with the standard hot-user prune.

    Scale shape: candidate pairs come from a per-customer self-join of
    the distinct (customer, part) incidence (``purchase_edges``, the
    HITS edge list) — the blow-up is Σ
    basket², so customers with baskets over ``max_basket`` distinct
    parts are DROPPED FIRST (the Swing / item-CF power-user prune:
    a 10k-item basket contributes 1e8 pairs and ~zero signal; the cap
    makes the stage Σ min(basket, B)² — linear in customers). The
    basket-size filter, pair counts, and incidence counts are all
    map-side-combined groupBys; the top-``top`` is a TakeOrdered.
    Incidence counts |C_a| are computed AFTER the prune so the cosine
    is internally consistent.

    Exactness: counts are integers; the cosine is one shared double
    expression (6 dp); ties order by (common desc, part_a, part_b).

    Returns (part_a, part_b, common, n_a, n_b, cosine)."""
    inc = purchase_edges(orders, lineitem).select(
        F.col("c").alias("cust"), F.col("p").alias("part")
    )
    kept = (
        inc.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("basket"))
        .filter(F.col("basket") <= max_basket)
        .select("cust")
    )
    pruned = inc.join(kept, "cust").persist()
    n_per_part = pruned.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a, b = pruned.alias("a"), pruned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"),
            F.col("b.part").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    scored = (
        pairs.join(
            n_per_part.select(
                F.col("part").alias("part_a"), F.col("n").alias("n_a")
            ),
            "part_a",
        )
        .join(
            n_per_part.select(
                F.col("part").alias("part_b"), F.col("n").alias("n_b")
            ),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "common",
            "n_a",
            "n_b",
            F.round(
                F.col("common").cast("double")
                / F.sqrt(
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
    )
    out = scored.orderBy(
        F.desc("cosine"),
        F.desc("common"),
        F.asc("part_a"),
        F.asc("part_b"),
    ).limit(top)
    return out


def bfs_depths(
    lineitem: DataFrame,
    max_depth: int = 8,
    min_weight: int = 2,
    plan_hook=None,
) -> DataFrame:
    """Single-source BFS shortest-path depths over the repeated-
    co-purchase graph (``copurchase_edges(lineitem, min_weight)``),
    seeded at the minimum part id —
    the level-synchronous frontier expansion every distributed graph
    engine uses for unweighted shortest paths (Pregel's hello-world),
    here as plain DataFrame ops.

    Per level: ONE equi-join of the (small) frontier against the
    symmetric edge list on the node key, a distinct, and an anti-join
    against the visited set — no pairwise work, no path enumeration
    (walk-counting explodes combinatorially on dense graphs; the
    visited anti-join is what keeps each node expanded exactly once).
    The levels run through ``session.iterate`` (the kcore lineage
    lesson) and the loop early-exits on an empty level —
    ``max_depth`` bounds the diameter explored, so the DuckDB twin's
    fixed unroll reproduces the result exactly.

    Scale shape: visited grows to the reachable component, but every
    join is node-keyed (co-partitioned under AQE); the per-level
    frontier is broadcast when small. 100 TB of orders only densifies
    the edge build; the BFS itself is sized by the part catalog, not
    the fact table.

    Returns (part, depth), depth ∈ [0, max_depth], ordered by part."""
    edges = copurchase_edges(lineitem, min_weight).persist()
    seed = edges.agg(F.min("src").alias("s")).collect()[0]["s"]
    spark = lineitem.sparkSession
    if seed is None:
        edges.unpersist()
        return spark.createDataFrame([], "part bigint, depth int")
    visited, _ = _bfs_from(spark, edges, int(seed), max_depth, plan_hook)
    edges.unpersist()
    return visited.orderBy("part")


def _bfs_from(spark, edges, seed: int, max_depth: int, plan_hook=None):
    """The level-synchronous frontier loop from one seed over a
    persisted symmetric edge list — shared by ``bfs_depths`` and
    ``graph_diameter``'s double sweep. The state is ONE visited frame
    (part, depth); level d's frontier is its ``depth == d-1`` rows,
    and a level that adds no node stops the loop. Returns the visited
    frame and its observed ``n`` (size), ``ecc`` (deepest depth) and
    ``far`` (lowest part at that depth)."""
    # same gate as ranks_over_edges' broadcast_nodes: on a dense
    # connected graph the level-1/2 frontier approaches the whole node
    # set — broadcast it only while the visited set (its upper bound)
    # is provably small, else let the node-keyed shuffle join (AQE
    # co-partitioned) carry the level
    broadcast_frontier = 2_000_000

    def level(visited: DataFrame, i: int, seen) -> DataFrame:
        frontier = visited.filter(F.col("depth") == i).select("part")
        if seen is None or seen["n"] <= broadcast_frontier:
            frontier = F.broadcast(frontier)
        expand = (
            frontier
            .join(edges, frontier["part"] == edges["src"])
            .select(F.col("dst").cast("bigint").alias("part"))
            .distinct()
            .join(visited.select("part"), "part", "left_anti")
            .select("part", F.lit(i + 1).cast("int").alias("depth"))
        )
        return visited.unionByName(expand)

    d = F.col("depth")
    visited, seen, _ = iterate(
        spark.createDataFrame([(int(seed), 0)], "part bigint, depth int"),
        level, max_depth,
        observe=[
            F.count(F.lit(1)).alias("n"),
            F.max(d).alias("ecc"),
            F.min_by("part", F.struct(-d, F.col("part"))).alias("far"),
        ],
        until=lambda prev, seen: seen["n"] == (prev["n"] if prev else 1),
        plan_hook=plan_hook, stage="frontier",
    )
    return visited, seen or {"n": 1, "ecc": 0, "far": seed}


def graph_diameter(
    lineitem: DataFrame,
    max_depth: int = 8,
    min_weight: int = 2,
) -> DataFrame:
    """Double-sweep diameter LOWER BOUND of the repeated-co-purchase
    graph (Magnien, Latapy & Habib 2009: BFS from any node, then BFS
    from the farthest node found — the second eccentricity is a lower
    bound that is exact on trees and empirically tight on real
    graphs; an exact diameter is all-pairs and off the table at
    scale). The one-number "how stretched is this catalog's
    co-purchase structure" readout next to assortativity.

    Both sweeps reuse ONE persisted edge build
    (``copurchase_edges(lineitem, min_weight)``) and the shared
    ``_bfs_from`` frontier loop (broadcast-gated, per-level lineage
    truncation); driver traffic is one single-row pull (the seed),
    and each sweep's eccentricity and far node ride its last level's
    checkpoint as observed values. ``max_depth`` bounds both sweeps;
    depths are exact BFS levels within the reachable, depth-bounded
    ball.

    Returns one row (seed, ecc_seed, far_node, diameter_lb)."""
    edges = copurchase_edges(lineitem, min_weight).persist()
    spark = lineitem.sparkSession
    seed = edges.agg(F.min("src").alias("s")).collect()[0]["s"]
    if seed is None:
        edges.unpersist()
        return spark.createDataFrame(
            [], "seed bigint, ecc_seed int, far_node bigint,"
            " diameter_lb int"
        )
    _, s1 = _bfs_from(spark, edges, int(seed), max_depth)
    _, s2 = _bfs_from(spark, edges, int(s1["far"]), max_depth)
    edges.unpersist()
    return spark.createDataFrame(
        [(int(seed), int(s1["ecc"]), int(s1["far"]), int(s2["ecc"]))],
        "seed bigint, ecc_seed int, far_node bigint, diameter_lb int",
    )


def label_prop(
    lineitem: DataFrame,
    iters: int = 4,
    min_weight: int = 2,
    plan_hook=None,
) -> DataFrame:
    """Community labels by synchronous MIN-LABEL propagation over the
    repeated-co-purchase graph (the hash-min connected-components
    iteration of Rastogi et al. 2013 — the deterministic variant of
    label propagation: every node adopts the smallest label in its
    closed neighborhood each round, so after ``iters`` rounds each
    label has flooded its ``iters``-hop ball; run to fixpoint it IS
    weakly-connected components). Fixed ``iters`` keeps the DuckDB
    twin an exact unroll (the ``bfs_depths_sql`` pattern) and the
    result deterministic at any scale — no tie-break randomness
    anywhere, min() over bigint labels only.

    Scale shape: the edge build is ``copurchase_edges(lineitem,
    min_weight)`` (the one pass over the fact table); each round is ONE
    node-keyed equi-join (edges ⋈ labels, AQE co-partitioned), one
    min-groupBy, one left join — all keyed, no windows, no NLJs. The
    rounds are ``min_label_step`` through ``session.iterate`` (the
    kcore lineage lesson), so round k reads a stored frame, not a
    k-deep plan.

    Returns (part, community) for every node, community = the
    smallest node id the label wave has reached it from."""
    edges = copurchase_edges(lineitem, min_weight).persist()
    labels, _, _ = iterate(
        initial_labels(edges).localCheckpoint(),
        lambda labels, i, seen: min_label_step(edges, labels), iters,
        plan_hook=plan_hook, stage="round",
    )
    edges.unpersist()
    return labels.select(
        F.col("node").cast("bigint").alias("part"),
        F.col("label").cast("bigint").alias("community"),
    ).orderBy("part")


def initial_labels(edges: DataFrame) -> DataFrame:
    """Each node of (src, dst) labelled with its own id: (node, label)."""
    nodes = edges.select(F.col("src").alias("node")).distinct()
    return nodes.select("node", F.col("node").alias("label"))


def min_label_step(
    edges: DataFrame, labels: DataFrame, jump: bool = False
) -> DataFrame:
    """One synchronous min-label round over a symmetric (src, dst)
    edge list: every node of ``labels`` (node, label) takes the least
    label in its closed neighborhood. With ``jump`` each label is then
    chased one hop through the same map (pointer jumping: a label is a
    member node's id), doubling the propagation distance per round;
    the self-join doubles the plan per round unless each round is
    checkpointed (``session.iterate``). Returns (node, label, _was),
    ``_was`` the label before the round."""
    nbr = (
        edges.join(
            labels.select(
                F.col("node").alias("dst"), F.col("label").alias("_nl")
            ),
            "dst",
        )
        .groupBy("src")
        .agg(F.min("_nl").alias("_m"))
    )
    out = labels.join(nbr, labels["node"] == nbr["src"], "left").select(
        "node",
        F.least(
            F.col("label"), F.coalesce(F.col("_m"), F.col("label"))
        ).alias("label"),
        F.col("label").alias("_was"),
    )
    if not jump:
        return out
    return (
        out.alias("a")
        .join(out.alias("b"), F.col("a.label") == F.col("b.node"), "left")
        .select(
            F.col("a.node").alias("node"),
            F.least(
                F.col("a.label"),
                F.coalesce(F.col("b.label"), F.col("a.label")),
            ).alias("label"),
            F.col("a._was").alias("_was"),
        )
    )


def assortativity(lineitem: DataFrame, min_weight: int = 2) -> DataFrame:
    """Degree assortativity of the repeated-co-purchase graph (Newman
    2002): the Pearson correlation of (deg(src), deg(dst)) over the
    symmetric edge list — positive means hubs link to hubs (a core-
    periphery catalog), negative means hubs fan out to leaves; the
    one-number structure summary next to kcore/triangle_count. Edges:
    ``copurchase_edges(lineitem, min_weight)``.

    Exactness: the five sufficient statistics (M, Σx, Σxy, Σx², Σy²)
    are integer sums over edges (degrees are counts), aggregated in
    ONE map-side-combined pass; the correlation assembles them as
    doubles — products are taken AFTER the cast (M·Σx² at 100 TB edge
    counts would overflow int64; the double product is deterministic
    IEEE on both engines). The degree lookup is edges ⋈ degrees twice
    on the node key — the degree frame is node-catalog-sized, AQE
    broadcasts it when it fits.

    On a symmetric edge list Σx = Σy and Σx² = Σy² by construction —
    both are still computed (and emitted) independently as a built-in
    consistency check.

    Returns one row (m_edges, s_x, s_xy, assortativity) — the exact
    sums plus the 6-dp correlation."""
    # persist: the edge list feeds the degree agg AND both lookup
    # joins, and deg itself is probed twice — without the caches the
    # dominant-cost edge build would run once per consumer (the
    # pagerank/kcore discipline; measured 22 -> ~8 distinct exchanges)
    edges = copurchase_edges(lineitem, min_weight).persist()
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).persist()
    labeled = (
        edges.join(deg, "src")
        .withColumnRenamed("deg", "dx")
        .join(deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy")), "dst")
    )
    sums = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("s_x"),
        F.sum("dy").cast("bigint").alias("s_y"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("s_xy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("s_xx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("s_yy"),
    ).localCheckpoint()  # eager 1-row materialize, then release caches
    edges.unpersist()
    deg.unpersist()
    m = F.col("m").cast("double")
    num = m * F.col("s_xy").cast("double") - F.col("s_x").cast("double") * F.col(
        "s_y"
    ).cast("double")
    den_x = m * F.col("s_xx").cast("double") - F.col("s_x").cast("double") * F.col(
        "s_x"
    ).cast("double")
    den_y = m * F.col("s_yy").cast("double") - F.col("s_y").cast("double") * F.col(
        "s_y"
    ).cast("double")
    return sums.select(
        F.col("m").alias("m_edges"),
        "s_x",
        "s_xy",
        (F.round(num / F.sqrt(den_x * den_y), 6) + F.lit(0.0)).alias(
            "assortativity"
        ),
    )


def clustering_coeff(lineitem: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the co-purchase
    graph: c_v = 2·T_v / (deg_v·(deg_v − 1)) — how close each node's
    neighborhood is to a clique (Watts & Strogatz 1998), the
    node-level refinement of triangle_count's global signal.

    Reuses the oriented-intersection triangle enumeration AND its
    degree frame in one pass (``triangle_counts(with_degrees=True)``
    — O(m^1.5), never a wedge shuffle, no second edge build); nodes
    with degree < 2 have no defined coefficient and are dropped, nodes
    in no triangle coalesce to 0. Exact integers until the single
    division.

    Returns (node, n_tri, degree, coeff) — coeff 6-dp, ordered by
    node."""
    td = triangle_counts(lineitem, with_degrees=True)
    return td.select(
        "node",
        "n_tri",
        "degree",
        F.round(
            (F.col("n_tri") * 2).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            6,
        ).alias("coeff"),
    ).orderBy("node")


def ppr(
    lineitem: DataFrame,
    seed_mod: int = 50,
    iters: int = 3,
    broadcast_nodes: int = 2_000_000,
    plan_hook=None,
) -> DataFrame:
    """Personalized PageRank over the co-purchase graph: the teleport
    restarts at the deterministic seed set (part % ``seed_mod`` == 0)
    instead of everywhere — "importance as seen FROM these parts",
    the standard related-items / seeded-recommendation ranker
    (Haveliwala 2002). Same damped power iteration, broadcast rank
    vector and lineage-truncation discipline as ``pagerank``."""
    return ranks_over_edges(
        copurchase_edges(lineitem),
        iters,
        broadcast_nodes,
        plan_hook,
        seed_mod=seed_mod,
    )
