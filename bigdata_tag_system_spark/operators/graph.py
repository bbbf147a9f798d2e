"""Graph analytics over edge-list DataFrames.

Connected components (duplicate clustering) lives in ``operators.dedup``
— it is star-contraction, specialized for the dedup pipeline. This
module holds the general iterative-propagation shape: weighted PageRank
by power iteration, the importance measure behind domain-authority
weighting in web-corpus curation (rank a domain/citation graph, weight
or filter documents by their source's rank).

Scale shape: ranks and messages are (node, double) relations keyed by
node — every iteration is one join + one aggregate reusing that key
partitioning; the edge list is never mutated. Lineage is truncated
every few rounds with ``localCheckpoint`` so the plan depth stays
bounded no matter the iteration count (same discipline as the CC
rounds in ``dedup``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Weighted PageRank by fixed-count power iteration:
    ``r'(v) = (1-d)/N + d · Σ_{u→v} r(u) · w(u,v) / out(u)``.

    Fixed iteration count (not convergence-tested) keeps the result a
    pure function of the inputs — independently recomputable by an
    oracle, and deterministic across runs. Unweighted edges
    (``weight=None``) use weight 1. Nodes are the union of both
    endpoint sets; dangling nodes (no out-edges) simply contribute
    nothing — the standard simplification; redistribute mass upstream
    if your graph needs it. Every arithmetic step is plain double
    math in a fixed association order, so independent engines agree to
    ~1e-14 relative.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    e = edges.select(
        F.col(src).alias("_u"), F.col(dst).alias("_v"), w.alias("_w"))
    out_tot = e.groupBy("_u").agg(F.sum("_w").alias("_out"))
    # LAZY-checkpoint the two loop-invariant relations so every round
    # references a truncated leaf instead of the full scan→agg→join
    # subtree. Without this, round k's ranks plan embeds k copies of
    # the edge derivation: the r13 baseline plan held 100 parquet scans
    # and analysis alone cost ~4s of the query's 4.4s (ReusedExchange
    # dedupes the EXECUTION, but the driver still re-analyzes the
    # growing tree on every transformation). eager=False keeps the
    # whole query one job — the checkpoints materialize inside the
    # final action (an earlier EAGER checkpoint + repartition + persist
    # variant measured 18% slower from the extra per-relation jobs).
    # §5 SIZE POLICY (r14): this relation is O(|E|) — terabytes at
    # 100 TB — so it goes through loop_invariant_leaf: RELIABLE
    # checkpoint whenever the cluster configures a checkpoint dir,
    # executor-local blocks only in local/bench sessions (see
    # bigdata_tag_system_spark/checkpoint.py for the full policy).
    from bigdata_tag_system_spark.checkpoint import loop_invariant_leaf

    e = loop_invariant_leaf(e.join(out_tot, "_u").select(
        "_u", "_v", (F.col("_w") / F.col("_out")).alias("_p"),
    ))
    nodes = (
        e.select(F.col("_u").alias("node"))
        .union(e.select(F.col("_v").alias("node")))
        .distinct()
    )
    n_row = nodes.agg(F.count(F.lit(1)).alias("_n"))
    nodes = nodes.crossJoin(F.broadcast(n_row)).localCheckpoint(eager=False)
    ranks = nodes.selectExpr("node", "_n", "1.0D / _n AS rank")
    # Render each checkpoint segment of the power iteration as ONE
    # parsed SQL statement (a CTE chain) instead of ~40 Column-API
    # calls per round: every Column operation is a py4j round-trip
    # (~0.5-1 ms driver-blocked each; the r14 cProfile put 1.8 s of
    # this query's 1.9 s build in socket.recv_into over 2,438
    # round-trips). The CTE bodies are verbatim transcriptions of the
    # old per-round joins/aggregates — double literals rendered via
    # repr() with the D suffix so the embedded constants are
    # bit-identical to the former F.lit(1.0 - damping) Python floats —
    # so the analyzed plan, the arithmetic association order, and the
    # results are unchanged; only the number of driver RPCs drops.
    spark = edges.sparkSession
    base_lit = f"{1.0 - damping!r}D"
    d_lit = f"{float(damping)!r}D"
    left = iterations
    while left > 0:
        k = min(checkpoint_every, left)
        ctes = ["r0 AS (SELECT node, _n, rank FROM {ranks})"]
        for i in range(1, k + 1):
            ctes.append(
                f"c{i} AS (SELECT e._v AS node, "
                f"sum(r.rank * e._p) AS _c "
                f"FROM r{i - 1} r JOIN {{e}} e ON r.node = e._u "
                f"GROUP BY e._v)")
            ctes.append(
                f"r{i} AS (SELECT n.node, n._n, "
                f"({base_lit} / n._n) + {d_lit} * "
                f"coalesce(c._c, 0.0D) AS rank "
                f"FROM {{nodes}} n LEFT JOIN c{i} c ON n.node = c.node)")
        ranks = spark.sql(
            "WITH " + ", ".join(ctes) +
            f" SELECT node, _n, rank FROM r{k}",
            ranks=ranks, nodes=nodes, e=e)
        left -= k
        if left > 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def pagerank_literal(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 10,
    damping: float = 0.85,
    max_edges: int = 100_000,
) -> DataFrame:
    """:func:`pagerank` for DIMENSION-BOUNDED graphs, solved on the
    driver and shipped back as a literal plan — the
    ``events_markov_attribution`` convention: when the graph is bounded
    by a small dimension (|event types|² transition edges, a category
    taxonomy, a channel graph), the distributed power iteration's cost
    is pure job-scheduling floor (measured ~4-5 s for 10 rounds at any
    SF: ~37 jobs of microseconds of math each), while collecting the
    edge list is O(K²) and the solve is microseconds of driver
    arithmetic. Identical math to :func:`pagerank` — same damping
    form, dangling-node handling, and double association (sorted-key
    accumulation lands within 1e-14 of the distributed sum, inside the
    6-dp rounding every consumer applies).

    LOUD on unbounded inputs: raises if the edge list exceeds
    ``max_edges`` rather than silently materializing a fact-sized
    relation on the driver — for unbounded graphs use :func:`pagerank`,
    which this fast path complements, never replaces.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    cols = [F.col(src).alias("_u"), F.col(dst).alias("_v"),
            (F.col(weight).cast("double") if weight is not None
             else F.lit(1.0)).alias("_w")]
    rows = edges.select(*cols).limit(max_edges + 1).collect()
    if len(rows) > max_edges:
        raise ValueError(
            f"edge list exceeds max_edges={max_edges}: this literal "
            f"solve is for dimension-bounded graphs only — use "
            f"pagerank() for fact-sized edge lists")
    from collections import defaultdict

    out_tot: dict = defaultdict(float)
    w_uv: dict = defaultdict(float)
    node_set = set()
    for r in rows:
        out_tot[r["_u"]] += r["_w"]
        w_uv[(r["_u"], r["_v"])] += r["_w"]
        node_set.add(r["_u"])
        node_set.add(r["_v"])
    nodes = sorted(node_set)
    n = len(nodes)
    spark = edges.sparkSession
    if n == 0:
        return spark.createDataFrame([], "node string, rank double")
    p = {(u, v): w / out_tot[u] for (u, v), w in sorted(w_uv.items())}
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib: dict = defaultdict(float)
        for (u, v), pr in sorted(p.items()):
            contrib[v] += rank[u] * pr
        rank = {v: base + damping * contrib.get(v, 0.0) for v in nodes}
    out = [F.struct(F.lit(v).alias("node"),
                    F.lit(rank[v]).alias("rank")) for v in nodes]
    return (spark.range(1)
            .select(F.explode(F.array(*out)).alias("s"))
            .select("s.node", "s.rank"))


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Dedup to the undirected canonical edge set (_a < _b, no loops)."""
    return (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(F.least("_a", "_b").alias("_a"),
                F.greatest("_a", "_b").alias("_b"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(_n, _d) degrees over a canonical undirected edge set."""
    return (
        e.select(F.col("_a").alias("_n"))
        .unionAll(e.select(F.col("_b").alias("_n")))
        .groupBy("_n").agg(F.count(F.lit(1)).alias("_d"))
    )


def _oriented_triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """One row per triangle (u, x, y) over canonical edges ``e``:
    u is the wedge apex under (degree, id) orientation, x < y the
    closing edge. Each triangle appears EXACTLY once (its apex is
    unique), so downstream consumers may count or explode freely."""
    da = deg.select(F.col("_n").alias("_a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("_n").alias("_b"), F.col("_d").alias("_db"))
    ranked = e.join(da, "_a").join(db, "_b")
    # orient low rank → high rank; (degree, id) is a total order
    fwd = ranked.select(
        F.when((F.col("_da") < F.col("_db"))
               | ((F.col("_da") == F.col("_db"))
                  & (F.col("_a") < F.col("_b"))),
               F.struct(F.col("_a").alias("u"), F.col("_b").alias("v")))
        .otherwise(
            F.struct(F.col("_b").alias("u"), F.col("_a").alias("v")))
        .alias("_e")
    ).select("_e.u", "_e.v")
    w1 = fwd.select(F.col("u"), F.col("v").alias("x"))
    w2 = fwd.select(F.col("u"), F.col("v").alias("y"))
    wedges = (w1.join(w2, "u")
              .where(F.col("x") < F.col("y")))
    closing = fwd.unionAll(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # a wedge (x,y) closes iff the undirected edge {x,y} exists; the
    # closing set carries both directions so the semi join needs no
    # least/greatest re-canonicalization
    return wedges.join(
        closing.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"], "left_semi").select("u", "x", "y")


def enumerate_triangles(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Materializable triangle census: one (u, x, y) row per triangle,
    degree-ordered orientation (see :func:`triangle_count` for the
    O(√|E|) wedge bound). This is the relation `graph_triangles` and
    `graph_edge_jaccard` SHARE — enumerate once, let every consumer
    count / explode its own view (r7 VERDICT Next #4)."""
    e = _canonical_edges(edges, src, dst)
    return _oriented_triangles(e, _degrees(e))


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    persist_edges: bool = False,
    triangles: DataFrame | None = None,
) -> DataFrame:
    """Global triangle count by degree-ordered edge orientation — the
    MapReduce-classic formulation (Suri & Vassilvitskii, WWW'11).

    Every undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, which turns the triangle into exactly
    one wedge (u→v, u→w with rank(v) < rank(w)) plus one closing edge
    (v→w). Counting is then two hash joins on oriented edges: the wedge
    self-join fans out ~Σ d_out(u)², and because orientation caps
    d_out(u) at O(√|E|) for ANY degree distribution, a celebrity node
    with 10M neighbors contributes √-bounded wedges instead of 10M² —
    the property that makes this safe on power-law graphs at 100 TB.
    Returns one row: (n_nodes, n_edges, n_triangles).

    ``triangles``: a precomputed :func:`enumerate_triangles` relation
    (e.g. materialized once and shared with edge_common_neighbors);
    when given, only the cheap node/edge counts are recomputed here.
    """
    # the canonical edge set feeds several plan branches; measured at
    # the test scale, Spark's exchange reuse already dedupes them and
    # an unconditional persist is NET NEGATIVE (1.58 s -> 1.82 s on the
    # co-purchase census) — so caching is opt-in for callers whose edge
    # BUILD is expensive (a wide fact self-join that exchange reuse
    # cannot cover because the consumers need different keys)
    e = _canonical_edges(edges, src, dst)
    if persist_edges:
        from pyspark import StorageLevel

        e = e.persist(StorageLevel.MEMORY_AND_DISK)
    deg = _degrees(e)
    tri = triangles if triangles is not None else _oriented_triangles(e, deg)
    counts = e.agg(
        F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))).crossJoin(
        F.broadcast(tri.agg(F.count(F.lit(1)).alias("n_triangles"))))
    return counts.select("n_nodes", "n_edges", "n_triangles")


def resolve_hierarchy(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_rounds: int = 64,
) -> DataFrame:
    """Resolve every node of a forest to its root and depth by pointer
    doubling — the O(log depth) substitute for the recursive CTE Spark
    does not have.

    Each round rewrites every node's ancestor pointer to its ancestor's
    ancestor and adds the distances, so the resolved depth doubles per
    round: a 1M-deep chain (pathological BOM) needs ~20 rounds, not 1M
    self-joins. Roots (parents that never appear as children) map to
    themselves at distance 0, which makes resolved pointers idempotent
    — the fixed point is simply "every pointer targets a root".
    Lineage is truncated per round (localCheckpoint) like the CC and
    PageRank loops. Cycles never reach the fixed point and raise after
    ``max_rounds`` — a forest is a precondition, not an assumption.
    Returns (node, root, depth).
    """
    # e feeds roots (twice) and the pointer base; roots feeds the base
    # and the per-round convergence probe — lazy-checkpoint both so the
    # edge derivation and the root anti-join are computed once, not
    # re-executed inside every round's probe job.
    # §5 SIZE POLICY (r14): e is edge-sized (one row per child) →
    # loop_invariant_leaf; roots is the root set — forest-root-sized,
    # plain localCheckpoint (bigdata_tag_system_spark/checkpoint.py).
    from bigdata_tag_system_spark.checkpoint import loop_invariant_leaf

    e = loop_invariant_leaf(edges.select(
        F.col(child).alias("_n"), F.col(parent).alias("_a"),
    ))
    roots = (
        e.select(F.col("_a").alias("_n")).distinct()
        .join(e.select("_n").distinct(), "_n", "left_anti")
    ).localCheckpoint(eager=False)
    m = e.select("_n", "_a", F.lit(1).cast("long").alias("_d")).unionByName(
        roots.select("_n", F.col("_n").alias("_a"),
                     F.lit(0).cast("long").alias("_d")))
    root_set = roots.select(F.col("_n").alias("_r"))
    # each doubling round is rendered as ONE parsed SQL statement (r14,
    # guide §5): the Column-API self-join paid ~100 py4j round-trips
    # per round; the SQL transcribes the former hop join verbatim
    # (same join condition, same distance sum), so the analyzed plan
    # and the resolved (root, depth) values are unchanged. The second
    # reference of m goes through fresh_ids (see functions/sqlrender).
    from bigdata_tag_system_spark.functions.sqlrender import fresh_ids

    spark = edges.sparkSession
    hop_sql = """
        SELECT m._n AS _n, h._ha AS _a, m._d + h._hd AS _d
        FROM {m} m JOIN (SELECT _n AS _h, _a AS _ha, _d AS _hd
                         FROM {m2}) h
        ON m._a = h._h
    """
    for _ in range(max_rounds):
        pending = (
            m.join(root_set, m._a == F.col("_r"), "left_anti")
            .limit(1).count())
        if pending == 0:
            return m.select(F.col("_n").alias("node"),
                            F.col("_a").alias("root"),
                            F.col("_d").alias("depth"))
        m = spark.sql(hop_sql, m=m, m2=fresh_ids(m)) \
            .localCheckpoint(eager=False)
    raise RuntimeError(
        f"hierarchy did not resolve in {max_rounds} pointer-doubling "
        f"rounds — a cycle in the parent edges, or depth > 2^{max_rounds}")


def bfs_depths(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """Single-source shortest hop counts over an undirected edge list
    by frontier expansion — O(diameter) rounds, each one join + one
    anti-join on the node key.

    Every round expands the current frontier through the (symmetrized)
    edges, drops already-visited nodes, and folds the rest into the
    visited set at depth+1. The loop stops when a frontier comes back
    empty — for a connected component that is its eccentricity, not
    |V|; ``max_rounds`` bounds adversarial diameters (a path graph) and
    raises rather than silently truncating. Frontiers are
    localCheckpoint-ed so plan depth stays O(1) per round. Returns
    (node, depth) for the source's component only.
    """
    from pyspark.storagelevel import StorageLevel

    sym = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    # Materialize the symmetrized edge list ONCE, pre-partitioned on
    # the expansion key: every round joins it, and without the persist
    # each round's job re-executes the caller's edge build (often a
    # fact-table self-join) from scratch. Rounds then exchange only
    # the frontier — the small side by construction.
    # The partition COUNT is derived from the relation's size, not the
    # core count (guide §2, r14): every round schedules one map task
    # per partition of this persisted relation, and at bench scale 32
    # sub-MB tasks per round cost more scheduling than compute
    # (measured 2.51 → 1.95 s at the derived count; partitioning.py).
    sym = sym.unionAll(sym.select(F.col("_v").alias("_u"),
                                  F.col("_u").alias("_v")))
    from bigdata_tag_system_spark.partitioning import sized_partitions

    n_parts = sized_partitions(sym)
    sym = (sym.repartition(n_parts, "_u") if n_parts
           else sym.repartition("_u")).persist(StorageLevel.MEMORY_AND_DISK)
    visited = (
        sym.sparkSession.createDataFrame([(source, 0)], ["node", "depth"])
        .localCheckpoint(eager=False))
    frontier = visited.select("node")
    try:
        for d in range(1, max_rounds + 1):
            nxt = (
                frontier.join(sym, frontier.node == sym._u)
                .select(F.col("_v").alias("node")).distinct()
                .join(visited, "node", "left_anti")
                .localCheckpoint(eager=False)
            )
            if nxt.limit(1).count() == 0:
                # eager checkpoint detaches the result from the cached
                # edges so the unpersist in `finally` can't force a
                # recompute of the caller's edge build
                return visited.localCheckpoint(eager=True)
            visited = visited.unionByName(
                nxt.select("node", F.lit(d).alias("depth"))
            ).localCheckpoint(eager=False)
            frontier = nxt
        raise RuntimeError(
            f"BFS frontier still non-empty after {max_rounds} rounds — "
            f"raise max_rounds for graphs with diameter > {max_rounds}")
    finally:
        sym.unpersist()


def _peel_removed(live: DataFrame, removed: DataFrame,
                  force_broadcast: bool) -> DataFrame:
    """One peel step: drop edges touching ``removed`` vertices on either
    end. ``force_broadcast=True`` pins both anti joins to broadcast
    (right for the geometrically-shrinking later rounds); ``False``
    leaves the strategy to the planner/AQE (right when the removal set
    is a large fraction of the graph — round one of a power-law graph
    under any realistic k removes MOST vertices, and a forced broadcast
    ignores autoBroadcastJoinThreshold, collecting that majority to the
    driver and shipping it to every executor)."""
    r = F.broadcast(removed) if force_broadcast else removed
    return (
        live.join(r, "_u", "left_anti")
        .join(r.select(F.col("_u").alias("_v")), "_v", "left_anti")
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
    broadcast_removal_limit: int = 1_000_000,
) -> DataFrame:
    """The k-core of an undirected graph — the maximal subgraph where
    every vertex keeps degree ≥ k — by iterative peeling (Matula &
    Beck): drop all vertices under degree k, recompute degrees on the
    induced subgraph, repeat to fixpoint. The standard coreness signal
    for curating dedup/link graphs (a high-k core of near-identical
    documents is boilerplate; a 1-core-only vertex is a leaf).

    Scale shape: the symmetrized distinct edge list is persisted
    pre-partitioned on the vertex key once; each round is one
    map-side-combinable degree count (zero Exchange — the layout
    survives the joins) plus two anti joins against the set of vertices
    removed THIS round. The removal set shrinks geometrically AFTER the
    first round, so later rounds force a broadcast of a few ids — but
    round ONE of a power-law graph removes most of the graph at once,
    and a forced broadcast there collects that majority to the driver
    (ignoring autoBroadcastJoinThreshold): any round whose removal
    count exceeds ``broadcast_removal_limit`` therefore falls back to a
    planner-chosen (shuffle) anti join instead (r5 review finding).
    The semi-join-on-survivors formulation was rejected earlier for
    re-exchanging every surviving edge by ``_v`` each round.
    Convergence = no vertex removed (one scalar action per
    round, the same driver-loop contract as BFS/PageRank).
    ``max_rounds`` raises rather than silently truncating (a path graph
    peels one layer per round under k=2). Returns (node, degree) of
    the k-core, degree measured INSIDE the core.
    """
    from pyspark.storagelevel import StorageLevel

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    canon = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")) \
        .where(F.col("_u") != F.col("_v"))
    sym = canon.unionAll(
        canon.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    ).distinct()
    # size-derived partition count for the persisted peel relation —
    # every round's degree aggregate maps over these partitions, and
    # one per core at bench scale is pure scheduling floor (guide §2;
    # measured 1.44 → 1.12 s; see partitioning.py)
    from bigdata_tag_system_spark.partitioning import sized_partitions

    n_parts = sized_partitions(sym)
    sym = sym.repartition(n_parts, "_u") if n_parts else sym.repartition("_u")
    live = sym.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_prev = None
        prev_live = None
        for _ in range(max_rounds):
            deg = live.groupBy("_u").agg(F.count(F.lit(1)).alias("degree"))
            # this EAGER checkpoint is the materialization job of the
            # round: it computes `live` (the previous round's
            # anti-join) into its persist and aggregates degrees in the
            # same pass — only now is the previous round's input safe
            # to drop. r13 tried fusing it lazily into the decision
            # collect below (one job per round instead of two); that
            # was consistently SLOWER in every r13 dataset (quiet
            # 2.15→3.06 s, driver 3.34→3.93, 8-core 4.32 — VERDICT r13
            # "regression adjudication"), so r14 reverts to eager: the
            # decision aggregate then runs over the tiny materialized
            # degree table instead of carrying the full peel lineage.
            # (§5 size policy: deg is one row per surviving node —
            # bounded by |V|, never |E|; localCheckpoint is safe.)
            deg = deg.localCheckpoint(eager=True)
            if prev_live is not None:
                prev_live.unpersist()
                prev_live = None
            keep = deg.where(F.col("degree") >= k)
            # ONE action per decision: (surviving, removed) in a single
            # aggregate over the checkpointed degrees — two .count()
            # jobs per round double the per-round scheduling cost that
            # dominates this operator at small SFs
            [(n, n_removed)] = deg.agg(
                F.sum(F.when(F.col("degree") >= k, 1).otherwise(0)),
                F.sum(F.when(F.col("degree") < k, 1).otherwise(0)),
            ).collect()
            n, n_removed = int(n or 0), int(n_removed or 0)
            if n == n_prev or n == 0:
                return keep.select(F.col("_u").alias("node"), "degree")
            n_prev = n
            removed = deg.where(F.col("degree") < k).select("_u")
            nxt = (
                _peel_removed(
                    live, removed,
                    force_broadcast=n_removed <= broadcast_removal_limit)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # no materializing count here: the next round's eager deg
            # checkpoint computes nxt into its persist in the same job,
            # and `live` stays persisted until then (dropped above) —
            # one scheduled job per round instead of three
            prev_live = live
            live = nxt
        raise RuntimeError(
            f"k-core peeling did not converge in {max_rounds} rounds — "
            f"raise max_rounds for deep degeneracy orderings")
    finally:
        live.unpersist()
        if prev_live is not None:
            prev_live.unpersist()


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities: ``rounds`` fixed
    iterations, every node adopts the most frequent label among its
    neighbors, ties break to the SMALLEST label.

    Fully deterministic by construction (synchronous update + total
    tie order), which is what makes the result oracle-checkable — a
    SQL engine can unroll the same ``rounds`` as CTEs and reproduce
    the assignment byte-for-byte. The classic LPA caveat applies and
    is deliberate: synchronous updates can oscillate on bipartite
    structures, so this is a FIXED-BUDGET community sketch (the
    standard corpus-curation use: group near-duplicate domains /
    co-purchase clusters for sampling weights), not a convergence
    claim. Production runs pick rounds ~3-5; more rounds only sharpen
    already-dense communities.

    Scale shape: per round, ONE shuffle join (labels onto the
    symmetric edge list, key = node) + one two-level aggregate; the
    edge list is computed once, persisted, and never mutated. Labels
    are (node, long) — the narrow relation the 100 TB path wants.
    Self-loops dropped; multi-edges collapse (unweighted votes).
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a") != F.col("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull())
         .distinct())
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.persist()
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("lbl", F.col("node")))
    try:
        for _ in range(int(rounds)):
            votes = (
                sym.join(labels.withColumnRenamed("node", "b"), "b")
                .groupBy(F.col("a").alias("node"), "lbl")
                .agg(F.count(F.lit(1)).alias("_c")))
            labels = (
                votes.groupBy("node")
                .agg(F.max(F.struct(F.col("_c"),
                                    (-F.col("lbl")).alias("_neg")))
                     .alias("_w"))
                .select("node", (-F.col("_w._neg")).alias("lbl"))
                .localCheckpoint(eager=False))
        return labels.select("node", F.col("lbl").alias("label"))
    finally:
        sym.unpersist()


def edge_common_neighbors(
    edges: DataFrame,
    top_n: int = 100,
    src: str = "src",
    dst: str = "dst",
    triangles: DataFrame | None = None,
) -> DataFrame:
    """Per-edge common-neighbor count and Jaccard link strength — the
    classic link-prediction / community-strength feature (an edge whose
    endpoints share many neighbors is intra-community; one with none is
    a bridge).

    common(a,b) is exactly the number of triangles containing edge
    {a,b}, so it is computed the hub-safe way: degree-ordered
    orientation (see :func:`triangle_count` — wedge fan-out is
    O(√|E|)-bounded per node on ANY degree distribution), each closed
    wedge credited to its three edges. The naive per-edge neighborhood
    intersection join fans out Σ_edges min(d_a, d_b) — a power-law
    killer this formulation avoids. jaccard_bp = 10000·c/(d_a+d_b−c),
    integer basis points (degrees over the deduped undirected edge
    set). Returns the ``top_n`` strongest edges by
    (common desc, id_a, id_b) — a bounded TakeOrdered, no global sort.

    ``triangles``: a precomputed :func:`enumerate_triangles` relation
    shared with triangle_count; when given, only degrees and the
    per-edge credit aggregation run here.
    """
    e = _canonical_edges(edges, src, dst)
    # deg feeds both endpoint joins (and the wedge orientation when
    # triangles are derived here). NOT checkpointed: r13 lazy-
    # checkpointed it, which regressed the query ~15-30% (quiet
    # 2.13→2.80 s — VERDICT r13) because ReusedExchange already
    # dedupes the degree shuffle across consumers; the checkpoint only
    # added a serialize+store of the degree table on top.
    deg = _degrees(e)
    tri = triangles if triangles is not None else _oriented_triangles(e, deg)
    # credit each triangle (u, x, y) to its three canonical edges
    te = tri.select(F.explode(F.array(
        F.struct(F.least("u", "x").alias("a"),
                 F.greatest("u", "x").alias("b")),
        F.struct(F.least("u", "y").alias("a"),
                 F.greatest("u", "y").alias("b")),
        F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
    )).alias("_t")).select("_t.a", "_t.b")
    counts = te.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"))
    out = (
        counts
        .join(deg.select(F.col("_n").alias("a"),
                         F.col("_d").alias("deg_a")), "a")
        .join(deg.select(F.col("_n").alias("b"),
                         F.col("_d").alias("deg_b")), "b")
        .select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b"),
            "common_neighbors", "deg_a", "deg_b",
            F.expr("(common_neighbors * 10000) DIV "
                   "(deg_a + deg_b - common_neighbors)")
            .alias("jaccard_bp")))
    return out.orderBy(
        F.col("common_neighbors").desc(), "id_a", "id_b").limit(int(top_n))


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity of an undirected graph — the Pearson
    correlation of endpoint degrees over edges (Newman 2002, simplified
    to RAW degree rather than excess degree; the convention is
    documented because the oracle replays it literally). r > 0: hubs
    link to hubs (social nets); r < 0: hubs link to leaves
    (hub-and-spoke catalogs, most co-purchase graphs).

    Every moment is an EXACT decimal(38,0) sum over the symmetric edge
    list (each
    undirected edge contributes both (dᵃ,dᵇ) and (dᵇ,dᵃ), making the
    two marginals identical, so only Sx/Sxx/Sxy are needed) — one
    degree aggregation, two degree joins, one 1-row aggregate; the
    single float division happens once at the end. Returns one row:
    (n_nodes, n_edges, assortativity).
    """
    # e feeds the degree agg, the endpoint join and the edge count;
    # deg feeds both join sides and the node count — lazy-checkpoint
    # each so the canonical-edge distinct and the degree shuffle run
    # once instead of per consumer (one job either way; the r13
    # baseline plan re-derived the edge scan 26 times).
    # §5 SIZE POLICY (r14): e is O(|E|) — it goes through
    # loop_invariant_leaf (reliable checkpoint when the cluster
    # configures a dir, local blocks in bench mode); deg is O(|V|)
    # degree rows — dimension-sized, plain localCheckpoint
    # (see bigdata_tag_system_spark/checkpoint.py).
    from bigdata_tag_system_spark.checkpoint import loop_invariant_leaf

    e = loop_invariant_leaf(_canonical_edges(edges, src, dst))
    deg = _degrees(e).localCheckpoint(eager=False)
    # ONE pass computes the symmetric moments (r14, guide §2.4): the
    # former shape materialized the joined pair relation ed to feed a
    # symmetrizing unionAll — a checkpoint job plus a double read —
    # but each (da, db) edge row contributes BOTH orientations, so the
    # union folds into the aggregate algebraically: n = 2·count,
    # sx = Σ(da+db), sxx = Σ(da²+db²), sxy = 2·Σ(da·db). Every term is
    # exact decimal integer arithmetic, so the folded sums are
    # VALUE-IDENTICAL to the unioned ones (no float association-order
    # caveat; oracle replays the literal formula and agrees).
    # Moments widen to decimal(38,0) BEFORE the cross products and
    # before the doubling of n and sxy: on very large graphs n·sxy and
    # sx² overflow int64 and non-ANSI Spark wraps silently while the
    # DuckDB oracle's checked BIGINT errors — decimal keeps both sides
    # exact (the neyman_allocation discipline).
    # The endpoint-degree join is rendered as parsed SQL (guide §5);
    # deg's second reference goes through fresh_ids.
    from bigdata_tag_system_spark.functions.sqlrender import fresh_ids

    spark = edges.sparkSession
    ed = spark.sql(
        """
        SELECT e._a, e._b, da._da, db._db
        FROM {e} e
        JOIN (SELECT _n AS _a, _d AS _da FROM {deg1}) da USING (_a)
        JOIN (SELECT _n AS _b, _d AS _db FROM {deg2}) db USING (_b)
        """,
        e=e, deg1=deg, deg2=fresh_ids(deg))
    sums = ed.agg(
        F.expr("2 * CAST(count(1) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(sum(CAST(_da AS DECIMAL(19,0)) + "
               "CAST(_db AS DECIMAL(19,0))) AS DECIMAL(38,0))")
        .alias("sx"),
        F.expr("CAST(sum(CAST(_da AS DECIMAL(19,0)) * "
               "CAST(_da AS DECIMAL(19,0)) + "
               "CAST(_db AS DECIMAL(19,0)) * "
               "CAST(_db AS DECIMAL(19,0))) AS DECIMAL(38,0))").alias("sxx"),
        F.expr("2 * CAST(sum(CAST(_da AS DECIMAL(19,0)) * "
               "CAST(_db AS DECIMAL(19,0))) AS DECIMAL(38,0))").alias("sxy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    nedge = e.agg(F.count(F.lit(1)).alias("n_edges"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        nodes.crossJoin(F.broadcast(nedge)).crossJoin(F.broadcast(sums))
        .select(
            "n_nodes", "n_edges",
            F.when(den != 0,
                   num.cast("double") / den.cast("double"))
            .alias("assortativity"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    triangles: DataFrame | None = None,
) -> DataFrame:
    """Global (transitivity) clustering coefficient:
    ``C = 3·triangles / wedges`` with ``wedges = Σ_v d(v)·(d(v)−1)/2``
    — how much of the graph's open-wedge potential actually closes,
    the one-number cohesion readout next to :func:`degree_assortativity`.

    Wedge count is a single integer aggregate over the degree relation;
    the triangle term reuses a precomputed :func:`enumerate_triangles`
    relation when given (the shared materialized census), else
    enumerates with the same O(√|E|)-bounded orientation. Returns one
    row: (n_wedges, n_triangles, global_cc).
    """
    e = _canonical_edges(edges, src, dst)
    deg = _degrees(e)
    tri = triangles if triangles is not None else _oriented_triangles(e, deg)
    wedges = deg.agg(
        F.sum(F.expr("_d * (_d - 1) DIV 2")).alias("n_wedges"))
    ntri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        wedges.crossJoin(F.broadcast(ntri))
        .select(
            "n_wedges", "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   3.0 * F.col("n_triangles") / F.col("n_wedges"))
            .alias("global_cc"))
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    distinct edge list: ``Q = Σ_c (e_c/m − (D_c/2m)²)`` — the
    community-quality score that closes the loop on
    :func:`label_propagation` (LPA gives an assignment; this says
    whether it beats random wiring, Q ≈ 0, or found real structure,
    Q ≳ 0.3).

    Computed per community from three hash aggregates (degrees,
    per-community degree mass, per-community intra-edge count) with
    the single division deferred to the very end:
    ``Q = Σ(4m·e_c − D_c²) / 4m²`` — every numerator term an exact
    integer, widened to decimal(38,0) before the squares (the
    assortativity convention) so degree mass can't silently wrap at
    graph scale.
    """
    m_row = edges.agg(F.count(F.lit(1)).alias("_m"))
    deg = (edges.select(F.col(src).alias("n"))
           .unionAll(edges.select(F.col(dst).alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("_d")))
    lab = labels.select(F.col(node_col).alias("n"),
                        F.col(label_col).alias("_c"))
    d_c = (deg.join(lab, "n")
           .groupBy("_c")
           .agg(F.sum(F.col("_d").cast("decimal(38,0)")).alias("_dc")))
    l1 = lab.select(F.col("n").alias(src), F.col("_c").alias("_c1"))
    l2 = lab.select(F.col("n").alias(dst), F.col("_c").alias("_c2"))
    intra = (edges.join(l1, src).join(l2, dst)
             .where(F.col("_c1") == F.col("_c2"))
             .groupBy(F.col("_c1").alias("_c"))
             .agg(F.count(F.lit(1)).alias("_ec")))
    per_c = (d_c.join(intra, "_c", "left")
             .crossJoin(F.broadcast(m_row))
             .select(
                 (F.lit(4).cast("decimal(38,0)") * F.col("_m")
                  * F.coalesce(F.col("_ec"), F.lit(0))
                  - F.col("_dc") * F.col("_dc")).alias("_num"),
                 F.coalesce(F.col("_ec"), F.lit(0)).alias("_ec")))
    nodes = lab.agg(F.count(F.lit(1)).alias("_nn"))
    comms = lab.select("_c").distinct().agg(
        F.count(F.lit(1)).alias("_nc"))
    return (per_c.agg(F.sum("_num").alias("_num"),
                      F.sum("_ec").alias("_intra"))
            .crossJoin(F.broadcast(m_row))
            .crossJoin(F.broadcast(nodes))
            .crossJoin(F.broadcast(comms))
            .select(
                F.col("_nn").cast("long").alias("n_nodes"),
                F.col("_nc").cast("long").alias("n_communities"),
                F.col("_m").cast("long").alias("n_edges"),
                F.col("_intra").cast("long").alias("intra_edges"),
                F.round(
                    F.col("_num").cast("double")
                    / (F.lit(4.0) * F.col("_m") * F.col("_m")), 6)
                .alias("modularity")))
