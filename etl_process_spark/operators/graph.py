"""Connected components — the clustering step of a dedup pipeline.

LSH / near-dup joins (operators/dedup.py) emit PAIRS; a pipeline keeps one
document per duplicate CLUSTER, and clusters are the connected components
of the pair graph. This is the engine's one genuinely iterative operator
(SURVEY §2.9's "iterative algorithms" class): a driver-side loop over
distributed min-label propagation.

Algorithm: every node starts labeled with itself; each round a node takes
the min of its own label and its neighbors' labels; converged when no
label changes. Rounds needed = graph diameter — near-dup clusters are
small and dense (diameter ≤ 3-4 in practice), so the loop is short. Each
round is one shuffle (join on node) + one aggregation; a ``checkpoint``
(``session.checkpoint``) truncates the lineage so round N's plan doesn't
re-analyze rounds 1..N-1.

The EVERY-round checkpoint is load-bearing, not an overhead to batch
away: both round functions reference their input several times (labels
feeds the neighbor aggregate AND the update join; a star step derives
sym and the min table from the same edges), so an un-materialized
intermediate round re-executes its whole subtree per reference —
measured 2× SLOWER when checkpointing every second round, not faster.

For galaxy-scale graphs (web-crawl link graphs, not dedup clusters),
``connected_components_star`` implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14): pointer-jumping converges in O(log² n) rounds
regardless of diameter, where min-label propagation needs diameter rounds
— a 10⁶-hop path graph finishes in ~20 rounds instead of 10⁶.

CC, label propagation and BFS keep their partitioned edge list
``persisted`` only while they run: the last round is checkpointed
eagerly, so the returned result reads only checkpoint blocks and the
edge list is released on return.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from etl_process_spark.session import checkpoint, persisted


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Label every node of the undirected pair graph with its component id
    (the smallest node id in the component).

    ``edges`` may be directed/one-sided (e.g. ``doc_a < doc_b`` pairs);
    it is symmetrized internally. Returns (node, component) for every node
    that appears in at least one edge — callers union isolated nodes back
    as their own singletons if needed. The edge list is released on
    return; every round's checkpoint is eager, so nothing reads it later.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # hash-partition the edge list ONCE on the aggregation key and keep
    # it in storage (persisted — a checkpoint would erase the
    # partitioning): whenever the planner attaches labels by broadcast
    # (AQE, labels fit), the join preserves hash(a) and the per-round
    # min-label groupBy(a) needs NO exchange — guide §2.4. In the
    # sort-merge regime (labels too big to broadcast) the round keeps
    # its former shape; the one-time repartition is the bounded cost.
    with persisted(sym.distinct().repartition("a")) as sym:
        labels = checkpoint(
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
        )
        for _ in range(max_iterations):
            neighbor_min = (
                sym.join(labels, sym.b == labels.node)
                .groupBy("a")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            # The convergence check rides the checkpoint's materialization
            # job as an observed metric over rows that already carry both
            # the old and the new label — one action per round, where the
            # former new⋈old join + limit(1).count() cost a second job and
            # an extra node-keyed shuffle join every round at any scale.
            obs = Observation()
            labels = checkpoint(
                labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
                .select(
                    "node",
                    F.col("comp").alias("old_comp"),
                    F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
                )
                .observe(
                    obs,
                    F.coalesce(
                        F.sum((F.col("comp") != F.col("old_comp")).cast("long")),
                        F.lit(0),
                    ).alias("changed"),
                )
                .select("node", "comp")
            )
            if obs.get["changed"] == 0:
                return labels.select(F.col("node"), F.col("comp").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds "
        "(graph diameter exceeds the bound — raise max_iterations)"
    )

def _digest(edges: DataFrame) -> tuple[int, int]:
    """Cheap set fingerprint (count + hash-sum) for convergence detection.

    Edge sets here are kept distinct, so (count, order-independent
    xxhash64 sum) identifies the set; a collision costs at most one
    extra (idempotent) round, never a wrong answer, because the loop
    re-checks on the following iteration.
    """
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Output edges always point large → small."""
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # min(Γ⁺(u)) = least(min(Γ(u)), u) — folding the self-edge into the
    # aggregate saves a union+distinct shuffle every round
    m = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select("a", F.least(F.col("mb"), F.col("a")).alias("m"))
    )
    return (
        sym.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge large → small; for each node u, connect all of
    its smaller neighbors (and u itself) to the smallest of them."""
    d = (
        edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return _small_star_canonical(d)


def _small_star_canonical(d: DataFrame) -> DataFrame:
    """Small-star over edges already directed large → small, self-loop
    free and distinct — exactly ``_large_star``'s output contract (its
    rows are (b, m) with b > a ≥ m, distinct-ed). The composed
    large→small round skips ``_small_star``'s re-canonicalization,
    which re-shuffled the whole O(|E|) edge set through a redundant
    distinct every round (guide §2.4: remove exchanges over data whose
    invariant already holds)."""
    m = d.groupBy("a").agg(F.min("b").alias("m"))
    to_min = d.join(m, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
    self_to_min = m.select(F.col("a"), F.col("m").alias("b"))
    return (
        to_min.unionByName(self_to_min)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star.

    Same contract as ``connected_components`` (component id = min node
    id; returns every node appearing in an edge), different convergence
    law: O(log² n) rounds independent of graph diameter, so this is the
    scale path for long-path / high-diameter graphs where min-label
    propagation would need one shuffle round per hop. Each round is two
    shuffles (the two star steps); a ``checkpoint`` truncates lineage
    between rounds.

    At the fixpoint the edge set is exactly the star forest
    {(node, component-min)}; labels fall out of the final edge set with
    no extra propagation pass.
    """
    # ONE distinct pass over the raw pair list (self-loops kept so the
    # node set falls out of the same checkpoint); the former separate
    # nodes checkpoint re-scanned + re-shuffled the upstream pair
    # pipeline a second time just to materialize node ids that the
    # final isolated-union is the only consumer of.
    e0 = checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    )
    nodes = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .distinct()
    )
    e = e0.filter(F.col("a") != F.col("b"))
    prev = _digest(e)
    if prev[0] == 0:  # only self-loops / isolated nodes
        return nodes.select("node", F.col("node").alias("component"))
    for _ in range(max_iterations):
        # digest rides the checkpoint materialization as an observed
        # metric — the former separate _digest() aggregate job per round
        # is gone (same (count, order-independent hash-sum) fingerprint)
        obs = Observation()
        e = checkpoint(
            _small_star_canonical(_large_star(e)).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
            )
        )
        cur = (int(obs.get["n"]), int(obs.get["h"]))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "rounds (O(log² n) expected — this indicates a bug, not scale)"
        )
    members = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    centers = (
        e.select(F.col("b").alias("node")).distinct()
        .withColumn("component", F.col("node"))
    )
    labeled = members.unionByName(centers)
    isolated = nodes.join(labeled.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labeled.unionByName(isolated)


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    unit: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool = False,
    symmetric_input: bool = False,
    adjacency: bool = False,
    checkpoint_interval: int = 2,
) -> DataFrame:
    """PageRank over the (symmetrized) edge graph in FIXED-POINT integer
    arithmetic — every rank is a BIGINT count of 1e-12 units, so the
    result is bit-identical on any engine, any partitioning, any retry.

    Floating-point PageRank is famously non-deterministic in distributed
    settings: partial-sum order changes the low bits, and low bits decide
    ranking ties. Here every operation is integer (floor-div by
    out-degree for each contribution, floor-div for the damping factor),
    which makes the operator oracle-checkable exactly — the price is a
    quantization error ≤ out_degree × 1 unit per node per round,
    irrelevant at 1e-12 granularity.

    Two physical layouts, identical results:

    - ``adjacency=False`` (default): degree-annotated EDGE LIST,
      symmetrized+distinct-ed once and checkpointed. Per round one
      contribution shuffle. Degree-unbounded — the layout for power-law
      graphs (a 1e8-degree web hub is just 1e8 edge rows, never one
      array).
    - ``adjacency=True``: per-node NEIGHBOR ARRAYS built by
      ``collect_set`` — the dedup happens inside the aggregation, so the
      separate edge-distinct shuffle AND the O(|E|)-row checkpoint
      disappear (the checkpoint is O(|V|) rows). Rounds explode the
      arrays map-side; the only shuffle is the contribution partial-agg.
      This is the GraphX/GraphFrames layout; use it when max degree is
      bounded (co-occurrence, kNN graphs), not for hub-dominated graphs
      where a single node's array would blow a task.

    ``symmetric_input=True`` declares the input already contains both
    (u,v) and (v,u) — e.g. co-occurrence self-joins — skipping the
    symmetrize union (input duplicates are still dedup-ed either way).

    ``broadcast_ranks=True`` broadcasts the rank table into the per-round
    join, so the (much larger) edge side is never shuffled — right
    whenever node count ≪ edge count. Leave False for graphs whose node
    set is beyond broadcast size; AQE still localizes what it can.

    Lineage is truncated every ``checkpoint_interval`` rounds (each round
    nests one broadcast/join layer; unbounded nesting re-plans the whole
    history). Between checkpoints rounds stay lazy — at small iteration
    counts this skips whole materialization jobs.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    both = (
        e
        if symmetric_input
        else e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    if adjacency:
        adj = checkpoint(
            both.groupBy("u")
            .agg(F.collect_set("v").alias("vs"))
            .withColumn("d", F.size("vs").cast("long"))
        )
        nodes = checkpoint(adj.select(F.col("u").alias("node")))
    else:
        sym = checkpoint(both.distinct())
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        adj = sym.join(F.broadcast(deg) if broadcast_ranks else deg, on="u")
        nodes = checkpoint(sym.select(F.col("u").alias("node")).distinct())
    n = nodes.count()
    base = ((100 - damping_pct) * unit) // (100 * n)
    ranks = nodes.withColumn("r", F.lit(unit // n).cast("long"))

    for i in range(iterations):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        joined = adj.join(rank_side, adj.u == rank_side.node)
        contribs = (
            joined.select(F.explode("vs").alias("v"), F.expr("r div d").alias("c"))
            if adjacency
            else joined.select(F.col("v"), F.expr("r div d").alias("c"))
        ).groupBy("v").agg(F.sum("c").alias("s"))
        contrib_side = F.broadcast(contribs) if broadcast_ranks else contribs
        ranks = nodes.join(contrib_side, nodes.node == contribs.v, "left").select(
            "node",
            (
                F.lit(base) + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("r"),
        )
        if (i + 1) % checkpoint_interval == 0 and i + 1 < iterations:
            ranks = checkpoint(ranks)
    return ranks


def triangle_count(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Exact triangle count via degree-ordered adjacency intersection
    (one row out).

    Input: canonical undirected edges (``src < dst``, distinct). Orient
    every edge from its lower- to its higher-(degree, id) endpoint; a
    triangle then has exactly one edge (x, y) between its two
    order-smallest nodes, and closes iff the third node is in BOTH
    out-neighborhoods — so ``sum(size(array_intersect(N(x), N(y))))``
    over directed edges counts each triangle once.

    Two design points for 100 TB:
    * the intersection happens INSIDE ``array_intersect`` (whole-stage
      codegen) — the naive two-hop join materializes every open wedge
      (Σ out-deg², quadratic per node) as shuffle rows; here wedges are
      never rows at all;
    * degree-ordering bounds every out-neighborhood by O(√m) (Suri &
      Vassilvitskii, "Counting Triangles and the Curse of the Last
      Reducer", WWW'11), so a celebrity hub's adjacency array stays
      small enough to carry — without it a hub row holds its whole
      neighborhood.

    Shuffles: one degree agg + two degree-attach joins (node-keyed,
    AQE-broadcast when small), one adjacency groupBy, two
    adjacency-attach joins keyed on the directed endpoints.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    a_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    d = checkpoint(
        ed.select(
            F.when(a_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(a_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        ),
        eager=False,
    )
    adj = d.groupBy("a").agg(F.collect_set("b").alias("nbrs"))
    return (
        d.join(adj.select(F.col("a"), F.col("nbrs").alias("na")), "a")
        .join(
            adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb")),
            "b",
            "left",
        )
        .agg(
            F.sum(
                F.when(
                    F.col("nb").isNotNull(),
                    F.size(F.array_intersect("na", "nb")),
                ).otherwise(0)
            ).alias("triangles")
        )
    )


def label_propagation(
    edges: DataFrame, src: str = "u", dst: str = "v", rounds: int = 2,
    broadcast_labels: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007): every node starts as its own label; each round it adopts
    the most frequent label among its neighbors, ties to the smallest
    label. Returns (node, label) after ``rounds`` rounds.

    Unlike connected components (which merges everything reachable),
    LPA splits dense regions from their bridges — the community notion
    a co-purchase or link graph wants. Deterministic by construction
    (count desc, label asc tie order), so a fixed round count is
    oracle-checkable.

    Shuffle shape (guide §2.4 — operations keyed the same way share one
    exchange): the symmetric edge list is hash-partitioned ONCE on the
    collecting endpoint and kept ``persisted`` in the storage layer for
    the call (a checkpoint would erase the partitioning — Spark rebuilds a
    LogicalRDD with UnknownPartitioning). With ``broadcast_labels`` the
    per-round label attach is a broadcast join that preserves the
    streamed side's partitioning, and hash(a) satisfies the clustered
    distribution of BOTH per-round aggregations (neighbor-label count
    keyed (node, label), struct-max argmax keyed node) — so every round
    runs with ZERO data exchanges: R rounds cost one up-front edge
    shuffle instead of 2R aggregate shuffles (measured: the per-round
    ``Exchange hashpartitioning(node[, label])`` pair disappears from
    the executed plan, 3.0 → 2.2 s on the sf0.1 co-purchase graph).
    Without ``broadcast_labels`` the edge list is partitioned on the
    JOIN key instead, so the O(edges) side of the per-round shuffle
    join never reshuffles — only the O(nodes) label table moves. Skew
    is that of the former groupBy(node) exchange, just paid once. No
    adjacency materialization. Per-round labels are checkpointed like
    the CC loop to keep lineage flat: lazily, except the last round,
    which is eager so the edge list can be released on return.
    """
    # input is canonical (src < dst, distinct): the reverse union cannot
    # collide, so no re-distinct
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition("a" if broadcast_labels else "b")
    )
    with persisted(sym) as sym:
        labels = sym.select(F.col("a").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        for r in range(1, rounds + 1):
            labels = checkpoint(
                _lpa_round(sym, labels, broadcast_labels), eager=r == rounds
            )
    return labels


def _lpa_round(
    sym: DataFrame, labels: DataFrame, broadcast_labels: bool
) -> DataFrame:
    """One synchronous LPA round over the prepared symmetric edge list.

    When ``sym`` is hash-partitioned on ``a`` and labels ride a
    broadcast, this whole round plans WITHOUT a data exchange (see
    ``label_propagation``) — pinned by a plan test.
    """
    lab_b = labels.select(F.col("node").alias("b"), "label")
    if broadcast_labels:
        # O(nodes) label table rides a broadcast: the O(edges) sym
        # list is never reshuffled per round (the pagerank
        # broadcast_ranks pattern). Off by default — at web scale
        # the label table itself is too big to broadcast.
        lab_b = F.broadcast(lab_b)
    nbr = sym.join(lab_b, "b").select(F.col("a").alias("node"), "label")
    counts = nbr.groupBy("node", "label").agg(F.count("*").alias("cnt"))
    # (count desc, label asc) argmax as a STRUCT MAX — a hash
    # aggregate with map-side combine; a row_number window here
    # sorts every (node, label) row per round and measured 2x the
    # whole query's runtime. Negating the label turns lexicographic
    # struct max into (max cnt, then min label); labels are ids >= 0.
    return (
        counts.groupBy("node")
        .agg(F.max(F.struct(F.col("cnt").alias("c"),
                            (-F.col("label")).alias("nl"))).alias("m"))
        .select("node", (-F.col("m.nl")).alias("label"))
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "u",
    dst: str = "v",
    node: str = "node",
    symmetric: bool = False,
) -> DataFrame:
    """Multi-source BFS: exact hop distance (0..max_hops) from the seed
    set to every reachable node, by frontier expansion — the fourth
    iterative graph family next to CC, PageRank and label propagation
    (k-hop neighborhoods: recall expansion around flagged entities,
    blast-radius queries, graph-distance features).

    Each round expands only the CURRENT frontier: frontier ⋈ edges →
    candidate neighbors, minus already-settled nodes (left_anti). A node
    therefore enters ``dist`` exactly once, at its first (= minimal)
    hop count — no per-path enumeration, no min-aggregate over paths.
    That asymmetry is the scale story: path counting grows with
    degree^hops (the DuckDB oracle does exactly that, affordable at
    sf0.01), while frontier BFS moves O(edges incident to frontier)
    rows per round and O(nodes) total across all rounds.

    Per round: one node-keyed join shuffle + one anti-join (AQE
    broadcasts the frontier while it is small) + a distinct over new
    neighbors. The anti-join runs BEFORE the distinct: it is a
    broadcast map-side filter while ``dist`` fits, so already-settled
    candidates — the vast majority once the frontier saturates — never
    enter the distinct's exchange (same rows out either way;
    filter∘distinct ≡ distinct∘filter). Each hop's frontier is
    checkpointed like the CC loop so round N's plan doesn't replay
    rounds 1..N-1 — lazily, except the last hop: its eager checkpoint
    materializes every hop, so the edge list is released on return.

    BFS is insensitive to duplicate edges (the per-round neighbor
    distinct absorbs them), so callers holding an UN-deduplicated
    directed pair list (e.g. the per-order co-purchase explosion)
    should pass it directly with ``symmetric=True`` — skipping the
    canonicalizing distinct saves a full edge-list shuffle, which
    dominates the whole query on dense graphs.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not symmetric:
        sym = sym.unionAll(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    # hash-partition the edge list ONCE on the neighbor endpoint and
    # keep it persisted (a checkpoint would erase partitioning): while
    # the frontier rides a broadcast join — every hop here — candidate
    # neighbors arrive already hash(b)-clustered, so each hop's
    # ``distinct`` (keyed on n ≡ b) needs NO exchange: hops × candidate
    # exchanges collapse into this one edge shuffle (guide §2.4).
    with persisted(sym.repartition("b")) as sym:
        dist = checkpoint(
            seeds.select(F.col(node).alias("n")).distinct().select(
                "n", F.lit(0).cast("int").alias("dist")
            ),
            eager=False,
        )
        frontier = dist.select("n")
        for hop in range(1, max_hops + 1):
            nbrs = (
                frontier.join(sym, frontier.n == sym.a)
                .select(F.col("b").alias("n"))
                .join(dist.select("n"), "n", "left_anti")
                .distinct()
            )
            new = checkpoint(
                nbrs.select("n", F.lit(hop).cast("int").alias("dist")),
                eager=hop == max_hops,
            )
            # dist is a union of already-checkpointed per-hop frames — no
            # lineage to truncate, so checkpointing the union again would
            # only re-materialize the same rows every round
            dist = dist.unionAll(new)
            frontier = new.select("n")
    return dist.select(F.col("n").alias(node), "dist")
