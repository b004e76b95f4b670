"""Connected components: known graphs + random-graph BFS differential."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_process_spark.operators.graph import connected_components
import pytest


def _components(spark, edge_list):
    df = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        (r["node"], r["component"])
        for r in connected_components(df, "src", "dst").collect()
    }


def _bfs_components(edge_list):
    """Trusted in-memory answer: min node id per component via BFS."""
    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen: dict[int, int] = {}
    for start in adj:
        if start in seen:
            continue
        stack, comp = [start], [start]
        seen[start] = -1
        while stack:
            n = stack.pop()
            for m in adj[n]:
                if m not in seen:
                    seen[m] = -1
                    comp.append(m)
                    stack.append(m)
        root = min(comp)
        for n in comp:
            seen[n] = root
    return set(seen.items())


def test_two_components_and_chain(spark):
    # chain 1-2-3-4 and triangle 10-11-12
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    assert _components(spark, edges) == _bfs_components(edges)


def test_single_edge_and_self_loop(spark):
    edges = [(5, 5), (7, 8)]
    assert _components(spark, edges) == {(5, 5), (7, 7), (8, 7)}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_matches_bfs_on_random_graphs(spark, edges):
    assert _components(spark, edges) == _bfs_components(edges)


def _components_star(spark, edge_list):
    from etl_process_spark.operators.graph import connected_components_star

    df = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        (r["node"], r["component"])
        for r in connected_components_star(df, "src", "dst").collect()
    }


def test_star_known_graphs(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    assert _components_star(spark, edges) == _bfs_components(edges)
    assert _components_star(spark, [(5, 5), (7, 8)]) == {
        (5, 5),
        (7, 7),
        (8, 7),
    }


def test_star_high_diameter_path(spark):
    """A 60-hop path: label propagation needs 60 rounds (more than its
    default bound); the star algorithm's O(log² n) pointer jumping
    finishes well inside its bound — the property that makes it the
    scale path for web-graph-shaped inputs."""
    edges = [(i, i + 1) for i in range(60)]
    got = _components_star(spark, edges)
    assert got == {(i, 0) for i in range(61)}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_matches_bfs_on_random_graphs(spark, edges):
    assert _components_star(spark, edges) == _bfs_components(edges)


def test_pagerank_fixed_point_star_graph_ranks_hub_highest(spark):
    """On a star graph the hub must out-rank every leaf, leaves must tie
    exactly (integer arithmetic — EXACT ties, no float fuzz), and total
    mass stays within quantization loss of one unit-sum."""
    from etl_process_spark.operators.graph import pagerank_fixed_point

    leaves = list(range(1, 9))
    edges = spark.createDataFrame([(0, l) for l in leaves], ["src", "dst"])
    ranks = {r["node"]: r["r"] for r in pagerank_fixed_point(edges, iterations=5).collect()}
    hub, leaf_ranks = ranks[0], [ranks[l] for l in leaves]
    assert hub > max(leaf_ranks)
    assert len(set(leaf_ranks)) == 1  # exact tie
    total = hub + sum(leaf_ranks)
    assert 0 < total <= 10**12  # mass bounded; floor-divs only lose units
    assert total > 0.9 * 10**12


def test_triangle_count_known_and_random(spark):
    from etl_process_spark.operators.graph import triangle_count

    # K4 has 4 triangles; a square has 0; sharing no nodes
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    square = [(10, 11), (11, 12), (12, 13), (10, 13)]
    e = spark.createDataFrame(k4 + square, ["u", "v"])
    assert triangle_count(e).collect()[0][0] == 4

    # random graph vs naive O(n^3) reference
    import itertools
    import random

    rng = random.Random(7)
    nodes = list(range(30))
    edges = sorted(
        {(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.2}
    )
    adj = set(edges)
    naive = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    e2 = spark.createDataFrame(edges, ["u", "v"])
    assert triangle_count(e2).collect()[0][0] == naive


def _py_lpa(edge_list, rounds):
    """Straight-line Python simulation of synchronous LPA with
    (count desc, label asc) ties."""
    adj: dict[int, list[int]] = {}
    for a, b in edge_list:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            best = max(cnt.values())
            new[n] = min(l for l, c in cnt.items() if c == best)
        labels = new
    return labels


def test_label_propagation_matches_simulation(spark):
    """Synchronous LPA with (count desc, label asc) ties must equal a
    straight-line Python simulation of the same rule, round for round."""
    import random

    from etl_process_spark.operators.graph import label_propagation

    rng = random.Random(5)
    nodes = list(range(24))
    edges = sorted(
        {(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.15}
    )
    labels = _py_lpa(edges, 3)
    e = spark.createDataFrame(edges, ["u", "v"])
    for bc in (False, True):
        got = {r["node"]: r["label"] for r in
               label_propagation(e, rounds=3, broadcast_labels=bc).collect()}
        assert got == labels, f"broadcast_labels={bc}"


def _py_bfs_distances(edge_list, seeds, max_hops):
    """Trusted in-memory answer: hop distance from the seed set."""
    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for hop in range(1, max_hops + 1):
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = hop
                    nxt.add(m)
        frontier = nxt
    return set(dist.items())


def test_bfs_distances_path_graph(spark):
    from etl_process_spark.operators.graph import bfs_distances

    edges = [(i, i + 1) for i in range(6)]  # path 0-1-2-3-4-5-6
    e = spark.createDataFrame(edges, "u long, v long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        (r["node"], r["dist"])
        for r in bfs_distances(e, seeds, max_hops=3).collect()
    }
    assert got == {(0, 0), (1, 1), (2, 2), (3, 3)}  # 4..6 beyond horizon


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    ),
    seeds=st.sets(st.integers(0, 15), min_size=1, max_size=3),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bfs_distances_matches_python_bfs(spark, edges, seeds):
    from etl_process_spark.operators.graph import bfs_distances

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not canon:
        return
    e = spark.createDataFrame(canon, "u long, v long")
    sd = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        (r["node"], r["dist"])
        for r in bfs_distances(e, sd, max_hops=3).collect()
    }
    assert got == _py_bfs_distances(canon, seeds, 3)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=40,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow  # corpus-sweep/long-property tier (see pytest.ini)
def test_small_star_canonical_matches_general_on_large_star_output(spark, edges):
    """The composed CC round skips _small_star's re-canonicalization
    because _large_star's output is already large->small, self-loop free
    and distinct; this pins that the shortcut is a pure plan
    optimization — identical edge sets from both small-star forms."""
    from etl_process_spark.operators.graph import (
        _large_star,
        _small_star,
        _small_star_canonical,
    )

    df = spark.createDataFrame(edges, "src long, dst long").select(
        *[c for c in ("src", "dst")]
    )
    e = df.selectExpr("src as a", "dst as b").filter("a != b").distinct()
    if e.count() == 0:
        return
    ls = _large_star(e)
    general = {(r["a"], r["b"]) for r in _small_star(ls).collect()}
    fast = {(r["a"], r["b"]) for r in _small_star_canonical(ls).collect()}
    assert fast == general


def test_label_propagation_round_is_exchange_free(spark):
    """The §2.4 invariant the r12 LPA rewrite relies on: with the
    symmetric edge list hash-partitioned once on the collecting
    endpoint and persisted, a full LPA round (broadcast label attach →
    neighbor-label count → per-node argmax) introduces NO data
    exchange — hash(a) satisfies both aggregates' clustered
    distributions through the alias a→node. Guards the plan shape
    against Spark upgrades (localCheckpoint already silently erases
    partitioning in 4.1 — the reason the operator persists instead)."""
    from pyspark.sql import functions as F

    from etl_process_spark.operators.graph import _lpa_round, label_propagation

    edges = spark.createDataFrame(
        [(a, b) for a in range(0, 20) for b in range(a + 1, 20) if (a + b) % 3],
        "u long, v long",
    )
    sym = (
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .repartition("a")
        .persist()
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    out = _lpa_round(sym, labels, broadcast_labels=True)
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    agg_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(node" in ln
    ]
    assert agg_exchanges == [], agg_exchanges
    sym.unpersist()

    # and the persisted round pipeline returns the same labels as a
    # checkpoint-free reference evaluation of the same recurrence
    got = {
        (r["node"], r["label"])
        for r in label_propagation(edges, "u", "v", rounds=2,
                                   broadcast_labels=True).collect()
    }
    ref_sym = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    ref_labels = ref_sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(2):
        ref_labels = _lpa_round(ref_sym, ref_labels, broadcast_labels=False)
    ref = {(r["node"], r["label"]) for r in ref_labels.collect()}
    assert got == ref


def _assert_only_checkpoints_left(spark):
    """No CacheManager entry survives, and every persisted RDD left in
    the session is a local-checkpoint block (reclaimed by the
    ContextCleaner once its DataFrame dies)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "a cached plan outlived the operator"
    held = [
        rdd.toDebugString()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values()
        if not rdd.rdd().isLocallyCheckpointed()
    ]
    assert held == [], held


def _release_all(spark):
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


# chain 1-2-3-4-5, and a triangle 10-11-12 with a tail 12-13-14
_TOY = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12),
        (12, 13), (13, 14)]


@pytest.mark.parametrize("op", ["cc", "lpa", "lpa_broadcast", "bfs"])
def test_graph_operators_release_their_edge_list(spark, op):
    """CC, LPA and BFS hold their edge list only while they run: once the
    returned result is materialized, the session holds no cached plan
    and no persisted RDD but local-checkpoint blocks. A cached edge list
    that outlives the call is served by the CacheManager to any later
    plan-identical subtree, in this query or the next."""
    from etl_process_spark.operators.graph import (
        bfs_distances,
        connected_components,
        label_propagation,
    )

    _release_all(spark)
    e = spark.createDataFrame(_TOY, "u long, v long")
    if op == "cc":
        got = {(r["node"], r["component"])
               for r in connected_components(e, "u", "v").collect()}
        want = _bfs_components(_TOY)
    elif op == "bfs":
        seeds = spark.createDataFrame([(1,), (10,)], "node long")
        got = {(r["node"], r["dist"])
               for r in bfs_distances(e, seeds, max_hops=3).collect()}
        want = _py_bfs_distances(_TOY, {1, 10}, 3)
    else:
        out = label_propagation(e, rounds=2,
                                broadcast_labels=op == "lpa_broadcast")
        got = {(r["node"], r["label"]) for r in out.collect()}
        want = set(_py_lpa(_TOY, 2).items())
    assert got == want
    _assert_only_checkpoints_left(spark)
