"""Connected components: equivalence vs BFS oracle (src/MST.cpp:109-142
generateClusterWithBfs) on random graphs + edge-order invariance
(SURVEY.md §5 property tests)."""

import random
from collections import defaultdict, deque

from rabbittclust_spark.operators.components import connected_components
from rabbittclust_spark.sources import tables


def _bfs_components(n_nodes, edges):
    """Reference-style BFS clustering (src/MST.cpp:109-142)."""
    adj = defaultdict(list)
    nodes = set()
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
        nodes.update((u, v))
    seen = {}
    for start in sorted(nodes):
        if start in seen:
            continue
        comp = []
        dq = deque([start])
        seen[start] = True
        while dq:
            x = dq.popleft()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen[y] = True
                    dq.append(y)
        root = min(comp)
        for x in comp:
            seen[x] = root
    return {x: seen[x] for x in nodes}


def _spark_cc(spark, edges, driver_cutoff=2_000_000):
    # a composed (unioned) edge frame, as callers pass one: CC takes no
    # barrier of its own, so an overflowing cutoff collect and the star
    # path each execute this plan
    half = len(edges) // 2
    schema = "src long, dst long"
    df = spark.createDataFrame(edges[:half], schema).union(
        spark.createDataFrame(edges[half:], schema))
    barriers = list(tables._MATERIALIZE_DIRS)
    rows = connected_components(df, driver_cutoff=driver_cutoff).collect()
    if len(edges) <= driver_cutoff:
        assert tables._MATERIALIZE_DIRS == barriers  # driver path: no barrier
    return {r.doc_id: r.cluster_id for r in rows}


def test_cc_matches_bfs_random_graphs(spark):
    """The distributed star path (driver_cutoff=0), the overflowing driver
    collect that falls through to it (0 < cutoff < edges) and the driver
    union-find fast path must all match the BFS oracle."""
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(80)]
        edges = [(u, v) for u, v in edges if u != v]
        expected = _bfs_components(n, edges)
        for cutoff in (0, 10, 2_000_000):
            assert _spark_cc(spark, edges, cutoff) == expected, (cutoff, trial)


def test_cc_edge_order_invariance(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
    edges = [(u, v) for u, v in edges if u != v]
    a = _spark_cc(spark, edges)
    rng.shuffle(edges)
    reversed_edges = [(v, u) for u, v in edges]
    b = _spark_cc(spark, reversed_edges)
    assert a == b


def test_cc_chain_and_star(spark):
    # long chain (worst case for naive propagation) + star; distributed path
    chain = [(i, i + 1) for i in range(30)]
    star = [(100, 100 + i) for i in range(1, 20)]
    got = _spark_cc(spark, chain + star, driver_cutoff=0)
    assert all(got[i] == 0 for i in range(31))
    assert all(got[100 + i] == 100 for i in range(20))


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_numpy_components_vs_bruteforce():
    """Vectorized min-hooking vs a literal BFS on random graphs."""
    import collections
    import random

    import numpy as np

    from rabbittclust_spark.operators.components import _numpy_components

    for seed in range(20):
        rng = random.Random(seed)
        n = rng.randint(2, 60)
        m = rng.randint(1, 120)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            continue
        adj = collections.defaultdict(set)
        for u, v in edges:
            adj[u].add(v)
            adj[v].add(u)
        expect = {}
        for start in sorted(adj):
            if start in expect:
                continue
            comp, queue = {start}, [start]
            while queue:
                x = queue.pop()
                for y in adj[x]:
                    if y not in comp:
                        comp.add(y)
                        queue.append(y)
            mn = min(comp)
            for x in comp:
                expect[x] = mn
        ui = np.array([u for u, _ in edges], dtype=np.int64)
        vi = np.array([v for _, v in edges], dtype=np.int64)
        parent = _numpy_components(ui, vi, n)
        got = {i: int(parent[i]) for i in sorted(adj)}
        assert got == expect, f"seed {seed}"


def test_numpy_components_two_million_edges():
    """VERDICT r3 #5: 2M edges (the driver_cutoff) must resolve in seconds,
    not the 15 s the per-edge Python loop took.  Validates the invariants
    (endpoint agreement; cluster_id = component min) on a worst-ish-case
    long-chain + random graph mix."""
    import time

    import numpy as np

    from rabbittclust_spark.operators.components import _numpy_components

    rng = np.random.default_rng(5)
    n = 1_000_000
    # half long chains (deep trees stress pointer jumping), half random
    chain_u = np.arange(n - 1, dtype=np.int64)
    chain_v = chain_u + 1
    keep = rng.random(n - 1) < 0.9          # break chains into segments
    ru = rng.integers(0, n, 1_000_000)
    rv = rng.integers(0, n, 1_000_000)
    ui = np.concatenate([chain_u[keep], ru])
    vi = np.concatenate([chain_v[keep], rv])
    ok = ui != vi
    ui, vi = ui[ok], vi[ok]
    t0 = time.time()
    parent = _numpy_components(ui, vi, n)
    wall = time.time() - t0
    assert np.array_equal(parent[ui], parent[vi])   # every edge agrees
    assert np.array_equal(parent[parent], parent)   # fully compressed
    # roots are component minima: no member is smaller than its root
    assert (parent <= np.arange(n)).all()
    assert wall < 20, wall  # generous CI bound; measured well under 2 s
