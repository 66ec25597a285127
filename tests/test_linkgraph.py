"""Link graph (linkgraph.py): PageRank vs a brute-force numpy replica
(mass conservation, dangling redistribution, weight/duplicate
equivalence, layout invariance, exact rational fixture), personalized
PageRank, and HyperBall harmonic centrality."""

import collections
import random

import numpy as np
import pytest

from pypdfocr_spark import linkgraph


def _random_edges(n_nodes, n_edges, seed):
    rng = random.Random(seed)
    edges = []
    for _ in range(n_edges):
        u = rng.randrange(n_nodes)
        v = rng.randrange(n_nodes)
        if u != v:
            edges.append((f"h{u}", f"h{v}"))
    return edges


def _pr_replica(edges, d, iters):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = collections.Counter(edges)
    outw = collections.Counter()
    for (u, _), c in w.items():
        outw[u] += c
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dang = sum(r[idx[v]] for v in nodes if v not in outw)
        nr = np.full(n, (1.0 - d) / n + d * dang / n)
        for (u, v), c in w.items():
            nr[idx[v]] += d * r[idx[u]] * (c / outw[u])
        r = nr
    return {m: r[idx[m]] for m in nodes}


def test_pagerank_matches_replica_with_dangling(spark):
    edges = _random_edges(30, 90, seed=7)
    # force dangling nodes: strip all out-edges of h0/h1 but keep them
    # reachable as destinations
    edges = [(u, v) for u, v in edges if u not in ("h0", "h1")]
    edges += [("h5", "h0"), ("h6", "h1")]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r["node"]: r["rank"]
           for r in linkgraph.pagerank(df, damping=0.85, iterations=12).collect()}
    want = _pr_replica(edges, 0.85, 12)
    assert set(got) == set(want)
    for node in want:
        assert abs(got[node] - want[node]) < 1e-9, node
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_two_node_cycle_exact(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "a")], "src STRING, dst STRING")
    got = {r["node"]: r["rank"]
           for r in linkgraph.pagerank(df, damping=0.5, iterations=7).collect()}
    # every update is (1-d)/2 + d/2 = 1/2 exactly in binary for d=0.5
    assert got == {"a": 0.5, "b": 0.5}


def test_pagerank_weights_equal_duplicates(spark):
    dup = [("a", "b"), ("a", "b"), ("a", "c"), ("c", "a"), ("b", "a")]
    wtd = [("a", "b", 2.0), ("a", "c", 1.0), ("c", "a", 1.0), ("b", "a", 1.0)]
    r1 = {r["node"]: r["rank"] for r in linkgraph.pagerank(
        spark.createDataFrame(dup, "src STRING, dst STRING"),
        iterations=8).collect()}
    r2 = {r["node"]: r["rank"] for r in linkgraph.pagerank(
        spark.createDataFrame(wtd, "src STRING, dst STRING, w DOUBLE"),
        iterations=8, weight_col="w").collect()}
    for node in r1:
        assert abs(r1[node] - r2[node]) < 1e-12


def test_pagerank_layout_invariant_and_args(spark):
    edges = _random_edges(20, 50, seed=11)
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    a = {r["node"]: r["rank"]
         for r in linkgraph.pagerank(df, iterations=6).collect()}
    b = {r["node"]: r["rank"]
         for r in linkgraph.pagerank(df.repartition(13), iterations=6,
                                     num_partitions=5).collect()}
    for node in a:
        assert abs(a[node] - b[node]) < 1e-9
    with pytest.raises(ValueError):
        linkgraph.pagerank(df, damping=1.0)
    with pytest.raises(ValueError):
        linkgraph.pagerank(df, iterations=0)


def _ppr_replica(edges, d, iters, seeds):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = collections.Counter(edges)
    outw = collections.Counter()
    for (u, _), c in w.items():
        outw[u] += c
    present = [s for s in seeds if s in idx]
    tele = np.zeros(n)
    for s in present:
        tele[idx[s]] = 1.0 / len(present)
    r = tele.copy()
    for _ in range(iters):
        dang = sum(r[idx[v]] for v in nodes if v not in outw)
        nr = (1.0 - d) * tele + d * dang * tele
        for (u, v), c in w.items():
            nr[idx[v]] += d * r[idx[u]] * (c / outw[u])
        r = nr
    return {m: r[idx[m]] for m in nodes}


def test_pagerank_personalized_matches_replica(spark):
    edges = _random_edges(25, 70, seed=3)
    # force a dangling node that stays reachable
    edges = [(u, v) for u, v in edges if u != "h2"] + [("h3", "h2")]
    seeds = ["h1", "h4", "absent-host"]              # absent seeds ignored
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r["node"]: r["rank"]
           for r in linkgraph.pagerank(df, iterations=10, seeds=seeds).collect()}
    want = _ppr_replica(edges, 0.85, 10, seeds)
    assert set(got) == set(want)
    for node in want:
        assert abs(got[node] - want[node]) < 1e-9, node
    assert abs(sum(got.values()) - 1.0) < 1e-9       # mass conserved
    # seeds concentrate rank: a seed outranks the uniform-teleport floor
    assert got["h1"] > (1.0 - 0.85) / len(got)

    with pytest.raises(ValueError):
        linkgraph.pagerank(df, seeds=[])
    with pytest.raises(ValueError):
        linkgraph.pagerank(df, seeds=["nowhere"])


def test_hll_kernel():
    # determinism + exact singleton
    a = linkgraph._hll_init("host-a", 12)
    assert np.array_equal(a, linkgraph._hll_init("host-a", 12))
    assert (a > 0).sum() == 1
    # estimate quality: 1000 distinct values at p=12 within 3 sigma
    m = 1 << 12
    sk = np.zeros(m, dtype=np.uint8)
    for i in range(1000):
        sk = np.maximum(sk, linkgraph._hll_init(f"v{i}", 12))
    est = linkgraph._hll_count(sk)
    assert abs(est - 1000) < 3 * 1.04 / (m ** 0.5) * 1000 + 30
    # merge == union
    b = linkgraph._hll_init("host-b", 12)
    u = np.maximum(a, b)
    assert linkgraph._hll_count(u) >= max(
        linkgraph._hll_count(a), linkgraph._hll_count(b)
    )


def _harmonic_replica(edges):
    """Exact H(x) = sum_y 1/d(y, x) by BFS from every source."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    adj = collections.defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
    h = dict.fromkeys(nodes, 0.0)
    for y in nodes:
        dist = {y: 0}
        frontier = [y]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        for x, d in dist.items():
            if d > 0:
                h[x] += 1.0 / d
    return h


def test_harmonic_centrality_path_graph(spark):
    # a -> b -> c -> d: H = [0, 1, 1.5, 1.833...], diameter bounds rounds
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src STRING, dst STRING"
    )
    got = {r["node"]: r for r in
           linkgraph.harmonic_centrality(df, p=14).collect()}
    want = {"a": 0.0, "b": 1.0, "c": 1.5, "d": 1.0 + 0.5 + 1.0 / 3.0}
    for n, w in want.items():
        assert abs(got[n]["harmonic"] - w) < 0.05 * max(w, 0.2), n
    # ball_est counts reachers + self
    assert abs(got["d"]["ball_est"] - 4) < 0.2
    assert abs(got["a"]["ball_est"] - 1) < 0.1


def test_harmonic_centrality_matches_replica(spark):
    edges = list(dict.fromkeys(_random_edges(25, 80, seed=19)))
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r["node"]: r["harmonic"] for r in
           linkgraph.harmonic_centrality(df, p=14).collect()}
    want = _harmonic_replica(edges)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) <= 0.06 * want[n] + 0.05, n
    # salted pre-merge and layout changes do not alter the result
    # (max-merge is commutative/associative; registers are exact)
    again = {r["node"]: r["harmonic"] for r in linkgraph.harmonic_centrality(
        df.repartition(7), p=14, salt=4, num_partitions=5).collect()}
    for n in got:
        assert got[n] == again[n], n


def test_harmonic_centrality_args(spark):
    df = spark.createDataFrame([("a", "b")], "src STRING, dst STRING")
    with pytest.raises(ValueError):
        linkgraph.harmonic_centrality(df, p=3)
    with pytest.raises(ValueError):
        linkgraph.harmonic_centrality(df, max_iters=0)
