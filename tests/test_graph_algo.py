"""Graph algorithms over edge lists (operators.graph_algo)."""

import pytest
from pyspark.sql import functions as F

from osm_pg_etl_spark.operators import graph_algo as ga
from osm_pg_etl_spark.operators.graph_algo import (
    connected_components,
    dedup_clusters,
    shortest_paths,
    symmetric_edges,
)

# block sizes (_BLOCK_EDGES, _ARRAY_BLOCK_EDGES): the test graphs in one
# block / one node per block (the per-hop loop and full-graph star
# contraction)
ONE_BLOCK, SINGLETON_BLOCKS = 10**12, 1e-12
SF = "/root/testdata/sf0.001"


def test_symmetric_edges_drops_self_loops(spark):
    edges = spark.createDataFrame([(1, 2), (2, 1), (7, 7)], "src long, dst long")
    got = {(r["a"], r["b"]) for r in symmetric_edges(edges).collect()}
    assert got == {(1, 2), (2, 1)}


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4 (via out-of-order directed edges), island {10,11},
    # self-loop-only node 7 (no non-trivial edge -> not part of any component)
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (3, 4), (11, 10), (7, 7)], "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_path_converges(spark):
    # a 40-hop path: diameter-bound propagation would need ~40 rounds;
    # star contraction must converge in O(log) and stay correct
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 41)], "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {i: 1 for i in range(1, 42)}


def test_star_contraction_round_bound(spark, monkeypatch):
    # 2048-node path with ids scrambled (so min ids are scattered, the
    # adversarial case for min-propagation): alternating large/small-star
    # must converge well under the ~2·log² bound — and nowhere near the
    # diameter (2047 rounds) plain label propagation would need. One node
    # per block makes the representative graph the whole path; in one
    # block the union-find solves it in the local round.
    import math

    n = 2048
    perm = [(i * 1117) % n for i in range(n)]  # gcd(1117, 2048) = 1
    edges = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(n - 1)], "src long, dst long")
    monkeypatch.setattr(ga, "_BLOCK_EDGES", SINGLETON_BLOCKS)
    comps, rounds = connected_components(edges, return_rounds=True)
    assert comps.select("component").distinct().count() == 1
    log2n = math.log2(n)
    assert rounds <= 2 * log2n, f"{rounds} rounds for n={n} path"
    monkeypatch.setattr(ga, "_BLOCK_EDGES", ONE_BLOCK)
    one, rounds = connected_components(edges, return_rounds=True)
    assert rounds == 1
    assert sorted(map(tuple, one.collect())) \
        == sorted(map(tuple, comps.collect()))


def test_shortest_paths_bounded_hops(spark):
    #   1 --1.0--> 2 --1.0--> 3 --1.0--> 4 --1.0--> 5
    #   1 ----------5.0----------> 3   (longer direct edge)
    #   3 --2.0--> 6 (directed; no way back)
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 1.0),
         (1, 3, 5.0), (3, 6, 2.0)], "src long, dst long, w double")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(edges, 1, max_hops=3).collect()}
    assert got[1] == 0.0
    assert got[2] == 1.0
    assert got[3] == 2.0           # 2-hop chain beats the 5.0 direct edge
    assert got[4] == 3.0
    assert got[6] == 4.0           # via the chain (2+2), not 5.0+2.0
    assert got[5] == 7.0           # only 3-edge path: direct 5.0 edge + 1 + 1
    full = {r["node"]: r["dist"]
            for r in shortest_paths(edges, 1, max_hops=4).collect()}
    assert full[5] == pytest.approx(4.0)   # 4-edge chain now beats it


def test_dedup_clusters_canonical_pick(spark):
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in dedup_clusters(docs, pairs).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (4, True), 5: (5, True)}


def _brandes_exact(adj, sources, max_depth, n_all=None):
    """Reference Brandes (Algorithm 1, Brandes 2001) in pure Python,
    restricted to the given sources and depth; undirected pair counted
    once (halved)."""
    from collections import deque

    bc = {v: 0.0 for v in adj}
    for s in sources:
        stack, preds = [], {v: [] for v in adj}
        sigma = {v: 0 for v in adj}
        dist = {v: -1 for v in adj}
        sigma[s], dist[s] = 1, 0
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] >= max_depth:
                continue
            stack.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        # nodes at exactly max_depth were never stacked; push them so
        # their dependency flows to predecessors
        tail = [v for v in adj if dist[v] == max_depth]
        delta = {v: 0.0 for v in adj}
        for w in sorted(stack + tail, key=lambda v: -dist[v]):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {v: b / 2.0 for v, b in bc.items()}


def _bc_spark(spark, edge_list, sources, max_depth):
    from osm_pg_etl_spark.operators.graph_algo import betweenness

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = betweenness(edges, sources, max_depth=max_depth)
    return {r["node"]: r["betweenness"] for r in got.collect()}


def _adj(edge_list):
    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


@pytest.mark.parametrize("name,edge_list", [
    ("path5", [(1, 2), (2, 3), (3, 4), (4, 5)]),
    ("star", [(1, 2), (1, 3), (1, 4), (1, 5)]),
    ("cycle6", [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)]),
    ("diamond", [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]),
])
def test_betweenness_exact_all_sources(spark, name, edge_list):
    nodes = sorted(_adj(edge_list))
    want = _brandes_exact(_adj(edge_list), nodes, max_depth=10)
    got = _bc_spark(spark, edge_list, nodes, max_depth=10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), (name, v)


def test_betweenness_path_known_values(spark):
    # path 1-2-3-4-5: interior pair dependencies are 3, 4, 3
    got = _bc_spark(spark, [(1, 2), (2, 3), (3, 4), (4, 5)],
                    [1, 2, 3, 4, 5], max_depth=10)
    assert got == pytest.approx({1: 0.0, 2: 3.0, 3: 4.0, 4: 3.0, 5: 0.0})


def test_betweenness_sampled_sources_and_depth(spark):
    # random-ish sparse graph; sampled sources + bounded depth must match
    # the reference implementation under the same restriction
    edge_list = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (2, 8),
                 (8, 9), (9, 4), (3, 10), (10, 6), (7, 1), (5, 9)]
    sources = [1, 4, 9]
    want = _brandes_exact(_adj(edge_list), sources, max_depth=3)
    got = _bc_spark(spark, edge_list, sources, max_depth=3)
    for v in want:
        assert got.get(v, 0.0) == pytest.approx(want[v], abs=1e-9), v


def test_harmonic_centrality_path(spark):
    from osm_pg_etl_spark.operators.graph_algo import harmonic_centrality

    # path 1-2-3-4: from sources {1,4}, H(2) = 1/1 + 1/2, H(3) = 1/2 + 1/1
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    got = {r["node"]: r["harmonic"]
           for r in harmonic_centrality(edges, [1, 4], max_depth=5).collect()}
    assert got == pytest.approx({2: 1.5, 3: 1.5, 1: 1 / 3, 4: 1 / 3})


def test_pagerank_matches_reference_power_iteration(spark):
    from osm_pg_etl_spark.operators.graph_algo import pagerank

    # small directed graph with a dangling node (4) and a cycle
    edge_list = [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (5, 1)]
    nodes = [1, 2, 3, 4, 5]
    n, d = len(nodes), 0.85
    out = {}
    for u, v in edge_list:
        out.setdefault(u, set()).add(v)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        dangling = sum(p for v, p in pr.items() if v not in out)
        base = (1.0 - d) / n + d * dangling / n
        nxt = {v: 0.0 for v in nodes}
        for u, vs in out.items():
            for v in vs:
                nxt[v] += pr[u] / len(vs)
        pr = {v: base + d * nxt[v] for v in nodes}
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(edges, n_iter=10).collect()}
    assert set(got) == set(pr)
    for v in pr:
        assert got[v] == pytest.approx(pr[v], abs=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_triangle_counts_known_graphs(spark):
    from osm_pg_etl_spark.operators.graph_algo import triangle_counts

    # K4: 4 triangles, every node in 3, clustering 1.0
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in triangle_counts(
               spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert got == {v: (3, 3, 1.0) for v in range(1, 5)}

    # triangle with a pendant: 5-1-2-3(-1), 1-2-3 form the triangle
    g = [(1, 2), (2, 3), (3, 1), (1, 5)]
    got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in triangle_counts(
               spark.createDataFrame(g, "src long, dst long")).collect()}
    assert got[1] == (3, 1, round(2 * 1 / (3 * 2), 6))
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (2, 1, 1.0)
    assert got[5] == (1, 0, 0.0)

    # square (C4): no triangles anywhere
    c4 = [(1, 2), (2, 3), (3, 4), (4, 1)]
    got = {r["node"]: r["n_triangles"]
           for r in triangle_counts(
               spark.createDataFrame(c4, "src long, dst long")).collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 0}


def test_personalized_pagerank_reference(spark):
    from osm_pg_etl_spark.operators.graph_algo import personalized_pagerank

    edge_list = [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (5, 1)]
    nodes = [1, 2, 3, 4, 5]
    seeds, d = [1], 0.85
    out = {}
    for u, v in edge_list:
        out.setdefault(u, set()).add(v)
    pr = {v: (1.0 if v in seeds else 0.0) for v in nodes}
    for _ in range(10):
        dangling = sum(p for v, p in pr.items() if v not in out)
        base = (1.0 - d) / 1 + d * dangling / 1
        nxt = {v: 0.0 for v in nodes}
        for u, vs in out.items():
            for v in vs:
                nxt[v] += pr[u] / len(vs)
        pr = {v: (base if v in seeds else 0.0) + d * nxt[v] for v in nodes}
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["pagerank"]
           for r in personalized_pagerank(edges, seeds, n_iter=10).collect()}
    for v in pr:
        assert got[v] == pytest.approx(pr[v], abs=1e-12), v
    # mass conservation and seed dominance
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[1] == max(got.values())
    # node 4 is a sink reachable only via 3; node 5 gets nothing (no
    # in-edges, not a seed)
    assert got[5] == 0.0


@pytest.mark.parametrize("block_edges", [ONE_BLOCK, 2, SINGLETON_BLOCKS],
                         ids=["one-block", "several-blocks", "singleton"])
def test_pagerank_equals_python_replay(spark, monkeypatch, block_edges):
    """The block steps must not change the rank vector, however the
    graph is cut into blocks: compare against a per-round NumPy-free
    replay of the same operation sequence."""
    from osm_pg_etl_spark.operators.graph_algo import pagerank

    monkeypatch.setattr(ga, "_ARRAY_BLOCK_EDGES", block_edges)
    rows = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2), (5, 1)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(edges, n_iter=7, damping=0.85).collect()}

    nodes = sorted({n for e in rows for n in e})
    out = {}
    for u, v in rows:
        out.setdefault(u, []).append(v)
    n = len(nodes)
    pr = {x: 1.0 / n for x in nodes}
    for _ in range(7):
        dang = sum(pr[x] for x in nodes if x not in out)
        inflow = {x: 0.0 for x in nodes}
        for u, vs in out.items():
            for v in vs:
                inflow[v] += pr[u] / len(vs)
        pr = {x: (1.0 - 0.85) / n + (0.85 * dang) / float(n)
              + 0.85 * inflow[x] for x in nodes}
    assert set(got) == set(pr)
    for x in nodes:
        assert got[x] == pr[x] or abs(got[x] - pr[x]) < 1e-15


@pytest.mark.parametrize("block_edges", [ONE_BLOCK, 16, SINGLETON_BLOCKS],
                         ids=["one-block", "several-blocks", "singleton"])
def test_lpa_argmax_equals_mode(spark, monkeypatch, block_edges):
    """label_propagation's per-node argmax must pick exactly what
    mode(label, deterministic=True) picks — most frequent label, ties to
    the lowest — round for round. The graph is mostly degree-2 ring and
    chain nodes, so nearly every node is a two-way tie every round,
    exercising the tie-break densely; four rounds replayed in lockstep
    against Spark's mode."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.graph_algo import label_propagation

    monkeypatch.setattr(ga, "_ARRAY_BLOCK_EDGES", block_edges)
    ring = [(i, (i + 1) % 24) for i in range(24)]
    chains = [(0, 12), (5, 30), (30, 31), (31, 32), (32, 17), (9, 40),
              (40, 41), (41, 9), (20, 50), (50, 51)]
    edges = spark.createDataFrame(ring + chains, "src long, dst long")
    e = symmetric_edges(edges).localCheckpoint()
    want = (e.select(F.col("a").alias("id")).distinct()
            .withColumn("label", F.col("id")))
    for rounds in range(1, 5):
        want = (e.join(want.withColumnRenamed("id", "a"), "a")
                .groupBy(F.col("b").alias("id"))
                .agg(F.mode("label", True).alias("label"))
                .localCheckpoint())
        got = label_propagation(edges, n_iter=rounds)
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, want.collect()))


def test_label_propagation_two_cliques(spark):
    from osm_pg_etl_spark.operators.graph_algo import label_propagation

    # two 4-cliques {1..4} and {10..13} joined by one bridge edge 4-10:
    # LPA must settle each clique on its minimum label and keep the
    # bridge endpoints with their own cliques
    clique = lambda ns: [(a, b) for a in ns for b in ns if a < b]
    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        "src long, dst long")
    got = {r["node"]: r["community"]
           for r in label_propagation(edges, n_iter=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10}


def test_label_propagation_deterministic_tiebreak(spark):
    from osm_pg_etl_spark.operators.graph_algo import label_propagation

    # single edge: after round 1 both nodes swap labels (1<-2's label=2,
    # 2<-1's label=1); determinism requires the same result every run
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    a = sorted(map(tuple, label_propagation(edges, n_iter=3).collect()))
    b = sorted(map(tuple, label_propagation(edges, n_iter=3).collect()))
    assert a == b


def test_label_propagation_matches_reference_sync_lpa(spark):
    from osm_pg_etl_spark.operators.graph_algo import label_propagation

    # reference implementation in plain Python: synchronous update, most
    # frequent neighbour label, tie -> smallest label
    edge_list = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1), (3, 7),
                 (7, 8), (8, 9), (9, 7)]
    n_iter = 4
    adj: dict[int, list[int]] = {}
    for u, v in edge_list:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v, ns in adj.items():
            freq: dict[int, int] = {}
            for n in ns:
                freq[labels[n]] = freq.get(labels[n], 0) + 1
            nxt[v] = min(l for l, c in freq.items()
                         if c == max(freq.values()))
        labels = nxt
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["community"]
           for r in label_propagation(edges, n_iter=n_iter).collect()}
    assert got == labels


def test_modularity_two_cliques_reference_value(spark):
    """Plain-Python Newman modularity cross-check on the two-clique graph:
    LPA finds the cliques, Q must match the hand-computed score."""
    from osm_pg_etl_spark.operators.graph_algo import (
        label_propagation, symmetric_edges)
    from pyspark.sql import functions as F

    clique = lambda ns: [(a, b) for a in ns for b in ns if a < b]
    edge_list = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels = {r["node"]: r["community"]
              for r in label_propagation(edges, n_iter=4).collect()}

    # reference Q over the undirected simple graph
    m = len(edge_list)
    intra = sum(labels[u] == labels[v] for u, v in edge_list)
    deg: dict[int, int] = {}
    for u, v in edge_list:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    dc: dict[int, int] = {}
    for n, c in labels.items():
        dc[c] = dc.get(c, 0) + deg[n]
    want = intra / m - sum((d / (2 * m)) ** 2 for d in dc.values())

    # engine-side computation (same construction as q_osm_modularity)
    und = symmetric_edges(edges)
    la = spark.createDataFrame(list(labels.items()), "a long, ca long")
    lb = la.select(F.col("a").alias("b"), F.col("ca").alias("cb"))
    j = und.join(la, "a").join(lb, "b")
    tot = j.agg(F.count(F.lit(1)).alias("m2"),
                F.sum((F.col("ca") == F.col("cb")).cast("long"))
                .alias("intra2")).collect()[0]
    degc = (j.groupBy("a", "ca").agg(F.count(F.lit(1)).alias("k"))
            .groupBy("ca").agg(F.sum("k").alias("dc")).collect())
    got = (tot["intra2"] / tot["m2"]
           - sum((r["dc"] / tot["m2"]) ** 2 for r in degc))
    assert abs(got - want) < 1e-12
    assert want > 0.4  # two near-cliques -> strongly modular
    assert abs(want - 0.42307692307692313) < 1e-12  # hand-checked value


def _louvain_ref(edge_list, rounds):
    """Plain-Python replica of the documented louvain contract: per round,
    argmax over neighbour communities of w(x->c) - k_x*tot'(c)/2m with
    (score DESC, community ASC) tie-break, move applied only when the
    winner's id < current label; contraction sums inter-community weights
    and member degrees between levels."""
    from collections import Counter

    und = {(min(u, v), max(u, v)) for u, v in edge_list if u != v}
    wedges = Counter()
    for u, v in und:
        wedges[(u, v)] += 1
        wedges[(v, u)] += 1
    deg = Counter()
    for (a, _b), wt in wedges.items():
        deg[a] += wt
    m2 = float(sum(deg.values()))

    def move_rounds(wedges, deg, n_rounds):
        labels = {x: x for x in deg}
        for _ in range(n_rounds):
            ctot = Counter()
            for x, k in deg.items():
                ctot[labels[x]] += k
            k2c = {x: Counter() for x in deg}
            for (a, b), wt in wedges.items():
                k2c[a][labels[b]] += wt
            nxt = {}
            for x in deg:
                cand = dict(k2c[x])
                cand.setdefault(labels[x], 0)
                def score(c):
                    tot_adj = ctot[c] - (deg[x] if c == labels[x] else 0)
                    return cand[c] - deg[x] * tot_adj / m2
                cb = max(cand, key=lambda c: (score(c), -c))
                nxt[x] = cb if cb < labels[x] else labels[x]
            labels = nxt
        return labels

    orig = None
    for li, nr in enumerate(rounds):
        labels = move_rounds(wedges, deg, nr)
        orig = labels if orig is None else {n: labels[c]
                                            for n, c in orig.items()}
        if li < len(rounds) - 1:
            nw, nd = Counter(), Counter()
            for (a, b), wt in wedges.items():
                if labels[a] != labels[b]:
                    nw[(labels[a], labels[b])] += wt
            for x, k in deg.items():
                nd[labels[x]] += k
            wedges, deg = nw, nd
    return orig


def test_louvain_two_cliques(spark):
    from osm_pg_etl_spark.operators.graph_algo import louvain

    clique = lambda ns: [(a, b) for a in ns for b in ns if a < b]
    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        "src long, dst long")
    got = {r["node"]: r["community"]
           for r in louvain(edges, rounds=(4, 2)).collect()}
    # each clique collapses onto its minimum label; the bridge does not
    # merge them (joining the other clique has negative gain)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10}


def test_louvain_matches_reference_python(spark):
    """Seeded random graphs through the real operator vs the plain-Python
    reference — full multi-level parity including contraction."""
    import random

    from osm_pg_etl_spark.operators.graph_algo import louvain

    rng = random.Random(7)
    for case in range(4):
        n_nodes = rng.randint(6, 25)
        n_edges = rng.randint(n_nodes, 3 * n_nodes)
        edge_list = sorted({(min(u, v), max(u, v)) for u, v in
                            ((rng.randint(0, n_nodes),
                              rng.randint(0, n_nodes))
                             for _ in range(n_edges)) if u != v})
        if not edge_list:
            continue
        rounds = (rng.randint(1, 4), rng.randint(1, 3))
        want = _louvain_ref(edge_list, rounds)
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["node"]: r["community"]
               for r in louvain(edges, rounds=rounds).collect()}
        assert got == want, (edge_list, rounds)


def test_louvain_modularity_beats_lpa(spark):
    """The gate's quality claim: on a sparse random graph — the regime
    where 4-iteration LPA leaves nearly everything in singleton
    communities (Q ≈ 0, exactly what it scores on the car graph) —
    Louvain's partition scores strictly higher Newman modularity. (On
    easy benchmarks like a ring of cliques both find the ideal partition
    and tie; the sparse regime is where the optimizer matters.)"""
    import random

    from osm_pg_etl_spark.operators.graph_algo import (
        label_propagation, louvain)

    rng = random.Random(11)
    edge_list = sorted({(min(u, v), max(u, v)) for u, v in
                        ((rng.randint(0, 299), rng.randint(0, 299))
                         for _ in range(600)) if u != v})

    def q_of(labels):
        from collections import Counter
        m = len(edge_list)
        deg = Counter()
        intra = 0
        for u, v in edge_list:
            deg[u] += 1
            deg[v] += 1
            intra += labels[u] == labels[v]
        dc = Counter()
        for n, c in labels.items():
            dc[c] += deg[n]
        return intra / m - sum((d / (2 * m)) ** 2 for d in dc.values())

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    lv = {r["node"]: r["community"]
          for r in louvain(edges, rounds=(4, 2)).collect()}
    lpa = {r["node"]: r["community"]
           for r in label_propagation(edges, n_iter=4).collect()}
    assert q_of(lv) > q_of(lpa) + 0.05
    assert q_of(lv) > 0.2  # real structure found vs LPA's near-zero


def test_shortest_paths_weighted_beats_hop_bound(spark, monkeypatch):
    """Fixture where the 4-hop bound is provably wrong: a 7-edge cheap
    chain (true distance 7.0) vs a direct expensive edge (10.0). Bounded
    shortest_paths(max_hops=4) must return 10.0; the fixpoint operator
    must return 7.0. With one node per block the operator runs the
    per-hop loop, one round per hop; in one block it solves in one."""
    from osm_pg_etl_spark.operators.graph_algo import (
        shortest_paths, shortest_paths_weighted)

    chain = [(i, i + 1, 1.0) for i in range(1, 8)]  # 1..8, 7 hops
    edges = spark.createDataFrame(chain + [(1, 8, 10.0)],
                                  "src long, dst long, w double")
    bounded = {r["node"]: r["dist"] for r in
               shortest_paths(edges, 1, max_hops=4).collect()}
    monkeypatch.setattr(ga, "_BLOCK_EDGES", SINGLETON_BLOCKS)
    exact, rounds = shortest_paths_weighted(edges, 1, return_rounds=True)
    exact = {r["node"]: r["dist"] for r in exact.collect()}
    assert bounded[8] == 10.0
    assert exact[8] == 7.0
    assert exact == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0, 5: 4.0, 6: 5.0,
                     7: 6.0, 8: 7.0}
    # path diameter 7 -> 7 improving rounds + 1 fixpoint-detection round
    assert rounds == 8
    monkeypatch.setattr(ga, "_BLOCK_EDGES", ONE_BLOCK)
    one, rounds = shortest_paths_weighted(edges, 1, return_rounds=True)
    assert {r["node"]: r["dist"] for r in one.collect()} == exact
    assert rounds == 1


def test_shortest_paths_weighted_max_rounds_cap(spark, monkeypatch):
    """Exhausting max_rounds before the fixpoint yields truncated
    distances — which must be LOUD (RuntimeWarning), not silently
    indistinguishable from a converged result. Rounds count block
    crossings: one node per block caps the per-hop loop, while one block
    converges in its first round."""
    import warnings

    import pytest

    from osm_pg_etl_spark.operators.graph_algo import shortest_paths_weighted

    chain = [(i, i + 1, 1.0) for i in range(1, 8)]
    edges = spark.createDataFrame(chain, "src long, dst long, w double")
    monkeypatch.setattr(ga, "_BLOCK_EDGES", SINGLETON_BLOCKS)
    with pytest.warns(RuntimeWarning, match="truncated"):
        got, rounds = shortest_paths_weighted(edges, 1, max_rounds=3,
                                              return_rounds=True)
    assert rounds == 3           # capped before the fixpoint
    assert got.count() == 4      # nodes within 3 hops only
    monkeypatch.setattr(ga, "_BLOCK_EDGES", ONE_BLOCK)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        one, rounds = shortest_paths_weighted(edges, 1, max_rounds=3,
                                              return_rounds=True)
    assert rounds == 1
    assert {r["node"]: r["dist"] for r in one.collect()} == {
        i: float(i - 1) for i in range(1, 9)}


def test_shortest_paths_weighted_source_dispatch(spark):
    """bool is not a node id; numpy integer scalars are; a converged run
    emits no truncation warning."""
    import warnings

    import numpy as np
    import pytest

    from osm_pg_etl_spark.operators.graph_algo import shortest_paths_weighted

    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    with pytest.raises(TypeError, match="bool"):
        shortest_paths_weighted(edges, True)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = {r["node"]: r["dist"]
               for r in shortest_paths_weighted(edges, np.int64(1)).collect()}
    assert got == {1: 0.0, 2: 1.0}


def test_shortest_km_oracle_round_margin(spark, monkeypatch):
    """The osm_shortest_km oracle unrolls a FIXED number of relaxation
    rounds; the gate is only honest if the graph's hop depth stays well
    inside it. With one node per block the operator's rounds are hops:
    pin a >=2x margin on the sf0.001 car graph (measured: 11 rounds vs
    the 30-round unroll). In one block it solves in one round, to the
    same distances."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.graph_algo import shortest_paths_weighted
    from osm_pg_etl_spark.operators.graphs import directed_network
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import merged_network
    from osm_pg_etl_spark.plans.osm_derived import (
        _SSSP_ORACLE_ROUNDS, derive_osm)

    d = derive_osm(spark, "/root/testdata/sf0.001")
    cn = car_network(d["ways"]).cache()
    merged = merged_network(cn, d["way_nodes"])
    directed = directed_network(merged, minimal=True).cache()
    source = directed.agg(F.min("start_node")).collect()[0][0]

    def run(block_edges):
        monkeypatch.setattr(ga, "_BLOCK_EDGES", block_edges)
        dist, rounds = shortest_paths_weighted(
            directed, source, src="start_node", dst="end_node",
            weight="length", return_rounds=True)
        return sorted(map(tuple, dist.collect())), rounds

    hops, rounds = run(SINGLETON_BLOCKS)
    assert rounds * 2 <= _SSSP_ORACLE_ROUNDS, (rounds, _SSSP_ORACLE_ROUNDS)
    one, rounds = run(ONE_BLOCK)
    assert rounds == 1
    assert one == hops


def test_refine_connected_splits_disconnected_community(spark):
    """Two triangles {1,2,3} and {7,8,9} with NO edge between them, both
    hand-labelled community 1 (an internally disconnected community, the
    defect Leiden fixes): refinement must split them into their pieces
    and must strictly increase modularity."""
    from osm_pg_etl_spark.operators.graph_algo import refine_connected

    edge_list = [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3, 7, 8, 9)], "node long, community long")
    got = {r["node"]: r["community"]
           for r in refine_connected(edges, labels).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}

    def q_of(lab):
        from collections import Counter
        m = len(edge_list)
        deg, dc, intra = Counter(), Counter(), 0
        for u, v in edge_list:
            deg[u] += 1
            deg[v] += 1
            intra += lab[u] == lab[v]
        for n, c in lab.items():
            dc[c] += deg[n]
        return intra / m - sum((d / (2 * m)) ** 2 for d in dc.values())

    before = q_of({n: 1 for n in (1, 2, 3, 7, 8, 9)})
    assert q_of(got) > before


def test_refine_connected_keeps_connected_communities(spark):
    """Already-connected communities are untouched up to the canonical
    min-member relabel; singletons with no intra edge keep their own id."""
    from osm_pg_etl_spark.operators.graph_algo import (
        louvain, refine_connected)

    clique = lambda ns: [(a, b) for a in ns for b in ns if a < b]
    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10), (99, 1)],
        "src long, dst long")
    lv = louvain(edges, rounds=(4, 2))
    refined = {r["node"]: r["community"]
               for r in refine_connected(edges, lv).collect()}
    base = {r["node"]: r["community"] for r in lv.collect()}
    # louvain labels are already min-member ids here; refinement must be
    # the identity (communities are connected: 99 hangs off node 1)
    assert refined == base


def test_dedup_canonical_by_keeps_best(spark):
    """Quality-aware canonical: highest score wins, ties to smallest id;
    unpaired docs are their own canonical cluster."""
    from osm_pg_etl_spark.operators.graph_algo import dedup_canonical_by

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (5, 99)],
        "doc_id long, n_chars long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in dedup_canonical_by(docs, pairs, "n_chars").collect()}
    # cluster {1,2,3}: scores 10,50,50 -> tie between 2 and 3 -> 2 wins
    assert got == {1: (1, False), 2: (1, True), 3: (1, False),
                   4: (4, True), 5: (5, True)}


def test_louvain_weighted_prefers_heavy_edges(spark):
    """Weighted Louvain: node 3 sits between cliquish pairs; a heavy edge
    to the {1,2} side must pull it there even though topology alone ties.
    Path 1-2-3-4-5 with w(2,3)=100, all else 1: {1,2,3} + {4,5}."""
    from osm_pg_etl_spark.operators.graph_algo import louvain

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 100), (3, 4, 1), (4, 5, 1)],
        "src long, dst long, w long")
    got = {r["node"]: r["community"]
           for r in louvain(edges, rounds=(4, 2), weight="w").collect()}
    assert got[2] == got[3]  # the heavy edge binds 2-3
    assert got[2] != got[4]
    # unweighted on the same topology need not produce the same split
    unw = {r["node"]: r["community"]
           for r in louvain(edges, rounds=(4, 2)).collect()}
    assert set(unw) == set(got)  # same node coverage either way


def test_louvain_weighted_parallel_edges_min_collapse(spark):
    """Parallel duplicate edges collapse to MIN weight (mirror of the
    unweighted distinct): (1,2) listed with w=5 and w=9 behaves as w=5."""
    from osm_pg_etl_spark.operators.graph_algo import louvain

    a = spark.createDataFrame([(1, 2, 5), (1, 2, 9), (2, 3, 1)],
                              "src long, dst long, w long")
    b = spark.createDataFrame([(1, 2, 5), (2, 3, 1)],
                              "src long, dst long, w long")
    ra = sorted(map(tuple, louvain(a, rounds=(3, 2), weight="w").collect()))
    rb = sorted(map(tuple, louvain(b, rounds=(3, 2), weight="w").collect()))
    assert ra == rb


def test_shortest_paths_weighted_multi_source(spark):
    """Multi-source mode: per-(s, node) distances equal the per-source
    single runs, all advanced in the same rounds."""
    from osm_pg_etl_spark.operators.graph_algo import shortest_paths_weighted

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (10, 3, 0.5)],
        "src long, dst long, w double")
    multi = {(r["s"], r["node"]): r["dist"]
             for r in shortest_paths_weighted(edges, [1, 10]).collect()}
    for s in (1, 10):
        single = {r["node"]: r["dist"]
                  for r in shortest_paths_weighted(edges, s).collect()}
        assert {n: d for (ss, n), d in multi.items() if ss == s} == single
    assert multi[(1, 4)] == 3.0
    assert multi[(10, 4)] == 1.5


def test_modularity_of_strict_coverage_and_params(spark):
    """An edge endpoint missing from the partition must raise under the
    default strict contract (an inner join would silently drop the edge
    and skew Q); custom src/dst column names are accepted like every
    sibling operator."""
    import pytest

    from osm_pg_etl_spark.operators.graph_algo import modularity_of

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    full = spark.createDataFrame([(1, 1), (2, 1), (3, 3)],
                                 "node long, community long")
    row = modularity_of(edges, full, src="u", dst="v").collect()[0]
    assert row["n_communities"] == 2
    partial = full.filter("node != 3")
    with pytest.raises(ValueError, match="missing from labels"):
        modularity_of(edges, partial, src="u", dst="v")
    # non-strict keeps the old inner-join behavior for by-construction
    # coverage (and for callers that deliberately score a subgraph)
    modularity_of(edges, partial, src="u", dst="v", strict=False).collect()


def test_shortest_paths_radius_exact_and_fewer_rounds(spark, monkeypatch):
    """48-node unit-weight path: radius stepping with Δ=8 must return the
    exact Bellman-Ford distances while spending FAR fewer total rounds
    than the hop-diameter 48 the per-hop loop pays (shortcut doubling
    ~log2(8)+1 plus ~2·47/8 relaxation rounds). One node per block is the
    per-hop loop; in one block the fixpoint takes one round, and the
    radius operator skips the shortcuts there."""
    from osm_pg_etl_spark.operators.graph_algo import (
        shortest_paths_radius, shortest_paths_weighted)

    n = 48
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, w double")
    monkeypatch.setattr(ga, "_BLOCK_EDGES", SINGLETON_BLOCKS)
    want, bf_rounds = shortest_paths_weighted(edges, 0, return_rounds=True)
    want = {r["node"]: r["dist"] for r in want.collect()}
    got, rounds = shortest_paths_radius(edges, 0, delta=8.0,
                                        return_rounds=True)
    got = {r["node"]: r["dist"] for r in got.collect()}
    assert got == want
    assert bf_rounds == n  # the baseline really is diameter-bound
    assert rounds <= n // 2, (rounds, bf_rounds)
    monkeypatch.setattr(ga, "_BLOCK_EDGES", ONE_BLOCK)
    one, bf_rounds = shortest_paths_weighted(edges, 0, return_rounds=True)
    assert bf_rounds == 1
    assert {r["node"]: r["dist"] for r in one.collect()} == want
    one, rounds = shortest_paths_radius(edges, 0, delta=8.0,
                                        return_rounds=True)
    assert rounds == 1
    assert {r["node"]: r["dist"] for r in one.collect()} == want


def test_shortest_paths_radius_heavy_edges_and_multi_source(spark,
                                                            monkeypatch):
    """Edges ≥ Δ never enter the shortcut closure but still relax
    correctly; multi-source dispatch mirrors shortest_paths_weighted.
    One node per block, so the shortcut closure is built."""
    from osm_pg_etl_spark.operators.graph_algo import (
        shortest_paths_radius, shortest_paths_weighted)

    monkeypatch.setattr(ga, "_BLOCK_EDGES", SINGLETON_BLOCKS)

    edge_list = [(1, 2, 0.5), (2, 3, 0.5), (3, 4, 10.0), (4, 5, 0.5),
                 (1, 4, 12.0), (9, 4, 0.25)]
    edges = spark.createDataFrame(edge_list, "src long, dst long, w double")
    for source in (1, [1, 9]):
        want = sorted(map(tuple,
                          shortest_paths_weighted(edges, source).collect()))
        got = sorted(map(tuple,
                         shortest_paths_radius(edges, source,
                                               delta=1.0).collect()))
        assert got == want
    single = {r["node"]: r["dist"]
              for r in shortest_paths_radius(edges, 1, delta=1.0).collect()}
    assert single[5] == 11.5  # 0.5+0.5+10.0+0.5 beats 12.0+0.5


def test_louvain_early_stop_identical_and_saves_rounds(spark):
    """Early stop fires only at the label fixpoint, where further
    min-label-gated rounds are idempotent — so the partition must be
    IDENTICAL to the full fixed unroll, with fewer executed rounds on a
    fast-converging graph (two 4-cliques joined by one bridge settle in
    ~2 rounds against a 6-round budget)."""
    from osm_pg_etl_spark.operators.graph_algo import louvain

    cliq = [(a, b) for grp in ([1, 2, 3, 4], [11, 12, 13, 14])
            for i, a in enumerate(grp) for b in grp[i + 1:]]
    edges = spark.createDataFrame(cliq + [(4, 11)], "src long, dst long")
    budget = (6, 4)
    full = sorted(map(tuple, louvain(edges, rounds=budget,
                                     early_stop=False).collect()))
    fast, executed = louvain(edges, rounds=budget, return_rounds=True)
    assert sorted(map(tuple, fast.collect())) == full
    assert len(executed) == len(budget)
    assert sum(executed) < sum(budget), executed


def test_betweenness_exact_waves_match_reference(spark):
    """betweenness_exact over ALL nodes in small waves must equal the
    pure-Python all-source Brandes — the waves partition the source set
    and dependencies are additive over sources."""
    from osm_pg_etl_spark.operators.graph_algo import betweenness_exact

    edge_list = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (2, 8),
                 (8, 9), (9, 4), (3, 10), (10, 6), (7, 1), (5, 9)]
    nodes = sorted(_adj(edge_list))
    want = _brandes_exact(_adj(edge_list), nodes, max_depth=20)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got_df, waves = betweenness_exact(edges, wave_size=3, max_depth=20,
                                      return_waves=True)
    got = {r["node"]: r["betweenness"] for r in got_df.collect()}
    assert waves == [3, 3, 3, 1]  # ceil(10/3) waves partitioning sources
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_turn_restricted_distances_banned_turn_forces_detour(spark):
    """Diamond where the direct turn at node 2 is banned: (1→2)→(2→3)
    restricted, so node 3 costs 3 via the 2→4→3 detour instead of 2;
    without the restriction it costs 2. Edge-based state is what makes
    this expressible — node-keyed SSSP cannot represent it."""
    from osm_pg_etl_spark.operators.graph_algo import (
        turn_restricted_distances)

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (2, 4, 1.0), (4, 3, 1.0)],
        "start_node long, end_node long, length double")
    restr = spark.createDataFrame([(1, 2, 3)],
                                  "from_u long, via long, to_v long")
    got = {r["node"]: r["dist"] for r in
           turn_restricted_distances(edges, 1,
                                     restrictions=restr).collect()}
    assert got == {1: 0.0, 2: 1.0, 4: 2.0, 3: 3.0}
    free = {r["node"]: r["dist"] for r in
            turn_restricted_distances(edges, 1).collect()}
    assert free[3] == 2.0


def test_turn_restricted_distances_uturn_prohibition(spark):
    """Two-way edge 1↔2 plus 2→3: with the default U-turn prohibition
    the walk 1→2→1 is not a permitted transition, so node 1 is only
    reachable as the source (dist 0) and 3 costs 1+5."""
    from osm_pg_etl_spark.operators.graph_algo import (
        line_graph_transitions, turn_restricted_distances)

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 5.0)],
        "start_node long, end_node long, length double")
    got = {r["node"]: r["dist"] for r in
           turn_restricted_distances(edges, 1).collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 6.0}
    trans = {(r["from_u"], r["via"], r["to_v"])
             for r in line_graph_transitions(edges).collect()}
    assert (1, 2, 1) not in trans     # the U-turn
    assert (1, 2, 3) in trans


def test_louvain_round_argmax_agg_equals_window(spark):
    """_louvain_round's per-node argmax as min(struct(-score, cb, ca))
    must pick exactly the rows the original row_number window over
    (score DESC, cb ASC) picked — including exact-tie scores, which fall
    to the smallest community id."""
    from pyspark.sql import Window

    from osm_pg_etl_spark.operators.graph_algo import (_louvain_round,
                                                       symmetric_edges)
    from osm_pg_etl_spark.plans.osm_derived import (car_network,
                                                    derive_osm,
                                                    merged_network)

    d = derive_osm(spark, SF)
    cn = car_network(d["ways"]).cache()
    merged = merged_network(cn, d["way_nodes"])
    e = symmetric_edges(merged.select(
        F.col("start_node").alias("src"),
        F.col("end_node").alias("dst"))).localCheckpoint()
    we = e.select("a", "b", F.lit(1).cast("long").alias("w"))
    deg = (we.groupBy(F.col("a").alias("id"))
           .agg(F.sum("w").alias("k")).localCheckpoint())
    m2 = float(deg.agg(F.sum("k")).collect()[0][0])
    labels = deg.select("id", F.col("id").alias("label"))

    # two rounds through the shipped agg path
    got1 = _louvain_round(we, labels, deg, m2).localCheckpoint()
    got2 = _louvain_round(we, got1, deg, m2)

    # reference: the earlier window formulation, replayed on the same
    # score table (rebuilt inline so the test owns the old semantics)
    def window_round(lbls):
        lb = lbls.select(F.col("id").alias("b"), F.col("label").alias("cb"))
        k2c = (we.join(lb, "b").groupBy("a", "cb")
               .agg(F.sum("w").alias("w2c")))
        cur = lbls.select(F.col("id").alias("a"), F.col("label").alias("ca"))
        cand = (k2c.unionByName(cur.select(
                    "a", F.col("ca").alias("cb"),
                    F.lit(0).cast("long").alias("w2c")))
                .groupBy("a", "cb").agg(F.sum("w2c").alias("w2c")))
        ctot = (lbls.join(deg, "id")
                .groupBy(F.col("label").alias("cb"))
                .agg(F.sum("k").alias("tot")))
        sc = (cand.join(cur, "a")
              .join(deg.withColumnRenamed("id", "a"), "a")
              .join(ctot, "cb")
              .withColumn("tot_adj",
                          F.col("tot") - F.when(F.col("cb") == F.col("ca"),
                                                F.col("k"))
                          .otherwise(F.lit(0)))
              .withColumn("score",
                          F.col("w2c").cast("double")
                          - F.col("k").cast("double")
                          * F.col("tot_adj").cast("double") / F.lit(m2)))
        w = Window.partitionBy("a").orderBy(F.col("score").desc(),
                                            F.col("cb").asc())
        return (sc.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("a").alias("id"),
                        F.when(F.col("cb") < F.col("ca"),
                               F.col("cb")).otherwise(F.col("ca"))
                        .alias("label")))

    want1 = window_round(labels).localCheckpoint()
    want2 = window_round(want1)
    assert sorted(map(tuple, got1.collect())) \
        == sorted(map(tuple, want1.collect()))
    assert sorted(map(tuple, got2.collect())) \
        == sorted(map(tuple, want2.collect()))
    assert got1.count() > 0


def test_louvain_round_self_candidate_least_ties(spark):
    """_louvain_round folds the node's own community into the
    argmax via a node-sized least() instead of unioning a zero-weight
    candidate row and re-aggregating (an edge-sized exchange). The
    corner this pins: exact ±0.0 score ties between the self candidate
    and a zero-weight neighbour candidate (struct orderings are total,
    −0.0 < +0.0), plus true-self-candidate domination when (a, ca) has
    intra-community edges. Zero-weight edges make every round-1
    candidate score a signed zero; three rounds replay the shipped path
    against the original union + row_number window formulation."""
    from pyspark.sql import Window

    from osm_pg_etl_spark.operators.graph_algo import _louvain_round

    raw = spark.createDataFrame(
        [(1, 2, 0), (2, 3, 0), (3, 4, 5), (4, 5, 5), (1, 5, 0),
         (2, 4, 0), (1, 3, 2), (5, 6, 0), (6, 7, 1), (2, 7, 3)],
        "a long, b long, w long")
    we = (raw.unionByName(raw.select(F.col("b").alias("a"),
                                     F.col("a").alias("b"), "w"))
          .filter(F.col("a") != F.col("b"))
          .groupBy("a", "b").agg(F.min("w").alias("w"))
          .localCheckpoint())
    deg = (we.groupBy(F.col("a").alias("id"))
           .agg(F.sum("w").alias("k")).localCheckpoint())
    m2 = float(deg.agg(F.sum("k")).collect()[0][0])

    def window_round(lbls):
        lb = lbls.select(F.col("id").alias("b"), F.col("label").alias("cb"))
        k2c = (we.join(lb, "b").groupBy("a", "cb")
               .agg(F.sum("w").alias("w2c")))
        cur = lbls.select(F.col("id").alias("a"), F.col("label").alias("ca"))
        cand = (k2c.unionByName(cur.select(
                    "a", F.col("ca").alias("cb"),
                    F.lit(0).cast("long").alias("w2c")))
                .groupBy("a", "cb").agg(F.sum("w2c").alias("w2c")))
        ctot = (lbls.join(deg, "id")
                .groupBy(F.col("label").alias("cb"))
                .agg(F.sum("k").alias("tot")))
        sc = (cand.join(cur, "a")
              .join(deg.withColumnRenamed("id", "a"), "a")
              .join(ctot, "cb")
              .withColumn("tot_adj",
                          F.col("tot") - F.when(F.col("cb") == F.col("ca"),
                                                F.col("k"))
                          .otherwise(F.lit(0)))
              .withColumn("score",
                          F.col("w2c").cast("double")
                          - F.col("k").cast("double")
                          * F.col("tot_adj").cast("double") / F.lit(m2)))
        w = Window.partitionBy("a").orderBy(F.col("score").desc(),
                                            F.col("cb").asc())
        return (sc.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("a").alias("id"),
                        F.when(F.col("cb") < F.col("ca"),
                               F.col("cb")).otherwise(F.col("ca"))
                        .alias("label")))

    got = deg.select("id", F.col("id").alias("label")).localCheckpoint()
    want = got
    for _ in range(3):
        got = _louvain_round(we, got, deg, m2).localCheckpoint()
        want = window_round(want).localCheckpoint()
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, want.collect()))
    assert got.count() == 7


def test_ckpt_observe_public_api_fallback(spark, monkeypatch):
    """When the private observed-metrics read breaks (a Spark minor bump
    moving QueryExecution.observedMetrics / PythonSQLUtils.toPyRow),
    _ckpt_observe must fall back to a separate probe job with identical
    values instead of taking down every fixpoint loop."""
    from osm_pg_etl_spark.operators import graph_algo

    df = spark.range(7).select(F.col("id").alias("a"),
                               (F.col("id") % 3).alias("b"))
    metrics = graph_algo._sig_metrics("a", "b")
    ck_ok, m_ok = graph_algo._ckpt_observe(df, *metrics)

    def boom(od, name):
        raise RuntimeError("private API gone")

    monkeypatch.setattr(graph_algo, "_read_observed", boom)
    ck_fb, m_fb = graph_algo._ckpt_observe(df, *metrics)
    assert m_fb == m_ok
    assert sorted(map(tuple, ck_fb.collect())) \
        == sorted(map(tuple, ck_ok.collect()))

    # an operator that leans on the probe still converges on the fallback
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long")
    comp = {(r["node"], r["component"])
            for r in graph_algo.connected_components(edges).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_sigma_table_single_checkpoint_rows(spark):
    """sigma_table (one consolidated checkpoint per level, frontier
    derived by dist filter) must produce the exact (s, node, dist, sigma)
    rows of textbook multi-source BFS with path counting."""
    from osm_pg_etl_spark.operators.graph_algo import sigma_table

    # 1-2, 1-3, 2-3, 2-4, 3-5, 4-5 (undirected)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 5), (4, 5)],
        "src long, dst long")
    got = {(r["s"], r["node"], r["dist"], r["sigma"])
           for r in sigma_table(edges, [1], max_depth=6).collect()}
    # dist/sigma by hand: 1:(0,1); 2,3:(1,1); 4 via 2 (1 path), 5 via 3
    # (1 path) at dist 2
    assert got == {(1, 1, 0, 1), (1, 2, 1, 1), (1, 3, 1, 1),
                   (1, 4, 2, 1), (1, 5, 2, 1)}
    # sigma accumulation across equal-length paths
    edges2 = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long")
    got2 = {(r["s"], r["node"], r["dist"], r["sigma"])
            for r in sigma_table(edges2, [1], max_depth=6).collect()}
    assert got2 == {(1, 1, 0, 1), (1, 2, 1, 1), (1, 3, 1, 1),
                    (1, 4, 2, 2)}
