"""The block-local steps of weighted SSSP, connected components,
pagerank and label propagation (operators.graph_algo): the grouped-map
functions replayed on hand-checkable pandas frames without Spark, and
the Spark operators against pure-Python Dijkstra, union-find, power
iteration and label propagation over one block, several blocks and one
node per block."""

import heapq
import math
import random
from collections import Counter

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from osm_pg_etl_spark.operators import graph_algo as ga

NAN = float("nan")
# block sizes (_BLOCK_EDGES, _ARRAY_BLOCK_EDGES): every graph here in one
# block / one node per block
ONE_BLOCK, SINGLETON_BLOCKS = 10**12, 1e-12


def _sorted(df):
    return df.sort_values(["s", "node"]).reset_index(drop=True)


def _dijkstra_frame(state, edges):
    return _sorted(ga._block_dijkstra(
        pd.DataFrame(state, columns=["s", "node", "dist", "dirty"]),
        pd.DataFrame(edges, columns=["u", "v", "w", "intra"])))


def _expect(rows):
    return _sorted(pd.DataFrame(rows, columns=["s", "node", "dist", "prev"])
                   .astype({"s": "int64", "node": "int64",
                            "dist": "float64", "prev": "float64"}))


def test_block_dijkstra_dirty_and_clean_rows():
    """Dirty rows seed the heap; a clean row only bounds it: node 3's
    clean 1.5 beats the 2.0 path through 2, so 3 is neither improved nor
    expanded (its edge to 4 stays unrelaxed), while the clean row 5 is
    improved by the path from 1."""
    state = [(1, 1, 0.0, True), (1, 3, 1.5, False), (1, 5, 9.0, False)]
    edges = [(1, 2, 1.0, True), (2, 3, 1.0, True), (3, 4, 1.0, True),
             (1, 5, 4.0, True)]
    assert_frame_equal(_dijkstra_frame(state, edges),
                       _expect([(1, 2, 1.0, 1.0), (1, 5, 4.0, 4.0)]))


def test_block_dijkstra_ties_zero_weights_and_self_loops():
    """Two equal-length paths to 4 give one row; a zero-weight edge
    carries its tail's distance; self-loops (zero or positive) change
    nothing; a dirty row whose node has no edge in the block, like 6,
    yields nothing."""
    state = [(1, 1, 0.0, True), (1, 6, 4.0, True), (1, 7, 1.0, False)]
    edges = [(1, 2, 1.0, True), (1, 3, 1.0, True), (2, 4, 1.0, True),
             (3, 4, 1.0, True), (4, 5, 0.0, True), (1, 1, 0.0, True),
             (2, 2, 3.0, True)]
    assert_frame_equal(_dijkstra_frame(state, edges), _expect([
        (1, 2, 1.0, 1.0), (1, 3, 1.0, 1.0), (1, 4, 2.0, 2.0),
        (1, 5, 2.0, 2.0)]))


def test_block_dijkstra_cross_candidates_per_source():
    """Cross edges are relaxed from every settled node (seed or improved)
    and only the best candidate per (source, target) is kept, with NaN
    prev; each source runs its own Dijkstra over the same edges."""
    state = [(1, 1, 0.0, True), (2, 2, 0.0, True), (2, 1, 0.5, False)]
    edges = [(1, 2, 1.0, True), (1, 9, 4.0, False), (2, 9, 2.0, False),
             (2, 8, 0.5, False)]
    assert_frame_equal(_dijkstra_frame(state, edges), _expect([
        (1, 2, 1.0, 1.0), (1, 8, 1.5, NAN), (1, 9, 3.0, NAN),
        (2, 8, 0.5, NAN), (2, 9, 2.0, NAN)]))


def test_block_dijkstra_no_dirty_row_yields_nothing():
    state = [(1, 1, 0.0, False)]
    edges = [(1, 2, 1.0, True), (1, 9, 1.0, False)]
    assert _dijkstra_frame(state, edges).empty


def test_block_union_find_min_roots_and_cross_degrees():
    """Block 0 holds nodes 1-6. Intra edges join {2, 3, 5} and {1, 4};
    node 6 has only a cross edge, so it is its own representative. Nodes
    of block 1 (7-9) are not reported."""
    edges = pd.DataFrame(
        [(5, 3, 0, 0), (3, 2, 0, 0), (4, 1, 0, 0), (9, 4, 1, 0),
         (7, 5, 1, 0), (8, 6, 1, 0)],
        columns=["a", "b", "ba", "bb"]).assign(blk=0)
    got = (ga._block_union_find(edges)
           .sort_values("node").reset_index(drop=True))
    want = pd.DataFrame({"node": [1, 2, 3, 4, 5, 6],
                         "rep": [1, 2, 2, 1, 2, 6],
                         "xdeg": [0, 0, 0, 1, 1, 1]}).astype("int64")
    assert_frame_equal(got, want)


def _dijkstra(edges, source):
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist, heap = {source: 0.0}, [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj.get(u, ()):
            if d + w < dist.get(v, math.inf):
                dist[v] = d + w
                heapq.heappush(heap, (d + w, v))
    return dist


def _union_find(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for u, v, _ in edges:
        if u != v:
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            a, b = find(u), find(v)
            parent[max(a, b)] = min(a, b)
    return {n: find(n) for n in parent}


@pytest.fixture(scope="module")
def random_graph(spark):
    rnd = random.Random(7)
    edges = [(rnd.randrange(150), rnd.randrange(150), rnd.random() * 10)
             for _ in range(400)]
    return edges, spark.createDataFrame(edges, "src long, dst long, w double")


@pytest.mark.parametrize("block_edges", [ONE_BLOCK, 60, SINGLETON_BLOCKS],
                         ids=["one-block", "several-blocks", "singleton"])
def test_block_local_operators_match_python(random_graph, monkeypatch,
                                            block_edges):
    """Distances equal a pure-Python Dijkstra bit for bit, single-source
    and multi-source, and components equal a union-find, whatever the
    block size."""
    edges, df = random_graph
    monkeypatch.setattr(ga, "_BLOCK_EDGES", block_edges)
    single = {r["node"]: r["dist"]
              for r in ga.shortest_paths_weighted(df, 3).collect()}
    assert single == _dijkstra(edges, 3)
    sources = [3, 41, 120]
    multi = {(r["s"], r["node"]): r["dist"]
             for r in ga.shortest_paths_weighted(df, sources).collect()}
    assert multi == {(s, n): d for s in sources
                     for n, d in _dijkstra(edges, s).items()}
    comps = {r["node"]: r["component"]
             for r in ga.connected_components(df).collect()}
    assert comps == _union_find(edges)


def _pagerank(edges, n_iter, seeds=None, d=0.85):
    """Synchronous power iteration over the distinct edges, in the
    operators' operation order: ((1-d)/n + (d*m)/n) + d*inflow, inflow
    summed in edge order, teleport only to the seeds (n = len(seeds))."""
    out = {}
    for u, v in sorted(set(edges)):
        out.setdefault(u, []).append(v)
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes) if seeds is None else len(seeds)
    seed = set(nodes if seeds is None else seeds)
    pr = {x: 1.0 / n if x in seed else 0.0 for x in nodes}
    for _ in range(n_iter):
        m = 0.0
        for x in nodes:
            if x not in out:
                m += pr[x]
        inflow = dict.fromkeys(nodes, 0.0)
        for u, vs in out.items():
            for v in vs:
                inflow[v] += pr[u] / len(vs)
        pr = {x: ((1.0 - d) / n + (d * m) / n if x in seed else 0.0)
              + d * inflow[x] for x in nodes}
    return pr


def _lpa(edges, n_iter):
    """Synchronous label propagation: most frequent neighbour label, ties
    to the smallest."""
    nbrs = {}
    for u, v in edges:
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    label = {x: x for x in nbrs}
    for _ in range(n_iter):
        label = {x: min(Counter(label[y] for y in ys).items(),
                        key=lambda kv: (-kv[1], kv[0]))[0]
                 for x, ys in nbrs.items()}
    return label


def _rank_frame(ranks, dangling):
    return pd.DataFrame({"node": list(ranks), "pr": list(ranks.values()),
                         "c": NAN, "dang": [x in dangling for x in ranks]})


@pytest.mark.parametrize("seeds", [None, [1, 1, 9]], ids=["uniform", "ppr"])
def test_block_pagerank_runs_every_iteration_in_one_block(seeds):
    """With no state the block is the whole graph: its nodes are the
    edges' endpoints, it counts them (or takes n = len(seeds), a
    duplicated and an absent seed included) and its own dangling mass,
    and runs all iterations, equal to the Python loop. 4 is dangling, 5
    has no in-edge, 2 -> 2 is a self-loop."""
    pairs = [(1, 2), (1, 3), (2, 2), (2, 3), (3, 1), (3, 4), (5, 1)]
    edges = pd.DataFrame(pairs, columns=["u", "v"]).assign(intra=True)
    got = ga._block_pagerank(edges, None, iters=3,
                             n=None if seeds is None else len(seeds),
                             m=None, damping=0.85, seeds=seeds, cross=False)
    assert_frame_equal(got, _rank_frame(_pagerank(pairs, 3, seeds), {4}),
                       check_exact=True)


def test_block_pagerank_adds_cross_contributions_and_emits_its_own():
    """One iteration of block {1, 2} from given ranks, the global dangling
    mass m and node count n: contribution rows (c set, summed per node)
    join the intra inflow, and the cross edges' shares of the NEW ranks
    leave summed per target node outside the block."""
    edges = pd.DataFrame([(1, 2, True), (1, 7, False), (2, 7, False),
                          (2, 8, False)], columns=["u", "v", "intra"])
    state = pd.DataFrame({"node": [2, 1, 2, 1], "pr": [0.2, 0.3, NAN, NAN],
                          "c": [NAN, NAN, 0.04, 0.05]})
    got = ga._block_pagerank(edges, state, iters=1, n=5, m=0.1,
                             damping=0.85, seeds=None, cross=True)
    base = (1.0 - 0.85) / 5 + (0.85 * 0.1) / 5
    pr1 = base + 0.85 * (0.0 + 0.05)
    pr2 = base + 0.85 * (0.3 / 2 + 0.04)
    want = pd.concat([
        _rank_frame({1: pr1, 2: pr2}, ()),
        pd.DataFrame({"node": [7, 8], "pr": NAN,
                      "c": [pr1 / 2 + pr2 / 2, pr2 / 2], "dang": False})],
        ignore_index=True)
    assert_frame_equal(got, want, check_exact=True)


def test_block_lpa_runs_every_round_in_one_block():
    """Two triangles joined by a path: every node starts with its own id,
    and each round takes the most frequent neighbour label, ties to the
    smallest, equal to the Python loop round for round."""
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7), (5, 7)]
    sym = sorted(und + [(b, a) for a, b in und])
    edges = pd.DataFrame(sym, columns=["a", "b"]).assign(ba=0, blk=0)
    for rounds in range(4):
        want = _lpa(und, rounds)
        got = ga._block_lpa(edges, None, rounds=rounds, ghosts=False)
        assert_frame_equal(got, pd.DataFrame(
            {"blk": 0, "node": sorted(want),
             "label": [want[x] for x in sorted(want)]}), check_exact=True)


def test_block_lpa_reads_cross_labels_and_emits_them():
    """Block 0 holds nodes 1-3; 7 (block 1) and 8 (block 2) are read from
    the state. Every node sees a tie and takes the smallest label. The
    blocks holding an edge out of a node of block 0 get its new label:
    block 1 those of 1 and 3, block 2 that of 2."""
    edges = pd.DataFrame([(2, 1, 0), (3, 1, 0), (7, 1, 1), (1, 2, 0),
                          (8, 2, 2), (1, 3, 0), (7, 3, 1)],
                         columns=["a", "b", "ba"]).assign(blk=0)
    state = pd.DataFrame({"blk": 0, "node": [3, 1, 2, 8, 7],
                          "label": [30, 10, 20, 20, 5]})
    got = ga._block_lpa(edges, state, rounds=1, ghosts=True)
    assert_frame_equal(got, pd.DataFrame({
        "blk": [0, 0, 0, 1, 1, 2], "node": [1, 2, 3, 1, 3, 2],
        "label": [5, 10, 5, 5, 5, 10]}), check_exact=True)


@pytest.fixture(scope="module")
def small_graph(spark):
    """Duplicated edges, self-loops, a dangling sink (99) and a node with
    no in-edge (98)."""
    rnd = random.Random(11)
    pairs = [(rnd.randrange(30), rnd.randrange(30)) for _ in range(70)]
    pairs += [(4, 99), (98, 4), (7, 7), (3, 5), (3, 5)]
    return pairs, spark.createDataFrame(pairs, "src long, dst long")


@pytest.mark.parametrize("block_edges", [ONE_BLOCK, 20, SINGLETON_BLOCKS],
                         ids=["one-block", "several-blocks", "singleton"])
def test_rank_and_label_operators_match_python(small_graph, monkeypatch,
                                               block_edges):
    """pagerank and personalized_pagerank equal the Python power
    iteration up to float sum order (< 1e-15), and label_propagation
    equals the Python loop exactly, whatever the block size."""
    pairs, df = small_graph
    monkeypatch.setattr(ga, "_ARRAY_BLOCK_EDGES", block_edges)
    for seeds, got in ((None, ga.pagerank(df, n_iter=4)),
                       ([3, 3, 17, 999],
                        ga.personalized_pagerank(df, [3, 3, 17, 999],
                                                 n_iter=3))):
        want = _pagerank(pairs, 4 if seeds is None else 3, seeds)
        got = {r["node"]: r["pagerank"] for r in got.collect()}
        assert set(got) == set(want)
        assert max(abs(got[x] - want[x]) for x in want) < 1e-15
    got = {r["node"]: r["community"]
           for r in ga.label_propagation(df, n_iter=3).collect()}
    assert got == _lpa(pairs, 3)


@pytest.mark.parametrize("block_edges", [ONE_BLOCK, 3, SINGLETON_BLOCKS],
                         ids=["one-block", "several-blocks", "singleton"])
def test_personalized_pagerank_duplicate_and_absent_seeds(spark, monkeypatch,
                                                          block_edges):
    """Seed 1 twice and 99, which is not in the graph: n counts all four,
    so the ranks sum to 3/4 of what one copy of each present seed would
    give. Pinned to the values of the Spark join-loop implementation the
    block steps replaced."""
    monkeypatch.setattr(ga, "_ARRAY_BLOCK_EDGES", block_edges)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2), (5, 1), (2, 6), (6, 6)],
        "src long, dst long")
    got = {r["node"]: r["pagerank"] for r in ga.personalized_pagerank(
        edges, [1, 1, 4, 99], n_iter=6).collect()}
    want = {1: 0.0725866884765625, 2: 0.08332523437500002,
            3: 0.03541322460937501, 4: 0.0725866884765625, 5: 0.0,
            6: 0.23608816406249997}
    assert set(got) == set(want)
    assert all(abs(got[x] - want[x]) <= 1e-15 for x in want), got


def test_shortest_paths_weighted_rejects_malformed_edges(spark):
    """Dijkstra needs non-negative weights and node ids: a negative, NaN
    or NULL weight or a NULL endpoint fails at the boundary instead of
    returning wrong distances."""
    for bad in ((2, 3, -1.0), (2, 3, float("nan")), (2, 3, None),
                (2, None, 1.0), (None, 3, 1.0)):
        edges = spark.createDataFrame([(1, 2, 1.0), bad],
                                      "src long, dst long, w double")
        with pytest.raises(ValueError, match="non-negative"):
            ga.shortest_paths_weighted(edges, 1)


def test_pagerank_rejects_null_endpoints(spark):
    """A NULL endpoint is no node id: the numpy step cannot rank it, so
    pagerank and personalized pagerank fail at the boundary instead of
    inventing a node."""
    for bad in ((2, None), (None, 3)):
        edges = spark.createDataFrame([(1, 2), bad], "src long, dst long")
        with pytest.raises(ValueError, match="NULL endpoint"):
            ga.pagerank(edges)
        with pytest.raises(ValueError, match="NULL endpoint"):
            ga.personalized_pagerank(edges, [1])


def test_blocks_cut_skewed_ids_into_equal_edge_counts(spark):
    """Block ranges are cut at quantiles of the key ids, not at equal
    widths: with 90% of the edges on ids 0-99 and the rest spread up to
    10^15, each of the four blocks holds about a quarter of the edges
    (equal widths would put 90% in one). An id outside every edge still
    gets a block (the first or the last), and with more blocks than ids
    every id is its own."""
    from pyspark.sql import functions as F

    rnd = random.Random(3)
    ids = ([rnd.randrange(100) for _ in range(900)]
           + [rnd.randrange(10**15) for _ in range(100)])
    df = spark.createDataFrame([(u, u + 1) for u in ids], "u long, v long")
    e, m = ga._ckpt_observe(df, *ga._block_metrics("u", "v"))
    block = ga._blocks(e, m, "u", per=250)
    sizes = [r["n"] for r in df.groupBy(block("u").alias("b"))
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) == 4 and max(sizes) <= 300, sizes
    outside = spark.createDataFrame([(-5,), (10**16,)], "id long")
    assert [r["b"] for r in outside.select(block("id").alias("b"))
            .collect()] == [0, 3]
    block = ga._blocks(e, {**m, "lo": 0, "hi": 5}, "u",
                       per=SINGLETON_BLOCKS)
    got = spark.range(6).select(block("id").alias("b")).collect()
    assert [r["b"] for r in got] == list(range(6))


def test_blocks_read_quantiles_only_between_one_block_and_singletons(
        spark):
    """The edge checkpoint observes no quantile, and _blocks runs the
    quantile aggregate only when the graph needs several
    blocks but fewer than its id range: a one-block table and a
    one-id-per-block table run no job."""
    df = spark.createDataFrame([(i, i + 1) for i in range(40)],
                               "u long, v long")
    e, m = ga._ckpt_observe(df, *ga._block_metrics("u", "v"))
    assert set(m) == {"n", "lo", "hi"}
    sc = spark.sparkContext
    jobs = {}
    for name, block_edges in (("one", ONE_BLOCK), ("several", 10),
                              ("singleton", SINGLETON_BLOCKS)):
        sc.setJobGroup(f"blocks-{name}", "quantile probe")
        try:
            ga._blocks(e, m, "u", per=block_edges)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(
            f"blocks-{name}"))
    assert jobs["one"] == jobs["singleton"] == 0 and jobs["several"], jobs


def test_relax_frontier_hands_the_local_step_only_dirty_blocks(spark):
    """The ids of the blocks holding an improved row ride the merge's
    checkpoint job and reach the next round's local step: on the path
    0 -> 1 -> 2 -> 3 with one node per block, round k sees block k-1
    alone (the first round sees None, every block)."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u long, v long")
    seen = []

    def local(state, blocks):
        seen.append(blocks)
        frontier = state.filter("dirty")
        return (edges.join(frontier, edges["u"] == frontier["node"])
                .select(F.col("v").alias("node"),
                        (F.col("dist") + 1.0).alias("dist"),
                        F.lit(None).cast("double").alias("prev")))

    start = spark.createDataFrame([(0, 0.0)], "node long, dist double")
    dist, rounds, changed = ga._relax_frontier(
        start, None, ["node"], 10, local=local, block=F.col("node"))
    assert (rounds, changed) == (4, 0)
    assert [sorted(b) if b is not None else b for b in seen] == [
        None, [1], [2], [3]]
    assert sorted(map(tuple, dist.collect())) == [
        (0, 0.0), (1, 1.0), (2, 2.0), (3, 3.0)]
