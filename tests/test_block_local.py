"""The block-local steps of weighted SSSP and connected components
(operators.graph_algo): the two grouped-map functions replayed on
hand-checkable pandas frames without Spark, and the Spark operators
against pure-Python Dijkstra and union-find over one block, several
blocks and one node per block."""

import heapq
import math
import random

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from osm_pg_etl_spark.operators import graph_algo as ga

NAN = float("nan")
# _BLOCK_EDGES values: every graph here in one block / one node per block
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


def test_blocks_cut_skewed_ids_into_equal_edge_counts(spark, monkeypatch):
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
    monkeypatch.setattr(ga, "_BLOCK_EDGES", 250)
    _, m = ga._ckpt_observe(df, *ga._block_metrics("u", "v", "u"))
    block = ga._blocks(m)
    sizes = [r["n"] for r in df.groupBy(block("u").alias("b"))
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) == 4 and max(sizes) <= 300, sizes
    outside = spark.createDataFrame([(-5,), (10**16,)], "id long")
    assert [r["b"] for r in outside.select(block("id").alias("b"))
            .collect()] == [0, 3]
    monkeypatch.setattr(ga, "_BLOCK_EDGES", SINGLETON_BLOCKS)
    block = ga._blocks({**m, "lo": 0, "hi": 5})
    got = spark.range(6).select(block("id").alias("b")).collect()
    assert [r["b"] for r in got] == list(range(6))


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
