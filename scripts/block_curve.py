"""Per-block cost curve behind ``graph_algo._BLOCK_EDGES`` (Dijkstra,
union-find) and ``graph_algo._ARRAY_BLOCK_EDGES`` (pagerank, label
propagation).

``local``: time and peak Python heap (tracemalloc) of one block's
Dijkstra (``_block_dijkstra``, from one dirty source), union-find
(``_block_union_find``), pagerank (``_block_pagerank``, the
``pagerank`` default of 10 iterations) and label propagation
(``_block_lpa``, the ``label_propagation`` default of 4 rounds), in
plain pandas, on seeded random blocks of E edges with ten out-edges a
node (the shape of the synthetic OSM car graph). One row per E.

``spark <sf_dir>``: the two operators on the directed car graph of
``sf_dir`` with ``_BLOCK_EDGES`` set to each value given (default a
sweep from a quarter of the graph per block to one block), in one
session: wall, rounds and block count per value, and whether the
distances and components equal the first run's.

``arrays <sf_dir> <K>``: pagerank and label propagation on K disjoint
copies of that graph (ids shifted by the copy index times max id + 1)
with ``_ARRAY_BLOCK_EDGES`` set to each value given (default one block,
then a quarter of the edges per block), two runs each in one session:
wall and block count per run, and a digest of the ranks (rounded to 9
places) and labels.

Usage:
    python scripts/block_curve.py local [E ...]
    python scripts/block_curve.py spark <sf_dir> [B ...]
    python scripts/block_curve.py arrays <sf_dir> <K> [B ...]
"""

from __future__ import annotations

import math
import random
import sys
import time
import tracemalloc

sys.path.insert(0, ".")

import pandas as pd

from osm_pg_etl_spark.operators import graph_algo as ga


def _block(n_edges: int, seed: int = 1):
    rnd = random.Random(seed)
    nodes = max(2, n_edges // 10)
    u = [rnd.randrange(nodes) for _ in range(n_edges)]
    v = [rnd.randrange(nodes) for _ in range(n_edges)]
    w = [rnd.random() for _ in range(n_edges)]
    edges = pd.DataFrame({"u": u, "v": v, "w": w, "intra": True})
    state = pd.DataFrame({"s": [0], "node": [0], "dist": [0.0],
                          "dirty": [True]})
    pairs = pd.DataFrame({"a": u, "b": v, "ba": 0, "bb": 0, "blk": 0})
    pairs = pairs[pairs["a"] != pairs["b"]]
    # the distinct directed edges pagerank reads, and their symmetric
    # closure label propagation reads
    links = edges[["u", "v", "intra"]].drop_duplicates(["u", "v"])
    sym = pd.concat([pairs[["a", "b"]],
                     pairs[["b", "a"]].set_axis(["a", "b"], axis=1)])
    sym = sym.drop_duplicates().assign(ba=0, blk=0)
    return state, edges, pairs, links, sym


def _measure(fn, *args):
    tracemalloc.start()
    t0 = time.perf_counter()
    out = fn(*args)
    dt = time.perf_counter() - t0
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    return out, dt, peak / 2**20


def run_local(sizes: list[int]) -> None:
    print(f"{'edges':>9} {'dijkstra_s':>10} {'dijkstra_MiB':>12} "
          f"{'unionfind_s':>11} {'unionfind_MiB':>13} {'rows_out':>9} "
          f"{'pagerank_s':>10} {'pagerank_MiB':>12} {'lpa_s':>7} "
          f"{'lpa_MiB':>7}")
    for n in sizes:
        state, edges, pairs, links, sym = _block(n)
        out, dt_d, mb_d = _measure(ga._block_dijkstra, state, edges)
        _, dt_u, mb_u = _measure(ga._block_union_find, pairs)
        _, dt_p, mb_p = _measure(
            lambda e: ga._block_pagerank(e, None, iters=10, n=None, m=None,
                                         damping=0.85, seeds=None,
                                         cross=False), links)
        _, dt_l, mb_l = _measure(
            lambda e: ga._block_lpa(e, None, rounds=4, ghosts=False), sym)
        print(f"{n:>9} {dt_d:>10.3f} {mb_d:>12.1f} {dt_u:>11.3f} "
              f"{mb_u:>13.1f} {len(out):>9} {dt_p:>10.3f} {mb_p:>12.1f} "
              f"{dt_l:>7.3f} {mb_l:>7.1f}", flush=True)


def run_spark(sf_dir: str, values: list[float]) -> None:
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.graphs import directed_network
    from osm_pg_etl_spark.plans.osm_derived import _shared_network
    from osm_pg_etl_spark.session import get_spark

    spark = get_spark("block-curve")
    spark.sparkContext.setLogLevel("ERROR")
    _, _, merged = _shared_network(spark, sf_dir)
    directed = (directed_network(merged, minimal=True)
                .select("start_node", "end_node", "length").localCheckpoint())
    n_edges = directed.count()
    source = directed.agg(F.min("start_node")).collect()[0][0]
    values = values or [n_edges / 4, n_edges / 2, n_edges, 2 * n_edges]
    block_edges, first = ga._BLOCK_EDGES, None
    try:
        for value in values:
            ga._BLOCK_EDGES = value
            t0 = time.perf_counter()
            dist, sp_rounds = ga.shortest_paths_weighted(
                directed, source, src="start_node", dst="end_node",
                weight="length", return_rounds=True)
            dist = sorted(map(tuple, dist.collect()))
            t1 = time.perf_counter()
            comps, cc_rounds = ga.connected_components(
                directed, src="start_node", dst="end_node",
                return_rounds=True)
            comps = sorted(map(tuple, comps.collect()))
            t2 = time.perf_counter()
            first = first or (dist, comps)
            same = (dist, comps) == first
            blocks = math.ceil(n_edges / value)
            print(f"block_edges={value:>9.0f} (sssp blocks={blocks} of "
                  f"{n_edges} directed edges)  sssp {t1 - t0:6.1f}s "
                  f"rounds={sp_rounds:<3}  components {t2 - t1:6.1f}s "
                  f"rounds={cc_rounds:<3}  same={same}", flush=True)
    finally:
        ga._BLOCK_EDGES = block_edges
    spark.stop()


def run_arrays(sf_dir: str, copies: int, values: list[float]) -> None:
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.graphs import directed_network
    from osm_pg_etl_spark.plans.osm_derived import _shared_network
    from osm_pg_etl_spark.session import get_spark

    spark = get_spark("block-curve-arrays")
    spark.sparkContext.setLogLevel("ERROR")
    _, _, merged = _shared_network(spark, sf_dir)
    one = (directed_network(merged, minimal=True)
           .select(F.col("start_node").alias("src"),
                   F.col("end_node").alias("dst")).localCheckpoint())
    shift = one.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0] + 1
    edges = one
    for i in range(1, copies):
        edges = edges.unionByName(one.select(
            (F.col("src") + i * shift).alias("src"),
            (F.col("dst") + i * shift).alias("dst")))
    edges = edges.localCheckpoint()
    n_edges = edges.count()
    n_sym = ga.symmetric_edges(edges).count()
    print(f"{copies} copies: {n_edges} directed edges, {n_sym} symmetric",
          flush=True)

    def digest(df, col):
        r = df.agg(F.count(F.lit(1)).alias("c"),
                   F.sum(F.xxhash64("node", F.round(col, 9))
                         .cast("decimal(38,0)")).alias("h")).first()
        return f"{r['c']}/{r['h']}"

    block_edges = ga._ARRAY_BLOCK_EDGES
    try:
        for value in values or [max(n_edges, n_sym), n_edges / 4]:
            ga._ARRAY_BLOCK_EDGES = value
            for run in range(2):
                t0 = time.perf_counter()
                pr = digest(ga.pagerank(edges), "pagerank")
                t1 = time.perf_counter()
                lpa = digest(ga.label_propagation(edges), "community")
                t2 = time.perf_counter()
                print(f"block_edges={value:>9.0f} run={run} pagerank "
                      f"{t1 - t0:6.1f}s blocks={math.ceil(n_edges / value)} "
                      f"{pr}  lpa {t2 - t1:6.1f}s "
                      f"blocks={math.ceil(n_sym / value)} {lpa}", flush=True)
    finally:
        ga._ARRAY_BLOCK_EDGES = block_edges
    spark.stop()


if __name__ == "__main__":
    mode, rest = sys.argv[1], sys.argv[2:]
    if mode == "local":
        run_local([int(x) for x in rest]
                  or [12_500, 25_000, 50_000, 100_000, 200_000, 400_000])
    elif mode == "arrays":
        run_arrays(rest[0], int(rest[1]), [float(x) for x in rest[2:]])
    else:
        run_spark(rest[0], [float(x) for x in rest[1:]])
