"""Scale-stress harness: run the flagship topology pipeline on K key-offset
replicas of the sf0.1 tables (K=10 ~ sf1: ~6M lineitem rows, ~1.5M ways)
and report wall time per stage so scaling behavior is measured, not argued.

Replication shifts every key by replica_index * (max_key + 1), so each
replica is a disjoint region with the same dense shared-node topology —
rows grow linearly, per-way work stays constant, and shuffle volume is the
only thing that scales. Near-linear wall-time growth here is the local
proxy for "holds at 1000 executors".

Usage: python scripts/scale_stress.py [K ...]   (default: 1 2 5 10)
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, ".")

# the shuffle-byte columns need the UI REST API; enable it before the
# first (process-wide) SparkSession is built so a plain
# `python scripts/scale_stress.py` run actually reports them
os.environ.setdefault("SPARK_GRAFT_UI", "true")

from pyspark.sql import DataFrame, functions as F

from osm_pg_etl_spark.session import get_spark
from osm_pg_etl_spark.sources.io import read_testdata
from osm_pg_etl_spark.operators.network import car_network
from osm_pg_etl_spark.operators.topology import merged_network
from osm_pg_etl_spark.operators.graphs import directed_network
from osm_pg_etl_spark.plans.osm_derived import derive_osm_from

SF_DIR = "/root/testdata/sf0.1"

# invariant-check failures collected here; main() exits 1 if any — a
# regression in a convergence/round-count invariant must fail automated
# invocations, not just print FAIL
_FAILURES: list[str] = []


def replicate(df: DataFrame, key_cols: list[str], k: int) -> DataFrame:
    """k disjoint copies: every key column shifted by i * (global max + 1)."""
    if k == 1:
        return df
    offsets = {c: df.agg(F.max(c)).collect()[0][0] + 1 for c in key_cols}
    copies = [
        df.select(*[
            (F.col(c) + i * offsets[c]).alias(c) if c in key_cols else F.col(c)
            for c in df.columns])
        for i in range(k)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def _shuffle_totals(spark) -> tuple[int, int] | None:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over completed
    stages, from the UI REST API — only when SPARK_GRAFT_UI=true
    enabled the UI (scripts pass it; the default session keeps the UI
    off). None when unavailable."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return None
    try:
        with urllib.request.urlopen(f"{base}/api/v1/applications",
                                    timeout=10) as r:
            app_id = _json.load(r)[0]["id"]
        with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages"
                "?status=complete", timeout=10) as r:
            stages = _json.load(r)
        return (sum(s.get("shuffleReadBytes", 0) for s in stages),
                sum(s.get("shuffleWriteBytes", 0) for s in stages))
    except Exception:
        return None


def run(k: int) -> None:
    spark = get_spark(app_name=f"scale-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    part = replicate(read_testdata(spark, SF_DIR, "part"), ["p_partkey"], k)
    li = replicate(read_testdata(spark, SF_DIR, "lineitem"),
                   ["l_orderkey", "l_partkey"], k)

    sh0 = _shuffle_totals(spark)
    t0 = time.perf_counter()
    d = derive_osm_from(part, li)
    cn = car_network(d["ways"]).cache()
    n_ways = cn.count()
    t1 = time.perf_counter()
    merged = merged_network(cn, d["way_nodes"])
    merged.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    directed = directed_network(merged, minimal=True)
    directed.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    # iterative stage: label-propagation components over the merged edges —
    # the skew-sensitive op (hub labels concentrate); AQE skew-join handles it
    from osm_pg_etl_spark.operators.graph_algo import connected_components
    comps = connected_components(
        merged.select(F.col("start_node").alias("src"),
                      F.col("end_node").alias("dst")))
    n_comp_nodes = comps.count()
    t4 = time.perf_counter()
    n_li = li.count()
    sh1 = _shuffle_totals(spark)
    shuffle = ""
    if sh0 is not None and sh1 is not None:
        rd = (sh1[0] - sh0[0]) / 1e9
        wr = (sh1[1] - sh0[1]) / 1e9
        shuffle = f"  shuffle_rd={rd:6.2f}GB  shuffle_wr={wr:6.2f}GB"
    print(f"k={k:>2}  lineitem={n_li:>8}  car_ways={n_ways:>7}  "
          f"cc_nodes={n_comp_nodes:>7}  "
          f"derive+filter={t1 - t0:6.1f}s  split/merge={t2 - t1:6.1f}s  "
          f"directed={t3 - t2:6.1f}s  components={t4 - t3:6.1f}s  "
          f"total={t4 - t0:6.1f}s  "
          f"rows_per_s={n_li / (t4 - t0):,.0f}{shuffle}", flush=True)
    # fresh caches per K so runs are independent
    spark.catalog.clearCache()


@contextmanager
def _singleton_blocks():
    """Run the block-local graph operators with one node per block, so
    every round crosses one hop: the round bounds below then measure the
    algorithm (star contraction, radius stepping) and not the block
    size, which puts any of these unit paths in one block."""
    from osm_pg_etl_spark.operators import graph_algo as ga

    block_edges, ga._BLOCK_EDGES = ga._BLOCK_EDGES, 1e-12
    try:
        yield
    finally:
        ga._BLOCK_EDGES = block_edges


def run_path(n: int) -> None:
    """Star-contraction round-count stress on an n-node path — the
    worst-case diameter graph. Alternating large/small-star (Kiveris et
    al.) must converge in O(log² n) rounds; diameter-bound propagation
    would need n-1. Ids are scrambled so component minima are scattered.
    One node per block, so the contraction runs on the whole path rather
    than on a few block representatives."""
    import math

    from osm_pg_etl_spark.operators import graph_algo as ga

    spark = get_spark(app_name=f"path-stress-{n}")
    spark.sparkContext.setLogLevel("ERROR")
    step = 1_000_003  # prime >> n: gcd(step, n) = 1 for n a power of two
    ids = [(i * step) % n for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "src long, dst long")
    with _singleton_blocks():
        t0 = time.perf_counter()
        comps, rounds = ga.connected_components(edges, return_rounds=True)
        n_comp = comps.select("component").distinct().count()
        dt = time.perf_counter() - t0
    bound = 2 * math.log2(n) ** 2
    status = "OK" if (n_comp == 1 and rounds <= bound) else "FAIL"
    if status == "FAIL":
        _FAILURES.append(f"path n={n}")
    print(f"{status}  path n={n:>8}  components={n_comp}  rounds={rounds}  "
          f"bound(2·log²)={bound:.0f}  wall={dt:6.1f}s", flush=True)


def run_louvain(k: int) -> None:
    """Louvain scale behavior on K key-offset replicas of the sf0.1 car
    graph: each replica is a disjoint region, so community quality is
    unchanged while edges grow K-fold — wall time should grow sublinearly
    (fixed 13-round barrier cost amortizes; per-round joins are
    node-keyed)."""
    from osm_pg_etl_spark.operators.graph_algo import louvain

    spark = get_spark(app_name=f"louvain-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    part = replicate(read_testdata(spark, SF_DIR, "part"), ["p_partkey"], k)
    li = replicate(read_testdata(spark, SF_DIR, "lineitem"),
                   ["l_orderkey", "l_partkey"], k)
    d = derive_osm_from(part, li)
    cn = car_network(d["ways"]).cache()
    merged = merged_network(cn, d["way_nodes"])
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst")).localCheckpoint()
    n_edges = edges.count()
    t0 = time.perf_counter()
    lv, executed = louvain(edges, return_rounds=True)
    n_comm = lv.select("community").distinct().count()
    dt = time.perf_counter() - t0
    budget = (6, 4, 3)
    saved = sum(budget) - sum(executed)
    print(f"k={k:>2}  edges={n_edges:>8}  communities={n_comm:>7}  "
          f"louvain={dt:6.1f}s  rounds/level={executed} "
          f"(budget {list(budget)}, early-stop saved {saved})", flush=True)
    spark.catalog.clearCache()


def run_aggs(k: int) -> None:
    """Scale behavior of the three data-bound aggregate gates (bench's
    sf0.01->sf0.1 ratios 2.4-3.5, the only data-dominated ones): exact
    multi-quantile profile, ROLLUP hierarchy, per-group OLS moments — on
    K replicas of the sf0.1 inputs. Group count stays fixed while rows
    grow K-fold, so this measures the map-side-combine + single-shuffle
    claim directly (near-flat per-row wall = partial aggregation doing
    its job; quantile state is O(distinct per group) and replicas reuse
    values, so its growth here is a lower bound — the sf ratio in
    bench.py covers the distinct-growth axis)."""
    from osm_pg_etl_spark.operators.stats import quantiles_by_group

    spark = get_spark(app_name=f"agg-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    li = replicate(read_testdata(spark, SF_DIR, "lineitem"),
                   ["l_orderkey", "l_partkey"], k).localCheckpoint()
    ev = replicate(read_testdata(spark, SF_DIR, "events"),
                   ["event_id"], k).localCheckpoint()
    n_li, n_ev = li.count(), ev.count()

    t0 = time.perf_counter()
    quantiles_by_group(li, ["l_returnflag"], "l_extendedprice",
                       method="exact") \
        .write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    # the shipped plan (r12): leaf re-aggregation, not Expand
    from osm_pg_etl_spark.operators.rollup import rollup_agg
    (rollup_agg(li, ["l_returnflag", "l_linestatus"],
                {"n": (F.count(F.lit(1)), "count"),
                 "sum_qty": (F.sum(F.col("l_quantity")
                                   .cast("decimal(28,6)")), "sum")})
     .write.format("noop").mode("overwrite").save())
    t2 = time.perf_counter()
    x = ((F.unix_micros(F.col("ts").cast("timestamp"))
          - F.lit(1_704_067_200_000_000)) / F.lit(3_600_000_000.0))
    y = F.col("value")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    (ev.groupBy("event_type")
       .agg(F.count(F.lit(1)).cast("decimal(28,6)").alias("n"),
            F.sum(dec(x)).alias("sx"), F.sum(dec(y)).alias("sy"),
            F.sum(dec(x * y)).alias("sxy"),
            F.sum(dec(x * x)).alias("sxx"),
            F.sum(dec(y * y)).alias("syy"))
       .write.format("noop").mode("overwrite").save())
    t3 = time.perf_counter()
    print(f"k={k:>2}  lineitem={n_li:>9}  events={n_ev:>9}  "
          f"quantile_profile={t1 - t0:6.1f}s  rollup={t2 - t1:6.1f}s  "
          f"regression_moments={t3 - t2:6.1f}s", flush=True)
    spark.catalog.clearCache()


def run_sssp(n: int) -> None:
    """Weighted-SSSP round-count stress on an n-node path — the worst
    case for Bellman-Ford, which is diameter-bound (unlike components'
    star contraction). With one node per block the operator runs the
    per-hop loop: rounds must equal exactly n-1 relaxations + 1
    fixpoint-detection round, pinning both the convergence test's
    exactness and the honest scaling story (road networks keep diameters
    moderate after topology merge; a pathological path costs its
    diameter, and this documents that, not hides it). In one block the
    same distances take one round."""
    from osm_pg_etl_spark.operators import graph_algo as ga

    spark = get_spark(app_name=f"sssp-stress-{n}")
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "src long, dst long, w double")
    block_edges = ga._BLOCK_EDGES
    try:
        runs = {}
        for name, value in (("singleton", 1e-12), ("one-block", 10**12)):
            ga._BLOCK_EDGES = value
            t0 = time.perf_counter()
            dist, rounds = ga.shortest_paths_weighted(
                edges, 0, max_rounds=2 * n, return_rounds=True)
            rows = sorted(map(tuple, dist.collect()))
            runs[name] = (rows, rounds, time.perf_counter() - t0)
    finally:
        ga._BLOCK_EDGES = block_edges
    (rows, rounds, dt), (one, one_rounds, one_dt) = runs.values()
    reached = len(rows)
    status = "OK" if (reached == n and rounds == n and one == rows
                      and one_rounds == 1) else "FAIL"
    if status == "FAIL":
        _FAILURES.append(f"sssp n={n}")
    print(f"{status}  sssp path n={n:>6}  reached={reached}  "
          f"rounds={rounds} (one node per block, expect n={n}: n-1 relax "
          f"+ 1 detect)  wall={dt:6.1f}s  per-round={dt / rounds:5.2f}s  "
          f"one-block rounds={one_rounds} (expect 1)  wall={one_dt:6.1f}s",
          flush=True)

    # radius stepping on the SAME worst-case path, one node per block:
    # shortcut doubling (≈log2 Δ rounds) + Δ-bucketed relaxation (≈2n/Δ
    # rounds) must land FAR under the diameter-bound n — the scale story
    # for continent road graphs whose hop diameters are in the thousands
    delta = 16.0
    with _singleton_blocks():
        t0 = time.perf_counter()
        dist_r, rounds_r = ga.shortest_paths_radius(edges, 0, delta=delta,
                                                    max_rounds=2 * n,
                                                    return_rounds=True)
        ok_vals = (dist_r.agg(F.sum("dist")).collect()[0][0]
                   == n * (n - 1) / 2)        # exact unit-path distances
        reached_r = dist_r.count()
        dt = time.perf_counter() - t0
    status = "OK" if (reached_r == n and ok_vals
                      and rounds_r <= max(n // 4, 16)) else "FAIL"
    if status == "FAIL":
        _FAILURES.append(f"sssp-radius n={n}")
    print(f"{status}  sssp radius-stepping n={n:>6}  delta={delta:.0f}  "
          f"reached={reached_r}  rounds={rounds_r} (vs diameter-bound "
          f"{n})  wall={dt:6.1f}s", flush=True)


def run_sssp_radius(n: int, delta: float = 64.0) -> None:
    """Radius-stepping alone on an n-node unit path, for n where the
    diameter-bound baseline is infeasible (n=2000 would cost ~2000
    rounds ≈ 13 min; radius stepping needs ~2n/Δ + log₂Δ). One node per
    block, so the rounds are radius stepping's and not one block's.
    Exactness is pinned by the closed-form distance sum n(n-1)/2."""
    from osm_pg_etl_spark.operators.graph_algo import shortest_paths_radius

    spark = get_spark(app_name=f"sssp-radius-{n}")
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "src long, dst long, w double")
    with _singleton_blocks():
        t0 = time.perf_counter()
        dist, rounds = shortest_paths_radius(edges, 0, delta=delta,
                                             max_rounds=2 * n,
                                             return_rounds=True)
        ok_vals = (dist.agg(F.sum("dist")).collect()[0][0]
                   == n * (n - 1) / 2)
        reached = dist.count()
        dt = time.perf_counter() - t0
    bound = 2 * n / delta + 12
    status = "OK" if (reached == n and ok_vals and rounds <= bound) else "FAIL"
    if status == "FAIL":
        _FAILURES.append(f"sssp-radius-only n={n}")
    print(f"{status}  sssp radius-only n={n:>6}  delta={delta:.0f}  "
          f"reached={reached}  rounds={rounds} (bound ~2n/Δ+log₂Δ="
          f"{bound:.0f}; diameter-bound would be {n})  wall={dt:6.1f}s",
          flush=True)


def run_knn(k: int) -> None:
    """Self-KNN scale behavior on K vec_id-offset replicas of the sf0.1
    embeddings (replicas duplicate vectors, so bucket width grows K-fold
    and candidate pairs K²-fold WITHIN the fixed 2^planes buckets — the
    deliberate worst case for the per-bucket Arrow kernel; real corpora
    would raise num_planes with size, which this prints alongside)."""
    from osm_pg_etl_spark.operators.similarity import knn_join

    spark = get_spark(app_name=f"knn-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    emb = replicate(read_testdata(spark, SF_DIR, "embeddings"),
                    ["vec_id"], k).localCheckpoint()
    n = emb.count()
    t0 = time.perf_counter()
    out = knn_join(emb, k=3, num_planes=6)
    n_rows = out.count()
    dt = time.perf_counter() - t0
    # the scale lever: +2 planes ≈ 4x narrower buckets
    t0 = time.perf_counter()
    out8 = knn_join(emb, k=3, num_planes=8)
    n_rows8 = out8.count()
    dt8 = time.perf_counter() - t0
    print(f"k={k:>2}  vectors={n:>7}  planes=6: rows={n_rows:>7} "
          f"wall={dt:6.1f}s   planes=8: rows={n_rows8:>7} "
          f"wall={dt8:6.1f}s", flush=True)
    spark.catalog.clearCache()


def run_neardup(k: int) -> None:
    """embedding_near_duplicates scale behavior on K vec_id-offset replicas
    of the sf0.1 embeddings. Replicas are exact duplicates of each other,
    so TRUE near-dup pairs grow K² — the deliberate worst case for both
    the in-kernel candidate scoring and the output volume. The per-bucket kernel
    routing means only qualifying (id, id, cosine) rows reach an exchange;
    the vector column never does (plan contract pins this)."""
    from osm_pg_etl_spark.operators.similarity import embedding_near_duplicates

    spark = get_spark(app_name=f"neardup-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    emb = replicate(read_testdata(spark, SF_DIR, "embeddings"),
                    ["vec_id"], k).localCheckpoint()
    n = emb.count()
    t0 = time.perf_counter()
    rows = embedding_near_duplicates(emb, threshold=0.9, num_planes=6).count()
    dt = time.perf_counter() - t0
    t0 = time.perf_counter()
    rows8 = embedding_near_duplicates(emb, threshold=0.9, num_planes=8).count()
    dt8 = time.perf_counter() - t0
    print(f"k={k:>2}  vectors={n:>7}  planes=6: pairs={rows:>8} "
          f"wall={dt:6.1f}s   planes=8: pairs={rows8:>8} "
          f"wall={dt8:6.1f}s", flush=True)
    spark.catalog.clearCache()


def run_ivm(k: int, del_mod: int = 101, trunc_mod: int = 103) -> None:
    """Merged-network IVM payoff on K replicas of sf0.1: with the old
    state pre-materialized (the IVM premise), time absorbing the
    deterministic CDC batch (delete id%101 ways, truncate id%103 ways)
    incrementally vs full recompute. The default mods touch ~2% of ways
    (`ivm_blast` passes 11/13 for a ~10x larger batch, measuring how the
    blast radius and the incremental/full gap behave when the changeset
    stops being point-like); both paths are counted to the same row
    totals as a correctness cross-check."""
    from pyspark.sql import functions as F  # noqa: F811

    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import (
        merged_network, merged_network_incremental, network_way_nodes,
        unnest_way_nodes)

    spark = get_spark(app_name=f"ivm-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    part = replicate(read_testdata(spark, SF_DIR, "part"), ["p_partkey"], k)
    li = replicate(read_testdata(spark, SF_DIR, "lineitem"),
                   ["l_orderkey", "l_partkey"], k)
    d = derive_osm_from(part, li)
    ways = d["ways"].localCheckpoint()
    way_nodes = d["way_nodes"].localCheckpoint()
    nodes_tbl = d["nodes"].localCheckpoint()
    old_cn = car_network(ways).localCheckpoint()
    old_merged = merged_network(old_cn, way_nodes).localCheckpoint()
    # the maintained count state, materialized alongside old_merged
    old_counts = (network_way_nodes(way_nodes, old_cn)
                  .groupBy("node_id").agg(F.count(F.lit(1)).alias("count"))
                  .localCheckpoint())

    mod_ls = (F.col("id") % trunc_mod == 0) & (F.size("linestring") > 2)
    mod_nd = (F.col("id") % trunc_mod == 0) & (F.size("nodes") > 2)
    new_ways = (ways.filter(F.col("id") % del_mod != 0)
                .withColumn("linestring", F.when(mod_ls, F.expr(
                    "slice(linestring, 1, size(linestring) - 1)"))
                    .otherwise(F.col("linestring")))
                .withColumn("nodes", F.when(mod_nd, F.expr(
                    "slice(nodes, 1, size(nodes) - 1)"))
                    .otherwise(F.col("nodes")))
                .localCheckpoint())
    new_way_nodes = unnest_way_nodes(new_ways).localCheckpoint()
    changed = (ways.filter((F.col("id") % del_mod == 0)
                           | (F.col("id") % trunc_mod == 0))
               .select(F.col("id").alias("way_id")).localCheckpoint())
    new_cn = car_network(new_ways).localCheckpoint()

    t0 = time.perf_counter()
    n_full = merged_network(new_cn, new_way_nodes).count()
    t_full = time.perf_counter() - t0
    t0 = time.perf_counter()
    # nodes= : the r15 meta-only path the gate now uses — the affected
    # subset is reassembled from way_nodes ⋈ nodes, so the incremental
    # side never reads new_cn's arrays (and the n_full == n_inc check
    # cross-validates that path at every replica factor)
    inc, affected = merged_network_incremental(
        old_cn, way_nodes, old_merged, new_cn, new_way_nodes,
        changed, old_node_counts=old_counts, return_affected=True,
        nodes=nodes_tbl)
    n_inc = inc.count()
    t_inc = time.perf_counter() - t0
    n_aff = affected.count()
    n_ways = old_cn.count()
    status = "OK" if n_full == n_inc else "FAIL"
    if status == "FAIL":
        _FAILURES.append(f"ivm k={k}")
    # wall on local[32] is job-floor-bound for BOTH paths (the full
    # pipeline's ~10 barriers cost more than its data at this size);
    # the scale claim is the blast-radius fraction: the split/merge
    # data work is confined to affected ways, so at data-bound scale
    # the incremental cost tracks that fraction, not the table
    print(f"{status}  k={k:>2}  merged_rows={n_full:>8}  "
          f"affected_ways={n_aff:>6}/{n_ways} "
          f"({100.0 * n_aff / n_ways:4.1f}%)  "
          f"full={t_full:6.1f}s  incremental={t_inc:6.1f}s (local "
          f"job-floor-bound both)", flush=True)
    spark.catalog.clearCache()


def run_turns(k: int) -> None:
    """Turn-restricted routing growth on K key-offset replicas of the
    sf0.1 car graph (VERDICT r7 #7): the line graph grows with Σ
    out-degree² at shared nodes, the restriction parse with the derived
    relation count — both measured here alongside the Bellman-Ford
    round count, which is diameter-bound and must stay FLAT under
    replication (replicas are disjoint regions; the source's region has
    the same diameter at any K)."""
    from osm_pg_etl_spark.operators.graph_algo import (
        line_graph_transitions, turn_restricted_distances)
    from osm_pg_etl_spark.operators.relations import (
        turn_restrictions_from_relations)
    from osm_pg_etl_spark.plans.osm_derived import (
        derive_restriction_relations)

    spark = get_spark(app_name=f"turns-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    part = replicate(read_testdata(spark, SF_DIR, "part"), ["p_partkey"], k)
    li = replicate(read_testdata(spark, SF_DIR, "lineitem"),
                   ["l_orderkey", "l_partkey"], k)
    d = derive_osm_from(part, li)
    cn = car_network(d["ways"]).cache()
    merged = merged_network(cn, d["way_nodes"])
    directed = directed_network(merged).localCheckpoint()
    n_edges = directed.count()

    t0 = time.perf_counter()
    rels, members = derive_restriction_relations(directed)
    restr = turn_restrictions_from_relations(rels, members,
                                             directed).localCheckpoint()
    n_restr = restr.count()
    t_parse = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_trans = line_graph_transitions(directed, restrictions=restr).count()
    t_line = time.perf_counter() - t0

    source = int(directed.agg(F.min("start_node")).collect()[0][0])
    t0 = time.perf_counter()
    sp, rounds = turn_restricted_distances(directed, source,
                                           restrictions=restr,
                                           return_rounds=True)
    n_reach = sp.count()
    t_route = time.perf_counter() - t0
    print(f"k={k:>2}  edges={n_edges:>8}  restrictions={n_restr:>7} "
          f"(parse={t_parse:5.1f}s)  transitions={n_trans:>9} "
          f"(line={t_line:5.1f}s)  rounds={rounds:>3}  reached={n_reach:>6} "
          f"route={t_route:6.1f}s", flush=True)
    spark.catalog.clearCache()


def run_viaway(k: int) -> None:
    """Via-WAY restricted routing on K replicas of the sf0.1 car graph
    (r10): the parse and automaton are driver-side over broadcast-scale
    restriction tables, so what must stay linear is the relation count
    and the extra transition rows (Σ chain-node out-degree per state),
    while the Bellman-Ford round count stays diameter-bound (FLAT under
    disjoint replication) and the state-keyed fixpoint tracks the
    node-via route wall."""
    from osm_pg_etl_spark.operators.graph_algo import (
        turn_restricted_distances)
    from osm_pg_etl_spark.operators.relations import (
        via_way_turn_restrictions)
    from osm_pg_etl_spark.plans.osm_derived import (
        derive_via_way_restriction_relations)

    spark = get_spark(app_name=f"viaway-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    part = replicate(read_testdata(spark, SF_DIR, "part"), ["p_partkey"], k)
    li = replicate(read_testdata(spark, SF_DIR, "lineitem"),
                   ["l_orderkey", "l_partkey"], k)
    d = derive_osm_from(part, li)
    cn = car_network(d["ways"]).cache()
    merged = merged_network(cn, d["way_nodes"])
    directed = directed_network(merged).localCheckpoint()
    n_edges = directed.count()

    t0 = time.perf_counter()
    rels, members = derive_via_way_restriction_relations(directed)
    vw = via_way_turn_restrictions(rels, members, directed)
    t_parse = time.perf_counter() - t0

    source = int(directed.agg(F.min("start_node")).collect()[0][0])
    t0 = time.perf_counter()
    sp, rounds = turn_restricted_distances(directed, source,
                                           via_way_restrictions=vw,
                                           return_rounds=True)
    n_reach = sp.count()
    t_route = time.perf_counter() - t0
    print(f"k={k:>2}  edges={n_edges:>8}  via_restrictions={len(vw):>6} "
          f"(parse={t_parse:5.1f}s)  rounds={rounds:>3} "
          f"reached={n_reach:>6}  route={t_route:6.1f}s", flush=True)
    spark.catalog.clearCache()


def run_centrality(k: int) -> None:
    """Scale behavior of the k-source Brandes + PageRank stages on K
    key-offset replicas. Sources per replica stay constant (6 global min
    ids land in replica 0), so betweenness work grows with the edge list —
    frontier joins and σ sums — not with source count; PageRank grows
    linearly in edges per iteration."""
    from osm_pg_etl_spark.operators.graph_algo import (
        betweenness,
        label_propagation,
        pagerank,
        symmetric_edges,
    )

    spark = get_spark(app_name=f"centrality-stress-{k}x")
    spark.sparkContext.setLogLevel("ERROR")
    part = replicate(read_testdata(spark, SF_DIR, "part"), ["p_partkey"], k)
    li = replicate(read_testdata(spark, SF_DIR, "lineitem"),
                   ["l_orderkey", "l_partkey"], k)
    d = derive_osm_from(part, li)
    cn = car_network(d["ways"]).cache()
    merged = merged_network(cn, d["way_nodes"])
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst")).localCheckpoint()
    n_edges = edges.count()
    und = symmetric_edges(edges)
    sources = [r["a"] for r in (und.select("a").distinct()
                                .orderBy("a").limit(6).collect())]
    t0 = time.perf_counter()
    betweenness(edges, sources, max_depth=4) \
        .write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    pagerank(edges, n_iter=5).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    label_propagation(edges, n_iter=4) \
        .write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    print(f"k={k:>2}  edges={n_edges:>8}  betweenness={t1 - t0:6.1f}s  "
          f"pagerank={t2 - t1:6.1f}s  lpa={t3 - t2:6.1f}s", flush=True)
    spark.catalog.clearCache()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "path":
        for a in sys.argv[2:] or ["100000"]:
            run_path(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "louvain":
        for a in sys.argv[2:] or ["1", "5"]:
            run_louvain(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "aggs":
        for a in sys.argv[2:] or ["1", "5", "10"]:
            run_aggs(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "sssp":
        for a in sys.argv[2:] or ["100"]:
            run_sssp(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "centrality":
        for a in sys.argv[2:] or ["1", "5"]:
            run_centrality(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "knn":
        for a in sys.argv[2:] or ["1", "5"]:
            run_knn(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "neardup":
        for a in sys.argv[2:] or ["1", "5"]:
            run_neardup(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "sssp_radius":
        for a in sys.argv[2:] or ["2000"]:
            run_sssp_radius(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "ivm_blast":
        for a in sys.argv[2:] or ["1"]:
            run_ivm(int(a), del_mod=11, trunc_mod=13)
    elif len(sys.argv) > 1 and sys.argv[1] == "turns":
        for a in sys.argv[2:] or ["1", "5"]:
            run_turns(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "viaway":
        for a in sys.argv[2:] or ["1", "5"]:
            run_viaway(int(a))
    elif len(sys.argv) > 1 and sys.argv[1] == "ivm":
        for a in sys.argv[2:] or ["1", "5"]:
            run_ivm(int(a))
    else:
        ks = [int(a) for a in sys.argv[1:]] or [1, 2, 5, 10]
        for k in ks:
            run(k)
    if _FAILURES:
        print(f"FAILED invariants: {_FAILURES}", file=sys.stderr)
        sys.exit(1)
