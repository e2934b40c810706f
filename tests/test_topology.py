"""Golden tests for the topological split/merge pipeline (FIXTURES.md
topology cases 1-5), hand-computed from the fixture world in conftest.py."""

import pytest
from pyspark.sql import functions as F

from osm_pg_etl_spark.operators.network import car_network
from osm_pg_etl_spark.operators.topology import (
    merged_network,
    network_way_nodes,
    shared_nodes,
    ways_length,
    ways_merge_limits,
    ways_split_nodes,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stages(osm):
    cn = car_network(osm["ways"])
    wn_net = network_way_nodes(osm["way_nodes"], cn)
    sh = shared_nodes(wn_net)
    ln = ways_length(wn_net)
    sp = ways_split_nodes(wn_net)
    lim = ways_merge_limits(wn_net)
    return {"cn": cn, "wn_net": wn_net, "shared": sh, "lengths": ln,
            "splits": sp, "limits": lim}


def test_shared_nodes_network_only(stages):
    # node 3 appears in footway W7 too, but only car-network occurrences
    # count: {2: 3×, 3: 3×, 5: 2×, 23: 2×}
    got = {r["node_id"]: r["count"] for r in stages["shared"].collect()}
    assert got == {2: 3, 3: 3, 5: 2, 23: 2}


def test_ways_length_drops_two_node_ways(stages):
    got = {r["way_id"]: (r["length"], r["node_id"])
           for r in stages["lengths"].collect()}
    # W8/W9 are 2-node ways (max seq 1): sequence_id > 1 filter drops them
    assert got == {1: (4, 5), 2: (2, 7), 3: (2, 9), 4: (4, 12),
                   5: (4, 16), 6: (2, 19)}


def test_split_nodes_interior_only(stages):
    got = sorted((r["way_id"], r["node_id"], r["sequence_id"])
                 for r in stages["splits"].collect())
    # endpoint-shared node 5 on W1 (seq=4=length) and W3 (seq=0) never splits
    assert got == [(1, 2, 1), (1, 3, 2), (2, 3, 1), (4, 2, 1), (4, 3, 3),
                   (5, 2, 2)]


def test_merge_limits_with_dead_end_tails(stages):
    got = sorted((r["way_id"], r["bottom_limit"], r["top_limit"])
                 for r in stages["limits"].collect())
    assert got == [
        (1, 0, 1), (1, 1, 2), (1, 2, 4),       # W1: shared end node closes it
        (2, 0, 1), (2, 1, 2),                  # W2: dead-end tail appended
        (4, 0, 1), (4, 1, 3), (4, 3, 4),       # W4: two interior splits
        (5, 0, 2), (5, 2, 4),                  # W5: tail after mid split
    ]


EXPECTED_EDGES = sorted([
    (1, 1, 2, (1, 2)), (1, 2, 3, (2, 3)), (1, 3, 5, (3, 4, 5)),
    (2, 6, 3, (6, 3)), (2, 3, 7, (3, 7)),
    (4, 10, 2, (10, 2)), (4, 2, 3, (2, 11, 3)), (4, 3, 12, (3, 12)),
    (5, 13, 2, (13, 14, 2)), (5, 2, 16, (2, 15, 16)),
    (3, 5, 9, (5, 8, 9)),                      # untouched pass-throughs
    (6, 17, 19, (17, 18, 19)),
    (8, 22, 23, (22, 23)),
    (9, 23, 24, (23, 24)),
])


def _edge_set(merged):
    return sorted((r["edge_id"], r["start_node"], r["end_node"],
                   tuple(r["nodes"])) for r in merged.collect())


def test_merged_network_fast_path(osm, stages):
    merged = merged_network(stages["cn"], osm["way_nodes"])
    assert _edge_set(merged) == EXPECTED_EDGES


def test_merged_network_general_path_equivalent(osm, stages):
    fast = merged_network(stages["cn"], osm["way_nodes"])
    general = merged_network(stages["cn"], osm["way_nodes"],
                             nodes=osm["nodes"])
    assert _edge_set(general) == _edge_set(fast)
    # geometry + length agree between the two assembly strategies
    f = {(r["edge_id"], tuple(r["nodes"])): (r["length"], r["geom"])
         for r in fast.collect()}
    g = {(r["edge_id"], tuple(r["nodes"])): (r["length"], r["geom"])
         for r in general.collect()}
    assert set(f) == set(g)
    for k in f:
        assert f[k][0] == pytest.approx(g[k][0], rel=1e-12)
        assert f[k][1] == g[k][1]


def test_merged_network_carries_custom_attrs(osm):
    """osm-complete-graphs-fix.sql:167-188 — the complete-network merge
    carries mode columns through the split; both assembly paths agree and
    each segment inherits its parent way's values."""
    from osm_pg_etl_spark.operators.network import (
        complete_network,
        with_mode_flags,
    )

    attrs = ("speed_limit", "highway", "service", "access", "oneway",
             "car", "pedestrian", "bicycle")
    comp = with_mode_flags(complete_network(osm["ways"]))
    fast = merged_network(comp, osm["way_nodes"], attrs=attrs)
    general = merged_network(comp, osm["way_nodes"], nodes=osm["nodes"],
                             attrs=attrs)
    assert fast.columns == list(general.columns)
    assert set(attrs) <= set(fast.columns)

    def rows(df):
        return sorted((r["edge_id"], tuple(r["nodes"]),
                       *[r[a] for a in attrs]) for r in df.collect())

    f, g = rows(fast), rows(general)
    assert f == g
    parent = {r["edge_id"]: tuple(r[a] for a in attrs) for r in comp.collect()}
    for row in f:
        assert row[2:] == parent[row[0]], row


def test_segment_lengths_sum_to_way_length(osm, stages):
    # splitting is length-preserving per way (boundary nodes shared)
    from osm_pg_etl_spark.functions.geo import linestring_length_km
    merged = merged_network(stages["cn"], osm["way_nodes"])
    seg_sum = {r["edge_id"]: r["s"] for r in
               merged.groupBy("edge_id").agg(F.sum("length").alias("s")).collect()}
    full = {r["edge_id"]: r["l"] for r in
            stages["cn"].select("edge_id",
                                linestring_length_km("geom").alias("l")).collect()}
    for wid, total in full.items():
        assert seg_sum[wid] == pytest.approx(total, rel=1e-9), wid


def test_merged_network_incremental_equals_full(spark, osm):
    """IVM property: applying a change batch (delete W2, truncate W1's
    last node, add W100 sharing nodes with survivors) through
    merged_network_incremental must reproduce the full recompute
    EXACTLY — including ways whose own rows didn't change but whose
    nodes' shared status flipped (truncating W1 drops a node-5
    occurrence, unsplitting elsewhere)."""
    from osm_pg_etl_spark.operators.topology import (
        merged_network_incremental, unnest_way_nodes)

    cn_old = car_network(osm["ways"])
    old_merged = merged_network(cn_old, osm["way_nodes"])

    ways = osm["ways"]
    trunc = F.when(F.col("id") == 1,
                   F.expr("slice(nodes, 1, size(nodes) - 1)")) \
        .otherwise(F.col("nodes"))
    trunc_ls = F.when(F.col("id") == 1,
                      F.expr("slice(linestring, 1, size(linestring) - 1)")) \
        .otherwise(F.col("linestring"))
    added = spark.createDataFrame(
        [(100, {"highway": "residential"}, [7, 16, 900],
          [(0.0, 0.0), (0.1, 0.1), (0.2, 0.2)])], ways.schema)
    new_ways = (ways.filter("id != 2")
                .withColumn("nodes", trunc)
                .withColumn("linestring", trunc_ls)
                .unionByName(added))
    new_way_nodes = unnest_way_nodes(new_ways)
    changed = spark.createDataFrame([(1,), (2,), (100,)], "way_id long")

    cn_new = car_network(new_ways)
    full = merged_network(cn_new, new_way_nodes)
    inc = merged_network_incremental(
        cn_old, osm["way_nodes"], old_merged,
        cn_new, new_way_nodes, changed)
    f = sorted(map(str, full.collect()))
    i = sorted(map(str, inc.select(*full.columns).collect()))
    assert i == f
    # the batch genuinely changed the output (not a vacuous equality)
    assert sorted(map(str, old_merged.collect())) != f


def test_split_holds_no_cache(spark, osm, stages, tmp_path):
    """The split caches nothing: the persistent-RDD count is the same
    before and after writing each assembly path's output, and the
    incremental path's nodes-mode re-split."""
    def persisted():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    cn, wn = stages["cn"], osm["way_nodes"]
    outputs = {
        "fast": merged_network(cn, wn),
        "general": merged_network(cn, wn, nodes=osm["nodes"]),
        "affected": merged_network(cn, stages["wn_net"], nodes=osm["nodes"],
                                   shared_override=stages["shared"]),
    }
    for name, df in outputs.items():
        before = persisted()
        df.write.parquet(str(tmp_path / name))
        assert persisted() == before, name


@pytest.mark.parametrize("mode", ["arrays", "nodes"])
def test_incremental_holds_no_cache(spark, osm, tmp_path, mode):
    """merged_network_incremental leaves no CacheManager entry behind:
    writing its output, in either assembly mode, keeps the entry count
    unchanged. The only RDDs it leaves persisted are its two eager local
    checkpoints (the count merge and the blast radius), which live past
    the call until the output DataFrame is garbage-collected."""
    from osm_pg_etl_spark.operators.topology import (
        merged_network_incremental, unnest_way_nodes)

    def entries():
        return spark._jsparkSession.sharedState().cacheManager() \
            .numCachedEntries()

    def persisted_ids():
        # ids, not a count: the ContextCleaner may free an earlier test's
        # RDDs meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def tagged(df):
        # a plan unique to this case: the CacheManager adds no entry for a
        # plan it already holds, which would hide a leak
        return df.withColumn("_case", F.lit(mode))

    cn_old = car_network(osm["ways"])
    old_merged = merged_network(cn_old, osm["way_nodes"])
    new_ways = osm["ways"].filter("id != 2")
    cn_new = car_network(new_ways)
    changed = spark.createDataFrame([(2,)], "way_id long")
    if mode == "nodes":
        cn_new = cn_new.select("edge_id", "tags",
                               "speed_limit", "highway", "oneway")
    before, before_ids = entries(), persisted_ids()
    inc = merged_network_incremental(
        cn_old, tagged(osm["way_nodes"]), old_merged,
        cn_new, tagged(unnest_way_nodes(new_ways)), changed,
        nodes=osm["nodes"] if mode == "nodes" else None)
    inc.write.parquet(str(tmp_path / mode))
    assert entries() == before
    assert len(persisted_ids() - before_ids) == 2


def test_mutated_way_nodes_equals_unnest_of_mutated_ways(spark):
    """q_osm_merged_incremental's CDC batch applied at the way_nodes
    level (the oracle's _WN_MUTATED_SQL shape) must produce exactly the
    rows of unnest_way_nodes over the array-mutated ways — the
    substitution that lets every consumer read the cached way_nodes
    table instead of re-running the collect_list way assembly."""
    from pyspark.sql import Window

    from osm_pg_etl_spark.operators.topology import unnest_way_nodes
    from osm_pg_etl_spark.plans.osm_derived import derive_osm

    d = derive_osm(spark, SF)
    ways, way_nodes = d["ways"], d["way_nodes"]

    # the original formulation: mutate the assembled ways, re-unnest
    mod_nd = (F.col("id") % 103 == 0) & (F.size("nodes") > 2)
    new_ways = (ways.filter(F.col("id") % 101 != 0)
                .withColumn("nodes", F.when(mod_nd, F.expr(
                    "slice(nodes, 1, size(nodes) - 1)"))
                    .otherwise(F.col("nodes"))))
    via_assembly = unnest_way_nodes(new_ways)

    # the shipped formulation: filter the way_nodes rows directly
    _n = F.count(F.lit(1)).over(Window.partitionBy("way_id"))
    direct = (way_nodes.withColumn("_n", _n)
              .filter((F.col("way_id") % 101 != 0)
                      & ~((F.col("way_id") % 103 == 0)
                          & (F.col("_n") > 2)
                          & (F.col("sequence_id") == F.col("_n") - 1)))
              .drop("_n"))

    a = sorted(map(tuple, via_assembly.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b
    assert a, "empty way_nodes at sf0.001 would make the test vacuous"


def test_network_restricted_sub_wn_identical(spark):
    """merged_network_incremental feeds merged_network the network-
    restricted new_wn instead of raw new_way_nodes for the affected
    subset; network_way_nodes must make both inputs land identically."""
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import (network_way_nodes,
                                                     unnest_way_nodes)
    from osm_pg_etl_spark.plans.osm_derived import derive_osm

    d = derive_osm(spark, SF)
    ways, way_nodes = d["ways"], d["way_nodes"]
    cn = car_network(ways)
    affected = (way_nodes.select("way_id").distinct()
                .filter(F.col("way_id") % 7 == 0))
    sub_net = cn.join(affected.select(F.col("way_id").alias("edge_id")),
                      "edge_id", "left_semi")

    raw_sub = way_nodes.join(affected, "way_id", "left_semi")
    wn_sub = (network_way_nodes(way_nodes, cn)
              .join(affected, "way_id", "left_semi"))
    a = sorted(map(tuple,
                   network_way_nodes(raw_sub, sub_net).collect()))
    b = sorted(map(tuple,
                   network_way_nodes(wn_sub, sub_net).collect()))
    assert a == b
    assert a


def test_incremental_nodes_path_equals_arrays_path(spark, osm):
    """merged_network_incremental(nodes=...) must reproduce BOTH the
    arrays-path incremental result and the full recompute exactly, from
    a META-ONLY new_network (edge_id, tags, attrs — no nodes/geom
    columns at all), for a batch that exercises every assembly case:
    W1 truncated (re-split, multi-segment), W2 deleted, W3 flipped to
    unsplit (whole-way range), W5 flipped to split (dead-end tail),
    W100 added (interior shared node -> 2 segments), W8 no-op-modified
    (2-node way, no ways_length row -> whole-way range)."""
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import (
        merged_network, merged_network_incremental, unnest_way_nodes)

    # the fixture's node_coord formula: batch-added ways must be
    # CONSISTENT with the nodes table (the nodes-path contract — it
    # reassembles geom from nodes, the arrays path slices it verbatim)
    def node_coord(nid):
        return (float(nid % 6) / 100.0, float(nid // 6) / 100.0)

    cn_old = car_network(osm["ways"])
    old_merged = merged_network(cn_old, osm["way_nodes"])

    ways = osm["ways"]
    trunc = F.when(F.col("id") == 1,
                   F.expr("slice(nodes, 1, size(nodes) - 1)")) \
        .otherwise(F.col("nodes"))
    trunc_ls = F.when(F.col("id") == 1,
                      F.expr("slice(linestring, 1, size(linestring) - 1)")) \
        .otherwise(F.col("linestring"))
    added = spark.createDataFrame(
        [(100, {"highway": "residential"}, [7, 16, 6],
          [node_coord(7), node_coord(16), node_coord(6)])], ways.schema)
    new_ways = (ways.filter("id != 2")
                .withColumn("nodes", trunc)
                .withColumn("linestring", trunc_ls)
                .unionByName(added))
    new_way_nodes = unnest_way_nodes(new_ways)
    changed = spark.createDataFrame([(1,), (2,), (8,), (100,)],
                                    "way_id long")

    cn_new = car_network(new_ways)
    full = merged_network(cn_new, new_way_nodes)
    inc_arrays = merged_network_incremental(
        cn_old, osm["way_nodes"], old_merged,
        cn_new, new_way_nodes, changed)
    meta = cn_new.select("edge_id", "tags",
                         "speed_limit", "highway", "oneway")
    inc_nodes = merged_network_incremental(
        cn_old, osm["way_nodes"], old_merged,
        meta, new_way_nodes, changed, nodes=osm["nodes"])

    f = sorted(map(str, full.collect()))
    a = sorted(map(str, inc_arrays.select(*full.columns).collect()))
    n = sorted(map(str, inc_nodes.select(*full.columns).collect()))
    assert n == f
    assert a == f
    assert sorted(map(str, old_merged.collect())) != f
