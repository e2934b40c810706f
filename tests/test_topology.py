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
