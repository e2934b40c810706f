"""Focused equivalence tests for round-15 optimization internals.

Each test pins an optimization that REPLACED one computation with a
cheaper equivalent: the equivalence itself is what must hold, so a
future edit that breaks it fails here rather than at the next oracle
sweep.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_lit_double_array_bit_identical(spark):
    """_lit_double_array (one SQL-parsed expression) must produce the
    exact doubles of the per-element-literal path, including values
    whose decimal form is non-trivial to round-trip."""
    from osm_pg_etl_spark.operators.similarity import _lit_double_array

    vals = [0.1, -0.0, 1e-320, 2.0 ** 1023, 123456789.123456789,
            -1.7976931348623157e308, 5e-324, 0.30000000000000004]
    row = (spark.range(1)
           .select(_lit_double_array(vals).alias("a"),
                   F.array(*[F.lit(float(x)) for x in vals]).alias("b"))
           .collect()[0])
    assert all(
        (math.copysign(1.0, x) == math.copysign(1.0, y) and x == y)
        for x, y in zip(row["a"], row["b"]))


def test_lit_double_array_nonfinite_fallback(spark):
    """Non-finite values cannot ride SQL text — the helper must fall
    back to per-element literals and still deliver them."""
    from osm_pg_etl_spark.operators.similarity import _lit_double_array

    row = (spark.range(1)
           .select(_lit_double_array([1.0, float("nan"), float("inf")])
                   .alias("a")).collect()[0])
    assert row["a"][0] == 1.0
    assert math.isnan(row["a"][1])
    assert math.isinf(row["a"][2])


def test_car_way_ids_equals_car_network_edge_ids(spark):
    """derive_car_way_ids (plain-column tag cascade, no way assembly)
    must produce exactly the distinct edge-id set of the full
    car_network operator — the substitution osm_relation_members rides."""
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.plans.osm_derived import (derive_car_way_ids,
                                                    derive_osm)

    fast = {r[0] for r in derive_car_way_ids(spark, SF).collect()}
    full = {r[0] for r in (car_network(derive_osm(spark, SF)["ways"])
                           .select("edge_id").distinct().collect())}
    assert fast == full
    assert fast, "empty car network at sf0.001 would make the test vacuous"


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

    # reference: the pre-r15 window formulation, replayed on the same
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
    """r15 §13: _louvain_round folds the node's own community into the
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
