"""Network filters, imputation, directed expansion 3VL, mode-flag cascade
(FIXTURES.md cases 6-8)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_pg_etl_spark.operators.graphs import (
    create_topology,
    directed_network,
    network_nodes,
)
from osm_pg_etl_spark.operators.network import (
    car_network,
    complete_network,
    impute_speed_limit,
    with_mode_flags,
)
from osm_pg_etl_spark.operators.pois import pois_from_nodes
from osm_pg_etl_spark.operators.topology import merged_network


def test_car_network_membership(osm):
    got = sorted(r["edge_id"] for r in car_network(osm["ways"]).collect())
    assert got == [1, 2, 3, 4, 5, 6, 8, 9]  # footway W7 excluded


def test_car_network_speed_limit_parse(osm):
    got = {r["edge_id"]: r["speed_limit"]
           for r in car_network(osm["ways"]).collect()}
    assert got == {1: 50, 2: None, 3: 20, 4: 30,  # "30 mph" -> 30
                   5: None, 6: None, 8: 100, 9: None}


def test_impute_speed_limit_median_per_class(osm):
    cn = impute_speed_limit(car_network(osm["ways"]))
    got = {r["edge_id"]: r["speed_limit"] for r in cn.collect()}
    # residential known {50, 20, 30} -> median 30; motorway {100} -> 100
    assert got == {1: 50, 2: 30, 3: 20, 4: 30, 5: 30, 6: 30, 8: 100, 9: 100}


def test_directed_expansion_3vl(osm):
    merged = merged_network(car_network(osm["ways"]), osm["way_nodes"])
    directed = directed_network(merged)
    rows = directed.collect()
    per_way = {}
    for r in rows:
        per_way.setdefault(r["edge_id"], []).append((r["start_node"], r["end_node"]))
    # W8: motorway with NULL oneway matches neither slice -> silently dropped
    assert 8 not in per_way
    # W9: motorway oneway=yes -> forward only
    assert per_way[9] == [(23, 24)]
    # W2: oneway=yes -> forward only (2 segments)
    assert sorted(per_way[2]) == [(3, 7), (6, 3)]
    # W4: oneway=-1 -> reversed only
    assert sorted(per_way[4]) == [(2, 10), (3, 2), (12, 3)]
    # W1: two-way -> both directions for all 3 segments
    assert sorted(per_way[1]) == sorted(
        [(1, 2), (2, 3), (3, 5), (2, 1), (3, 2), (5, 3)])
    # reversed slices reverse the node list too
    w4 = {(r["start_node"], r["end_node"]): tuple(r["nodes"])
          for r in rows if r["edge_id"] == 4}
    assert w4[(3, 2)] == (3, 11, 2)
    assert directed.count() == 20


def test_directed_network_requires_speed_limit(osm):
    """length, speed_limit, highway and oneway are part of the directed
    table's contract: a merged input without speed_limit fails at the
    boundary instead of yielding a narrower table."""
    from pyspark.errors import AnalysisException

    merged = merged_network(car_network(osm["ways"]), osm["way_nodes"])
    with pytest.raises(AnalysisException):
        directed_network(merged.drop("speed_limit"))


def test_network_nodes_endpoints_only(osm):
    merged = merged_network(car_network(osm["ways"]), osm["way_nodes"])
    nn = network_nodes(osm["nodes"], merged)
    got = sorted(r["node_id"] for r in nn.collect())
    assert got == [1, 2, 3, 5, 6, 7, 9, 10, 12, 13, 16, 17, 19, 22, 23, 24]
    wkt = {r["node_id"]: r["node_coord"] for r in nn.collect()}
    assert wkt[1] == "POINT(0.0100000 0.0000000)"


# --- mode-flag cascade (osm-complete-graphs.sql:59-151) ---------------------

def _flags(spark, tags: dict):
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("nodes", T.ArrayType(T.LongType())),
        T.StructField("linestring", T.ArrayType(T.StructType([
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType())]))),
    ])
    ways = spark.createDataFrame(
        [(1, tags, [1, 2], [(0.0, 0.0), (1.0, 1.0)])], schema)
    r = with_mode_flags(complete_network(ways)).collect()[0]
    return (r["car"], r["pedestrian"], r["bicycle"])


def test_mode_flags_cycleway(spark):
    assert _flags(spark, {"highway": "cycleway", "bicycle": "designated"}) \
        == (0, None, 1)


def test_mode_flags_precedence_quirk(spark):
    # footway='yes' OR-branch bypasses the IS NULL guard
    # (osm-complete-graphs.sql:122-127): pedestrian flips to 1 even though
    # the motorway rule already set it to 0; car is zeroed by the same tag.
    assert _flags(spark, {"highway": "motorway", "footway": "yes"}) == (0, 1, 0)


def test_mode_flags_order_sensitivity(spark):
    # access=private zeroes all modes first; the later car include-list rule
    # is NULL-guarded and must NOT overwrite the 0
    assert _flags(spark, {"highway": "primary", "access": "private"}) == (0, 0, 0)


def test_mode_flags_plain_residential(spark):
    assert _flags(spark, {"highway": "residential"}) == (None, None, None)


def test_mode_flags_living_street(spark):
    assert _flags(spark, {"highway": "living_street"}) == (None, 1, 1)


# --- POIs (osm-pois-extract.sql) --------------------------------------------

def test_pois_long_format(osm):
    pois = pois_from_nodes(osm["nodes"])
    got = sorted((r["node_id"], r["key"], r["values"], r["name"])
                 for r in pois.collect())
    # node 1 has two POI keys -> two rows (case 9); name carried along
    assert got == [
        (1, "amenity", "cafe", "Corner"),
        (1, "sport", "soccer", "Corner"),
        (6, "shop", "bakery", None),
        (17, "tourism", "hotel", "Grand"),
    ]


# --- pgr_createTopology analog ----------------------------------------------

def test_create_topology_snaps_endpoints(spark):
    schema = "edge_id long, geom array<struct<lon:double,lat:double>>"
    edges = spark.createDataFrame([
        (1, [(0.0, 0.0), (1.0, 0.0)]),
        (2, [(1.00004, 0.00002), (2.0, 0.0)]),   # start ~= edge 1's end
        (3, [(5.0, 5.0), (6.0, 6.0)]),
    ], schema)
    t = create_topology(edges, tolerance=0.0001)
    got = {r["edge_id"]: (r["source"], r["target"]) for r in t.collect()}
    assert got[1][1] == got[2][0]          # snapped to same vertex id
    assert len({v for st in got.values() for v in st}) == 5
