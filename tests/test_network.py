"""Network filters, imputation, directed expansion 3VL, mode-flag cascade
(FIXTURES.md cases 6-8)."""

import pytest
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

SF = "/root/testdata/sf0.001"


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


def test_impute_after_merge_equals_before(spark):
    """osm_directed_graph's rewrite: imputing the MERGED network from
    the pre-split car network's medians must equal merging the imputed
    network — every merged segment copies (highway, speed_limit, oneway)
    verbatim from its single parent way, so the coalesce commutes with
    the split."""
    from osm_pg_etl_spark.operators.graphs import directed_network
    from osm_pg_etl_spark.operators.network import (car_network,
                                                    impute_speed_limit)
    from osm_pg_etl_spark.operators.topology import merged_network
    from osm_pg_etl_spark.plans.osm_derived import derive_osm

    d = derive_osm(spark, SF)
    cn = car_network(d["ways"]).cache()

    old = directed_network(
        merged_network(impute_speed_limit(cn), d["way_nodes"]),
        minimal=True)
    new = directed_network(
        impute_speed_limit(
            merged_network(cn, d["way_nodes"]),
            medians_from=cn),
        minimal=True)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    a, b = canon(old), canon(new)
    assert a, "empty directed graph at sf0.001 would make the test vacuous"
    assert a == b


def test_directed_network_narrow_equals_full_projection(spark):
    """directed_network on the geometry-free meta projection must emit
    exactly the full-width expansion minus the heavy passthrough columns
    (direction logic reads only oneway/highway)."""
    from osm_pg_etl_spark.operators.graphs import directed_network
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import merged_network
    from osm_pg_etl_spark.plans.osm_derived import derive_osm

    d = derive_osm(spark, SF)
    full = merged_network(car_network(d["ways"]), d["way_nodes"])
    narrow = full.select("edge_id", "start_node", "end_node",
                         "length", "speed_limit", "highway", "oneway")

    want_cols = ["start_node", "end_node", "edge_id", "length",
                 "speed_limit", "highway", "oneway"]
    got = directed_network(narrow)
    assert got.columns == want_cols

    def canon(df):
        # multiset compare: rows carry NULLs (speed_limit/oneway), which
        # tuple sorting cannot order
        from collections import Counter
        return Counter(tuple(r) for r in df.collect())

    a = canon(directed_network(full).select(*want_cols))
    b = canon(got)
    assert a and a == b
    # and the minimal shape is unchanged for both input widths
    m_full = canon(directed_network(full, minimal=True))
    m_narrow = canon(directed_network(narrow, minimal=True))
    assert m_full == m_narrow
