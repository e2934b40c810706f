"""OSM-pipeline queries with DuckDB oracles.

The driver's synthetic data has no OSM tables, so these queries *derive* a
deterministic OSM-shaped world from them (same derivation on both sides):

- ``nodes``     ← part   (node_id = p_partkey, grid lon/lat, POI tags)
- ``way_nodes`` ← lineitem (way_id = l_orderkey, node_id = l_partkey,
                  sequence_id = per-order row_number by l_linenumber − 1)
- ``ways``      ← way_nodes + orders (tag map: highway/oneway/maxspeed/…
                  from o_orderkey residues)

then run the *real* engine operators (car_network → impute → split/merge →
directed expansion; complete-network mode flags; POIs). The oracles
replicate the reference's SQL semantics directly in DuckDB, so a hash match
checks the whole crown-jewel pipeline (SURVEY §2.3 J1-J10, §2.4 A7-A10,
§2.5 W1, §2.2 P9) line by line.

Because parts are reused across orders, nearly every node is shared —
a dense topology workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graphs import directed_network, network_nodes
from ..operators.network import (
    car_network,
    complete_network,
    impute_speed_limit,
    with_mode_flags,
)
from ..operators.pois import pois_from_nodes
from ..operators.relations import relation_route_summary
from ..operators.topology import (
    merged_network,
    network_way_nodes,
    shared_nodes,
    ways_merge_limits,
)
from .common import t

# ---------------------------------------------------------------------------
# Derivation (Spark side). The SQL fragments below mirror these expressions.
# ---------------------------------------------------------------------------

_HIGHWAYS = ("residential", "primary", "motorway", "footway", "secondary",
             "service", "tertiary", "steps", "cycleway", "living_street",
             "path", "construction")


def _case_mod(col, pairs: list[tuple[int, str | None]], mod: int):
    expr = F.lit(None).cast("string")
    c = col % mod
    for val, out in pairs:
        if out is not None:
            expr = F.when(c == val, F.lit(out)).otherwise(expr)
    return expr


def _way_tag_exprs(key_col):
    """The tag-value expressions, keyed by o_orderkey residues."""
    hw = F.element_at(F.array(*[F.lit(h) for h in _HIGHWAYS]),
                      (key_col % 12).cast("int") + 1)
    return {
        "highway": hw,
        "oneway": _case_mod(key_col, [(1, "yes"), (2, "no"), (3, "-1")], 4),
        "maxspeed": _case_mod(key_col, [(1, "50"), (2, "50 mph"), (3, "30"),
                                        (4, "none")], 5),
        "access": _case_mod(key_col, [(0, "private"), (1, "no"), (2, "permit")], 11),
        "service": _case_mod(key_col, [(0, "parking_aisle"), (1, "drive-through")], 13),
        "bicycle": _case_mod(key_col, [(0, "designated")], 17),
        "foot": _case_mod(key_col, [(0, "designated")], 19),
        "footway": _case_mod(key_col, [(0, "sidewalk"), (1, "crossing"), (2, "yes")], 23),
        "motor_vehicle": _case_mod(key_col, [(0, "no")], 29),
        "bus": _case_mod(key_col, [(0, "designated")], 31),
        "cycleway": _case_mod(key_col, [(0, "designated")], 37),
    }


_NODE_TAG_EXPRS = {
    "amenity": lambda p: F.when(p["p_size"] % 3 == 0, p["p_brand"]),
    "shop": lambda p: F.when(p["p_size"] % 4 == 0, p["p_type"]),
    "leisure": lambda p: F.when(p["p_size"] % 5 == 0, F.lit("park")),
    "sport": lambda p: F.when(p["p_size"] % 7 == 0, F.lit("soccer")),
    "tourism": lambda p: F.when(p["p_size"] % 11 == 3, F.lit("hotel")),
    "name": lambda p: F.when(p["p_size"] % 2 == 0, p["p_name"]),
}


def _tags_map(exprs: dict) -> F.Column:
    """Build a map<string,string>, dropping absent (NULL) values — hstore
    never stores a key with no value."""
    entries = []
    for k, v in exprs.items():
        entries.extend([F.lit(k), v])
    return F.map_filter(F.map_from_arrays(
        F.array(*entries[0::2]), F.array(*entries[1::2])),
        lambda k, v: v.isNotNull())


def derive_osm(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return derive_osm_from(t(spark, sf_dir, "part"),
                           t(spark, sf_dir, "lineitem"))


def derive_osm_from(part: DataFrame, li: DataFrame) -> dict[str, DataFrame]:
    """Build the OSM-shaped world (nodes/ways/way_nodes) from arbitrary
    part/lineitem-shaped DataFrames — shared by the sf_dir-based gate
    queries and the key-offset scale-stress harness."""
    # coords span a ~4°×2° region: keeps haversine sums O(100 km) so the
    # round(…,4) applied before hashing sits far from any float boundary
    nodes = part.select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") % 360).cast("double") / 100 - F.lit(1.795)).alias("lon"),
        ((F.col("p_partkey") % 170).cast("double") / 100 - F.lit(0.845)).alias("lat"),
        _tags_map({k: f(part) for k, f in _NODE_TAG_EXPRS.items()}).alias("tags"))

    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # tiebreak on l_partkey so sequence_id is deterministic (full ties then
    # share the same node_id, so any residual order is value-identical)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    # nodes/way_nodes are consumed by several downstream branches per query
    # (ways assembly, the network semi-join, POIs); cache both — identical
    # plans across queries also hit the same InMemoryRelation, mirroring
    # the reference's materialized pgsnapshot base tables
    nodes = nodes.cache()
    way_nodes = li.select(
        F.col("l_orderkey").alias("way_id"),
        F.col("l_partkey").alias("node_id"),
        (F.row_number().over(w) - 1).cast("int").alias("sequence_id")).cache()

    pts = way_nodes.join(
        nodes.select(F.col("id").alias("node_id"), "lon", "lat"), "node_id")
    collected = (pts.groupBy(F.col("way_id").alias("id"))
                 .agg(F.sort_array(F.collect_list(F.struct(
                     F.col("sequence_id").alias("seq"),
                     F.col("node_id").alias("node_id"),
                     F.struct("lon", "lat").alias("pt")))).alias("s")))
    key = F.col("id")
    ways = collected.select(
        "id",
        F.transform("s", lambda r: r["node_id"]).alias("nodes"),
        F.transform("s", lambda r: r["pt"]).alias("linestring"),
        _tags_map(_way_tag_exprs(key)).alias("tags"))
    return {"nodes": nodes, "ways": ways, "way_nodes": way_nodes}


def _shared_network(spark: SparkSession, sf_dir: str):
    """derive → car_network → merged_network with the two pipeline
    constants cached, so the merged network is materialized once for all
    its consumers (guide §5: materialize multi-consumer intermediates
    once).

    Every OSM graph gate rebuilds this identical derive→cn→merged
    pipeline; with only ``cn`` cached, each gate re-ran the
    shared/limits/assembly chain (~3.5-5.5 s per gate at sf0.01).
    Caching ``merged`` keys on the ANALYZED PLAN: Spark's CacheManager
    matches sameResult plans, so every gate in one process that builds
    this pipeline reads one materialization. The "keyed registry" IS the
    CacheManager — there is no Python-level store, nothing outlives
    ``spark.catalog.clearCache()`` (the bench clears between timed
    passes, so every pass re-materializes from the parquet inputs; the
    first OSM query of a pass pays the build, the rest share it), and a
    fresh process starts empty (pinned by
    tests/test_plan_contracts.py::test_shared_network_registry_empty_at_start).

    The cached table is the GEOMETRY-FREE meta projection (n_nodes in
    place of the nodes/geom arrays, no tags map): every consumer of this
    helper reads only (edge_id, endpoints, n_nodes, length, attrs) —
    verified per call site — and caching the full-width table
    materializes per-segment coordinate/node arrays nobody reads, which
    an interleaved sf1 A/B measured at +16% on osm_communities (the
    cache build cost + storage footprint; InMemoryTableScan prunes
    columns on read, but the build must compute and store them). Gates
    that need geometry (geometric_split/blades, create_topology,
    explore_summary) read ``cn``/``d`` instead and are unaffected.

    Returns ``(tables_dict, cn, merged)``."""
    d = derive_osm(spark, sf_dir)
    cn = car_network(d["ways"]).cache()
    merged = (merged_network(cn, d["way_nodes"])
              .select("edge_id", "start_node", "end_node",
                      F.size("nodes").alias("n_nodes"),
                      "length", "speed_limit", "highway", "oneway")
              .cache())
    return d, cn, merged


# ---------------------------------------------------------------------------
# Shared DuckDB CTE fragments mirroring the derivation + reference pipeline.
# ---------------------------------------------------------------------------

_HW_SQL = ("CASE o_orderkey % 12 "
           + " ".join(f"WHEN {i} THEN '{h}'" for i, h in enumerate(_HIGHWAYS))
           + " END")

_WTAGS_SQL = f"""
wtags AS (
  SELECT o_orderkey AS way_id,
    {_HW_SQL} AS highway,
    CASE o_orderkey % 4 WHEN 1 THEN 'yes' WHEN 2 THEN 'no' WHEN 3 THEN '-1' END AS oneway,
    CASE o_orderkey % 5 WHEN 1 THEN '50' WHEN 2 THEN '50 mph' WHEN 3 THEN '30'
                        WHEN 4 THEN 'none' END AS maxspeed,
    CASE o_orderkey % 11 WHEN 0 THEN 'private' WHEN 1 THEN 'no' WHEN 2 THEN 'permit' END AS access,
    CASE o_orderkey % 13 WHEN 0 THEN 'parking_aisle' WHEN 1 THEN 'drive-through' END AS service,
    CASE o_orderkey % 17 WHEN 0 THEN 'designated' END AS bicycle,
    CASE o_orderkey % 19 WHEN 0 THEN 'designated' END AS foot,
    CASE o_orderkey % 23 WHEN 0 THEN 'sidewalk' WHEN 1 THEN 'crossing' WHEN 2 THEN 'yes' END AS footway,
    CASE o_orderkey % 29 WHEN 0 THEN 'no' END AS motor_vehicle,
    CASE o_orderkey % 31 WHEN 0 THEN 'designated' END AS bus,
    CASE o_orderkey % 37 WHEN 0 THEN 'designated' END AS cycleway
  FROM orders)
"""

_NODES_SQL = """
nodes_d AS (
  SELECT p_partkey AS id,
         CAST(p_partkey % 360 AS DOUBLE) / 100 - 1.795 AS lon,
         CAST(p_partkey % 170 AS DOUBLE) / 100 - 0.845 AS lat,
         CASE WHEN p_size % 3 = 0 THEN p_brand END AS amenity,
         CASE WHEN p_size % 4 = 0 THEN p_type END AS shop,
         CASE WHEN p_size % 5 = 0 THEN 'park' END AS leisure,
         CASE WHEN p_size % 7 = 0 THEN 'soccer' END AS sport,
         CASE WHEN p_size % 11 = 3 THEN 'hotel' END AS tourism,
         CASE WHEN p_size % 2 = 0 THEN p_name END AS name
  FROM part)
"""

_WN_SQL = """
wn AS (
  SELECT l_orderkey AS way_id, l_partkey AS node_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) - 1 AS INT)
           AS sequence_id
  FROM lineitem)
"""

# car_network: include-list + NULL-preserving exclusion (osm-road-graphs.sql:8-28)
_CN_SQL = """
cn AS (
  SELECT w.way_id AS edge_id, w.highway, w.oneway,
         CASE WHEN regexp_extract(w.maxspeed, '([0-9]+)', 1) != ''
              THEN CAST(regexp_extract(w.maxspeed, '([0-9]+)', 1) AS INT) END AS speed_limit
  FROM wtags w
  WHERE w.highway IN ('motorway','primary','tertiary','secondary','primary_link',
                      'tertiary_link','secondary_link','trunk','residential',
                      'unclassified','living_street')
    AND NOT COALESCE(
        w.bicycle IN ('designated') OR w.foot IN ('designated')
        OR w.bus IN ('designated') OR w.footway IN ('sidewalk','crossing')
        OR w.motor_vehicle IN ('no','private') OR w.access IN ('no','private')
        OR w.service IN ('parking_aisle','parking'), FALSE)
    AND w.way_id IN (SELECT way_id FROM wn))
"""

# per-way geodesic length over consecutive way_node points (F10/F11)
_WAYLEN_SQL = """
waypts AS (
  SELECT wn.way_id, wn.sequence_id, n.lon, n.lat,
         LAG(n.lon) OVER (PARTITION BY wn.way_id ORDER BY wn.sequence_id) AS plon,
         LAG(n.lat) OVER (PARTITION BY wn.way_id ORDER BY wn.sequence_id) AS plat
  FROM wn JOIN nodes_d n ON wn.node_id = n.id),
waylen AS (
  SELECT way_id,
         COALESCE(SUM(2.0 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
           SIN(RADIANS(lat - plat) / 2) * SIN(RADIANS(lat - plat) / 2)
           + COS(RADIANS(plat)) * COS(RADIANS(lat))
           * SIN(RADIANS(lon - plon) / 2) * SIN(RADIANS(lon - plon) / 2)))))
           FILTER (WHERE plon IS NOT NULL), 0.0) AS length
  FROM waypts GROUP BY way_id)
"""

# way endpoints from way_nodes (nodes[1] / nodes[array_upper])
_WAYENDS_SQL = """
wayends AS (
  SELECT way_id, min_by(node_id, sequence_id) AS start_node,
         max_by(node_id, sequence_id) AS end_node
  FROM wn GROUP BY way_id)
"""

# the topology split pipeline (osm-road-graphs.sql:64-127) over network ways
_TOPOLOGY_SQL = """
wn_net AS (SELECT wn.* FROM wn WHERE wn.way_id IN (SELECT edge_id FROM cn)),
shared AS (
  SELECT node_id FROM wn_net GROUP BY node_id HAVING COUNT(*) > 1),
wlen AS (
  SELECT way_id, MAX(sequence_id) AS length
  FROM wn_net WHERE sequence_id > 1 GROUP BY way_id),
splits AS (
  SELECT n.way_id, n.node_id, n.sequence_id
  FROM wn_net n JOIN wlen w ON n.way_id = w.way_id AND n.sequence_id < w.length
  WHERE n.sequence_id > 0 AND n.node_id IN (SELECT node_id FROM shared)),
lim0 AS (
  SELECT way_id,
         LAG(sequence_id, 1, 0) OVER (PARTITION BY way_id ORDER BY sequence_id)
           AS bottom_limit,
         sequence_id AS top_limit
  FROM wn_net
  WHERE sequence_id > 0
    AND way_id IN (SELECT way_id FROM splits)
    AND node_id IN (SELECT node_id FROM shared)),
tails AS (
  SELECT l.way_id, l.top AS bottom_limit, w.length AS top_limit
  FROM (SELECT way_id, MAX(top_limit) AS top FROM lim0 GROUP BY way_id) l
  JOIN wlen w ON l.way_id = w.way_id AND l.top < w.length),
lims AS (SELECT * FROM lim0 UNION ALL SELECT * FROM tails)
"""

# merged segments + untouched ways (osm-road-graphs.sql:129-165). The
# attribute list is parameterized so the complete-network variant
# (osm-complete-graphs-fix.sql:167-197) can carry the mode-flag columns.
def _merged_sql(attrs: tuple[str, ...] = ("highway", "oneway", "speed_limit")) -> str:
    alist = ", ".join(f"c.{a}" for a in attrs)
    return f"""
segrows AS (
  SELECT n.way_id, l.top_limit AS group_id, n.sequence_id, n.node_id
  FROM wn_net n JOIN lims l
    ON n.way_id = l.way_id
   AND n.sequence_id BETWEEN l.bottom_limit AND l.top_limit),
segpts AS (
  SELECT s.way_id, s.group_id, s.sequence_id, s.node_id, n.lon, n.lat,
         LAG(n.lon) OVER (PARTITION BY s.way_id, s.group_id ORDER BY s.sequence_id) AS plon,
         LAG(n.lat) OVER (PARTITION BY s.way_id, s.group_id ORDER BY s.sequence_id) AS plat
  FROM segrows s JOIN nodes_d n ON s.node_id = n.id),
segs AS (
  SELECT way_id AS edge_id, group_id,
         min_by(node_id, sequence_id) AS start_node,
         max_by(node_id, sequence_id) AS end_node,
         CAST(COUNT(*) AS INT) AS n_nodes,
         COALESCE(SUM(2.0 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
           SIN(RADIANS(lat - plat) / 2) * SIN(RADIANS(lat - plat) / 2)
           + COS(RADIANS(plat)) * COS(RADIANS(lat))
           * SIN(RADIANS(lon - plon) / 2) * SIN(RADIANS(lon - plon) / 2)))))
           FILTER (WHERE plon IS NOT NULL), 0.0) AS length
  FROM segpts GROUP BY way_id, group_id),
merged AS (
  SELECT s.edge_id, s.start_node, s.end_node, s.n_nodes, s.length,
         {alist}
  FROM segs s JOIN cn c ON s.edge_id = c.edge_id
  UNION ALL
  SELECT c.edge_id, e.start_node, e.end_node, wc.n_nodes,
         wl.length, {alist}
  FROM cn c
  JOIN wayends e ON c.edge_id = e.way_id
  JOIN waylen wl ON c.edge_id = wl.way_id
  JOIN (SELECT way_id, CAST(COUNT(*) AS INT) AS n_nodes
        FROM wn_net GROUP BY way_id) wc ON c.edge_id = wc.way_id
  WHERE c.edge_id NOT IN (SELECT DISTINCT edge_id FROM segs))
"""


_MERGED_SQL = _merged_sql()


def _cte(*frags: str) -> str:
    return "WITH " + ",\n".join(f.strip() for f in frags)


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

def q_osm_car_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_osm(spark, sf_dir)
    cn = car_network(d["ways"])
    return cn.select("edge_id", "start_node", "end_node", "highway", "oneway",
                     "speed_limit", F.round("length", 4).alias("length_km"))


SQL_OSM_CAR_NETWORK = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                           _WAYLEN_SQL, _WAYENDS_SQL) + """
SELECT c.edge_id, e.start_node, e.end_node, c.highway, c.oneway,
       c.speed_limit, ROUND(w.length, 4) AS length_km
FROM cn c JOIN wayends e ON c.edge_id = e.way_id
JOIN waylen w ON c.edge_id = w.way_id
"""


def q_osm_shared_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_osm(spark, sf_dir)
    cn = car_network(d["ways"])
    wn_net = network_way_nodes(d["way_nodes"], cn)
    return shared_nodes(wn_net)


SQL_OSM_SHARED_NODES = _cte(_WTAGS_SQL, _WN_SQL, _CN_SQL) + """
SELECT node_id, CAST(COUNT(*) AS BIGINT) AS count
FROM wn WHERE way_id IN (SELECT edge_id FROM cn)
GROUP BY node_id HAVING COUNT(*) > 1
"""


def q_osm_merge_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference-named table is an explode of merged_network's own
    # per-way limit arrays: one node_id window flags shared nodes, one
    # way_id aggregation derives every way's [bottom, top] ranges
    d = derive_osm(spark, sf_dir)
    cn = car_network(d["ways"])
    return ways_merge_limits(network_way_nodes(d["way_nodes"], cn))


SQL_OSM_MERGE_LIMITS = _cte(_WTAGS_SQL, _WN_SQL, _CN_SQL, _TOPOLOGY_SQL) + """
SELECT way_id, bottom_limit, top_limit FROM lims
"""


def q_osm_merged_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology crown jewel: the car network split at shared nodes and
    reassembled (``osm-road-graphs.sql:64-165``). The split is one per-way
    pass (operators/topology.py): a count window over ``node_id`` flags the
    shared way_nodes rows, one ``groupBy(way_id)`` derives each way's
    segment limits with array functions, and the segments are slices of
    the way's own node and geometry arrays. Its only shuffles are that
    node_id exchange, that way_id exchange and the joins with the network
    table; nothing is cached inside it. The gate reads the process-wide
    meta projection of :func:`_shared_network`."""
    d, cn, merged = _shared_network(spark, sf_dir)
    return merged.select("edge_id", "start_node", "end_node", "n_nodes",
                         F.round("length", 4).alias("length_km"),
                         "highway", "oneway", "speed_limit")


SQL_OSM_MERGED_NETWORK = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                              _WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL,
                              _MERGED_SQL) + """
SELECT edge_id, start_node, end_node, n_nodes, ROUND(length, 4) AS length_km,
       highway, oneway, speed_limit
FROM merged
"""


def q_osm_merged_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the merged network under a
    deterministic CDC batch — the osmosisUpdate scenario
    (etl/pgsnapshot_schema_0.6.sql:139-143: apply diff, refresh derived
    tables) done WITHOUT re-splitting the world: delete every way with
    id % 101 == 0 and truncate the last node of every ≥3-node way with
    id % 103 == 0, then maintain the previously-materialized merged
    table through operators.topology.merged_network_incremental (blast
    radius = changed ways + ways whose nodes' shared status flipped,
    with the global shared table maintained by count deltas). The
    oracle is a FULL recompute over the mutated inputs, so a hash match
    proves incremental ≡ full — the property that makes the incremental
    path trustworthy at 100 TB, where rerunning the topology pipeline
    over an unchanged continent to absorb a minutely diff is the
    dominant waste.

    The new-side network is fed META-ONLY (edge_id, tags, attrs — the
    cached old network minus the deleted ways; the batch never edits
    tags) and the operator reassembles the affected subset's arrays from
    way_nodes ⋈ nodes (``nodes=``), so no planet-wide ways-with-arrays
    snapshot is built for the new side at all."""
    from ..operators.topology import merged_network_incremental

    d, old_cn, old_merged = _shared_network(spark, sf_dir)
    way_nodes = d["way_nodes"]

    # new_way_nodes applied at the way_nodes level (the oracle's
    # _WN_MUTATED_SQL shape) instead of unnest_way_nodes(new_ways):
    # value-identical — the way assembly's nodes join cannot drop rows
    # (node ids are foreign keys into nodes, sequence_id is the dense
    # 0..n-1 array position either way) — but each consumer reads the
    # CACHED way_nodes table (already hash-partitioned by way_id from
    # its row_number window, so the count window below adds no
    # exchange) rather than re-running the collect_list way assembly +
    # posexplode per reference (guide §5 / §2.3)
    _n = F.count(F.lit(1)).over(Window.partitionBy("way_id"))
    new_way_nodes = (way_nodes
                     .withColumn("_n", _n)
                     .filter((F.col("way_id") % 101 != 0)
                             & ~((F.col("way_id") % 103 == 0)
                                 & (F.col("_n") > 2)
                                 & (F.col("sequence_id")
                                    == F.col("_n") - 1)))
                     .drop("_n"))
    # changed ways from the CACHED way_nodes table instead of the
    # assembled ways table: identical id set (ways is the groupBy of
    # way_nodes ⋈ nodes, and node ids are foreign keys, so no way is
    # dropped by that join; the operator distincts), without re-running
    # the pruned-assembly pass. Over-inclusion would merely widen the
    # blast radius; under-inclusion is impossible (superset by
    # construction).
    changed = (way_nodes.filter((F.col("way_id") % 101 == 0)
                                | (F.col("way_id") % 103 == 0))
               .select("way_id"))
    # The new-side network as META ONLY (edge_id, tags, attrs), derived
    # from the cached old network: the CDC batch deletes ways and
    # truncates node arrays but never edits tags, and car_network's
    # include/exclude filter reads tags alone, so the post-batch network
    # membership and meta columns are exactly old_cn minus the deleted
    # ways — the maintained ways-meta table patched by the diff, which
    # is how osmosisUpdate keeps it. The affected subset's arrays are
    # assembled by the operator from way_nodes ⋈ nodes (nodes=...),
    # so NO planet-wide ways-with-arrays snapshot is built for the new
    # side at all.
    new_cn = (old_cn.select("edge_id", "tags",
                            "speed_limit", "highway", "oneway")
              .filter(F.col("edge_id") % 101 != 0))
    inc = merged_network_incremental(old_cn, way_nodes, old_merged,
                                     new_cn, new_way_nodes, changed,
                                     nodes=d["nodes"])
    return inc.select("edge_id", "start_node", "end_node", "n_nodes",
                      F.round("length", 4).alias("length_km"),
                      "highway", "oneway", "speed_limit")


# the CDC batch applied at the source: deleted ways vanish from wn (and
# thereby from cn via its IN-subquery), truncated ways lose their last
# (l_linenumber, l_partkey)-ordered row — the rest of the chain is the
# UNCHANGED full pipeline, which is exactly the point of the oracle
_WN_MUTATED_SQL = """
wn AS (
  SELECT way_id, node_id, sequence_id FROM (
    SELECT l_orderkey AS way_id, l_partkey AS node_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_partkey) - 1 AS INT) AS sequence_id,
           COUNT(*) OVER (PARTITION BY l_orderkey) AS _n
    FROM lineitem WHERE l_orderkey % 101 != 0)
  WHERE NOT (way_id % 103 = 0 AND _n > 2 AND sequence_id = _n - 1))
"""

SQL_OSM_MERGED_INCREMENTAL = _cte(_WTAGS_SQL, _NODES_SQL, _WN_MUTATED_SQL,
                                  _CN_SQL, _WAYLEN_SQL, _WAYENDS_SQL,
                                  _TOPOLOGY_SQL, _MERGED_SQL) + """
SELECT edge_id, start_node, end_node, n_nodes, ROUND(length, 4) AS length_km,
       highway, oneway, speed_limit
FROM merged
"""


def q_osm_directed_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ride the SHARED plain merged network and impute AFTER the
    # split, with the medians still computed over the pre-split car
    # network (impute_speed_limit(medians_from=cn)). Value-identical to
    # the old merged_network(impute(cn)) formulation: every merged
    # segment copies (highway, speed_limit, oneway) verbatim from its
    # single parent way (_assemble_from_way_arrays projects network[a];
    # splitting never mixes ways), so coalescing the copied NULLs with
    # the same per-highway median table gives the same rows — while the
    # gate now shares the one cached merged materialization with every
    # other OSM gate instead of building a private imputed variant of
    # the whole split pipeline (equivalence pinned by
    # tests/test_network.py::test_impute_after_merge_equals_before).
    d, cn, merged = _shared_network(spark, sf_dir)
    out = directed_network(impute_speed_limit(merged, medians_from=cn),
                           minimal=True)
    return out.select("start_node", "end_node",
                      F.round("length", 4).alias("length_km"), "speed_limit")


SQL_OSM_DIRECTED_GRAPH = _cte(
    _WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL + """,
med AS (SELECT highway, CAST(ROUND(quantile_cont(speed_limit, 0.5)) AS INT) AS m
        FROM cn GROUP BY highway),
cni AS (SELECT c.edge_id, c.highway, c.oneway,
               COALESCE(c.speed_limit, m.m) AS speed_limit
        FROM cn c LEFT JOIN med m ON c.highway = m.highway)
""", _WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL,
    _MERGED_SQL.replace("JOIN cn c", "JOIN cni c")
               .replace("FROM cn c", "FROM cni c")
    # MATERIALIZED: the 4-slice union below references `merged` four
    # times; DuckDB inlines CTEs by default, so without this it replays
    # the whole split/merge derivation 4x (measured at sf1: >60 GB of
    # spill, then allocator death). Single evaluation matches what the
    # Spark side does with its cached merged network.
    .replace("merged AS (", "merged AS MATERIALIZED (", 1)) + """
, expanded AS (
  SELECT start_node, end_node, length, speed_limit FROM merged
    WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
  UNION ALL
  SELECT end_node, start_node, length, speed_limit FROM merged
    WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
  UNION ALL
  SELECT start_node, end_node, length, speed_limit FROM merged
    WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
  UNION ALL
  SELECT end_node, start_node, length, speed_limit FROM merged
    WHERE oneway = '-1')
SELECT start_node, end_node, ROUND(length, 4) AS length_km, speed_limit
FROM expanded
"""


def q_osm_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the merged car graph — the first network
    analysis the reference ships out to igraph (``osm-pg-etl.md:31-105``),
    run natively on DataFrames instead (operators.graph_algo). Component =
    min reachable node id, so the result is iteration-order independent."""
    from ..operators.graph_algo import connected_components

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    return connected_components(edges)


SQL_OSM_COMPONENTS = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                          _WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL,
                          _MERGED_SQL).replace("WITH ", "WITH RECURSIVE ", 1) + """,
edges AS (
  SELECT start_node AS a, end_node AS b FROM merged WHERE start_node != end_node
  UNION
  SELECT end_node, start_node FROM merged WHERE start_node != end_node),
reach AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node)
SELECT node, MIN(label) AS component FROM reach GROUP BY node
"""


def q_osm_graph_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-QA report — the pgr_analyzeGraph / pgr_nodeNetwork parity
    surface (the reference's loader installs pgrouting precisely to run
    these sanity checks before routing): one integer-exact row over the
    merged car graph counting segments, self-loop segments, parallel
    (same unordered endpoints) segment groups, distinct nodes, dead ends
    (undirected degree 1), intersections (degree ≥ 3), and connected
    components (star contraction). Every figure is a count, so the gate
    is trivially hash-stable; components reuse the O(log²)-round
    operator while the oracle walks the recursive closure."""
    from ..operators.graph_algo import connected_components, symmetric_edges

    d, cn, merged = _shared_network(spark, sf_dir)
    n_segments = merged.count()
    n_self = merged.filter(F.col("start_node") == F.col("end_node")).count()
    n_parallel = (merged.filter(F.col("start_node") != F.col("end_node"))
                  .select(F.least("start_node", "end_node").alias("a"),
                          F.greatest("start_node", "end_node").alias("b"))
                  .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
                  .filter(F.col("n") > 1).count())
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    deg = (symmetric_edges(edges)
           .groupBy("a").agg(F.count(F.lit(1)).alias("d")).cache())
    n_nodes = deg.count()
    n_dead = deg.filter(F.col("d") == 1).count()
    n_inter = deg.filter(F.col("d") >= 3).count()
    n_comp = (connected_components(edges)
              .select("component").distinct().count())
    row = [(n_segments, n_self, n_parallel, n_nodes, n_dead, n_inter,
            n_comp)]
    return spark.createDataFrame(
        row, "n_segments long, n_self_loops long, n_parallel_groups long, "
             "n_nodes long, n_dead_ends long, n_intersections long, "
             "n_components long")


SQL_OSM_GRAPH_QUALITY = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                             _WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL,
                             _MERGED_SQL).replace(
    "WITH ", "WITH RECURSIVE ", 1) + """,
edges AS (
  SELECT start_node AS a, end_node AS b FROM merged WHERE start_node != end_node
  UNION
  SELECT end_node, start_node FROM merged WHERE start_node != end_node),
reach AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a),
par AS (
  SELECT LEAST(start_node, end_node) AS a,
         GREATEST(start_node, end_node) AS b, COUNT(*) AS n
  FROM merged WHERE start_node != end_node GROUP BY 1, 2)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM merged) AS n_segments,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM merged
    WHERE start_node = end_node) AS n_self_loops,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM par WHERE n > 1)
      AS n_parallel_groups,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d = 1) AS n_dead_ends,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d >= 3)
      AS n_intersections,
  (SELECT CAST(COUNT(DISTINCT component) AS BIGINT) FROM comp)
      AS n_components
"""


def q_osm_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop SSSP over the directed car graph from its minimum node:
    4 Bellman-Ford relaxation rounds ≡ exact shortest distance over paths
    of ≤4 edges (the distributed version of the reference's igraph routing
    step). Float-exact parity: both engines accumulate each path's sum
    left-to-right and take MIN over the same value set."""
    from ..operators.graph_algo import shortest_paths

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged, minimal=True).cache()
    source = directed.agg(F.min("start_node")).collect()[0][0]
    sp = shortest_paths(directed, source, max_hops=4,
                        src="start_node", dst="end_node", weight="length")
    return sp.select("node", F.round("dist", 6).alias("dist_km"))


SQL_OSM_SHORTEST_HOPS = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                             _WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL,
                             _MERGED_SQL).replace("WITH ", "WITH RECURSIVE ", 1) + """,
expanded AS (
  SELECT start_node, end_node, length FROM merged
    WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
  UNION ALL
  SELECT end_node, start_node, length FROM merged
    WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
  UNION ALL
  SELECT start_node, end_node, length FROM merged
    WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
  UNION ALL
  SELECT end_node, start_node, length FROM merged
    WHERE oneway = '-1'),
walk AS (
  SELECT (SELECT MIN(start_node) FROM expanded) AS node,
         CAST(0.0 AS DOUBLE) AS dist, 0 AS hops
  UNION
  SELECT e.end_node, w.dist + e.length, w.hops + 1
  FROM walk w JOIN expanded e ON e.start_node = w.node
  WHERE w.hops < 4)
SELECT node, ROUND(MIN(dist), 6) AS dist_km FROM walk GROUP BY node
"""


_SSSP_ORACLE_ROUNDS = 30  # measured fixpoint at sf0.001/sf0.01: 11 rounds


def q_osm_shortest_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted SSSP over the directed car graph from its minimum
    node — Bellman-Ford relaxed to the fixpoint
    (operators.graph_algo.shortest_paths_weighted), closing the gap the
    bounded-hop gate leaves open: at sf0.01 the 4-hop distances are wrong
    for 1269 of 1995 reached nodes (and miss 23 entirely), while road
    networks routinely exceed any fixed hop bound. The reference reaches
    for pgrouting/igraph here (etl/osm-load.sh:17, osm-pg-etl.md:31-62).
    The oracle unrolls _SSSP_ORACLE_ROUNDS per-node-min relaxation rounds
    — idempotent beyond the fixpoint (measured hop depth 11, a ~3x
    margin). The operator's rounds count block crossings, not hops
    (a graph this size is one block and solves in one round), so the
    hop-depth margin is pinned by test_shortest_km_oracle_round_margin,
    which runs the operator with one node per block at sf0.001. A
    network whose hop depth outgrew the unroll would show as a value
    mismatch against the truncated oracle, not pass silently; the
    round guard below stays as a bound on block rounds."""
    from ..operators.graph_algo import shortest_paths_weighted

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged, minimal=True).cache()
    source = directed.agg(F.min("start_node")).collect()[0][0]
    sp, rounds = shortest_paths_weighted(directed, source, src="start_node",
                                         dst="end_node", weight="length",
                                         return_rounds=True)
    if rounds > _SSSP_ORACLE_ROUNDS:
        raise RuntimeError(
            f"osm_shortest_km: fixpoint took {rounds} block rounds > "
            f"{_SSSP_ORACLE_ROUNDS}; block rounds bound hop depth from "
            "below only — the hop-depth margin against the oracle unroll "
            "is pinned by the singleton-block "
            "test_shortest_km_oracle_round_margin, and a truncated oracle "
            "shows as a value mismatch")
    return sp.select("node", F.round("dist", 6).alias("dist_km"))


_RADIUS_DELTA = 100.0  # km; ~25% of edges are sub-Δ ⇒ small shortcut balls


def q_osm_shortest_km_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-stepping SSSP (operators.graph_algo.shortest_paths_radius)
    on the directed car graph from its minimum node — the distance-bucket
    scale path whose round count is bounded by 2·max_dist/Δ + doubling
    instead of hop diameter (a continent road graph's thousands of hops;
    the reference loads pgrouting for exactly this, etl/osm-load.sh:17).
    Shares osm_shortest_km's exact-fixpoint oracle: shortcuts carry real
    path lengths, so augmented distances are EXACT and this gate is the
    machine-checked proof. At gate sizes the graph is one block (at most
    _BLOCK_EDGES edges), so the operator skips the shortcuts and solves it
    in one round; the singleton-block tests and scale_stress.py sssp
    exercise the shortcuts and carry the round telemetry for the
    ≪-diameter claim (the N-node path is where the bound bites)."""
    from ..operators.graph_algo import shortest_paths_radius

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged, minimal=True).cache()
    source = directed.agg(F.min("start_node")).collect()[0][0]
    sp, rounds = shortest_paths_radius(directed, source,
                                       delta=_RADIUS_DELTA,
                                       src="start_node", dst="end_node",
                                       weight="length", return_rounds=True)
    if rounds > _SSSP_ORACLE_ROUNDS:
        raise RuntimeError(
            f"osm_shortest_km_radius: {rounds} total rounds (shortcut "
            f"doubling + block rounds) > {_SSSP_ORACLE_ROUNDS}; the "
            "hop-depth margin against the oracle unroll is pinned by the "
            "singleton-block test_shortest_km_oracle_round_margin, and a "
            "truncated oracle shows as a value mismatch")
    return sp.select("node", F.round("dist", 6).alias("dist_km"))


_ACCESS_SOURCES = 3


def q_osm_access_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source exact weighted distances — the many-to-many
    accessibility table (distance from each of the k=3 smallest network
    nodes to everywhere): all waves advance in the same Bellman-Ford
    rounds keyed on (s, node), so k sources cost the same shuffle count
    as one (operators.graph_algo.shortest_paths_weighted with a source
    list). The reference reaches pgrouting/igraph for this."""
    from ..operators.graph_algo import shortest_paths_weighted

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged, minimal=True).cache()
    sources = [r["start_node"] for r in
               (directed.select("start_node").distinct()
                .orderBy("start_node").limit(_ACCESS_SOURCES).collect())]
    sp, rounds = shortest_paths_weighted(directed, sources,
                                         src="start_node", dst="end_node",
                                         weight="length",
                                         return_rounds=True)
    if rounds > _SSSP_ORACLE_ROUNDS:
        raise RuntimeError(
            f"osm_access_km: fixpoint took {rounds} block rounds > "
            f"{_SSSP_ORACLE_ROUNDS}; the hop-depth margin against the "
            "oracle unroll is pinned by the singleton-block "
            "test_shortest_km_oracle_round_margin, and a truncated oracle "
            "shows as a value mismatch")
    return sp.select(F.col("s").alias("source"), "node",
                     F.round("dist", 6).alias("dist_km"))


def _sql_osm_shortest_km(rounds: int = _SSSP_ORACLE_ROUNDS,
                         k_sources: int | None = None) -> str:
    head = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL, _WAYLEN_SQL,
                _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL).replace(
        "WITH ", "WITH RECURSIVE ", 1) + """,
expanded AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: referenced by every unrolled round, and
  -- DuckDB 1.0 inlines plain CTEs per reference (30x the merged chain)
  SELECT start_node, end_node, length FROM merged
    WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
  UNION ALL
  SELECT end_node, start_node, length FROM merged
    WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
  UNION ALL
  SELECT start_node, end_node, length FROM merged
    WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
  UNION ALL
  SELECT end_node, start_node, length FROM merged
    WHERE oneway = '-1')"""
    if k_sources is None:
        head += """,
sp0 AS (SELECT (SELECT MIN(start_node) FROM expanded) AS node,
               CAST(0.0 AS DOUBLE) AS dist)"""
        key, proj = "node", "node"
    else:
        head += f""",
srcs AS (SELECT DISTINCT start_node AS s FROM expanded
         ORDER BY start_node LIMIT {k_sources}),
sp0 AS (SELECT s, s AS node, CAST(0.0 AS DOUBLE) AS dist FROM srcs)"""
        key, proj = "s, node", "sq.s, sq.node"
    its = []
    for i in range(1, rounds + 1):
        p = f"sp{i - 1}"
        its.append(f""",
sp{i} AS MATERIALIZED (
  SELECT {key}, MIN(dist) AS dist FROM (
    SELECT {key}, dist FROM {p}
    UNION ALL
    SELECT {proj.replace('sq.node', 'e.end_node')}, sq.dist + e.length
    FROM {p} sq JOIN expanded e ON e.start_node = sq.node) GROUP BY {key})"""
                   if k_sources is not None else f""",
sp{i} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {p}
    UNION ALL
    SELECT e.end_node, s.dist + e.length
    FROM {p} s JOIN expanded e ON e.start_node = s.node) GROUP BY node)""")
    if k_sources is None:
        return head + "".join(its) + f"""
SELECT node, ROUND(dist, 6) AS dist_km FROM sp{rounds}
"""
    return head + "".join(its) + f"""
SELECT s AS source, node, ROUND(dist, 6) AS dist_km FROM sp{rounds}
"""


def q_osm_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way asymmetry QA on the DIRECTED car graph: from the minimum
    node, how many nodes are forward-reachable, backward-reachable, and
    both (the mutually-reachable set — the source's strongly-connected
    reach). The routing sanity check oneway tagging makes necessary
    ("you can drive there but not back"); pgrouting users run exactly
    this before trusting a directed network. Two level-synchronous BFS
    passes over the shared sigma machinery (directed, reversed for the
    backward pass) + one semi-join; all counts integer-exact."""
    from ..operators.graph_algo import sigma_table

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged, minimal=True).localCheckpoint()
    source = int(directed.agg(F.min("start_node")).collect()[0][0])

    # The two BFS passes are independent level-synchronous loops
    # whose per-level jobs are tiny at the tail — run them from two
    # driver threads so one pass's stragglers back-fill the other's
    # idle cores (guide §2.6). directed is localCheckpoint'ed first so
    # both threads read one materialized edge table instead of racing
    # to fill a shared cache. Measured sf0.01 (warm reps): build
    # 9.4-11.1 s → 7.5-9.4 s (~-18%; each pass is only ~6 levels of
    # tiny driver-floor jobs, so the overlap is GIL/py4j-bounded).
    def _reach(src_col: str, dst_col: str) -> DataFrame:
        return (sigma_table(directed, [source], max_depth=200,
                            directed=True, src=src_col, dst=dst_col)
                .select("node").distinct().cache())

    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fut = pool.submit(_reach, "start_node", "end_node")
        b_fut = pool.submit(_reach, "end_node", "start_node")
        fwd, bwd = f_fut.result(), b_fut.result()
    n_f, n_b = fwd.count(), bwd.count()
    n_both = fwd.join(bwd, "node", "left_semi").count()
    return spark.createDataFrame(
        [(source, n_f, n_b, n_both)],
        "source long, n_forward long, n_backward long, n_mutual long")


def _sql_osm_reachability() -> str:
    base = _sql_osm_shortest_km()
    head = base[:base.index(",\nsp0 AS")]
    return head + """,
src AS (SELECT MIN(start_node) AS s FROM expanded),
fwd AS (
  SELECT s AS node FROM src
  UNION
  SELECT e.end_node FROM fwd f JOIN expanded e ON e.start_node = f.node),
bwd AS (
  SELECT s AS node FROM src
  UNION
  SELECT e.start_node FROM bwd b JOIN expanded e ON e.end_node = b.node)
SELECT (SELECT s FROM src) AS source,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM fwd) AS n_forward,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bwd) AS n_backward,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM fwd WHERE node IN (SELECT node FROM bwd)) AS n_mutual
"""


_TURN_RESTR_MOD = 7


def q_osm_turn_restricted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-restricted SSSP over the directed car graph — the pgrouting
    capability the reference installs beyond plain routing
    (etl/osm-load.sh:17; edge-based routing with banned turns is
    pgrouting's point over naive Dijkstra), run natively: Bellman-Ford
    over the LINE GRAPH (operators.graph_algo.turn_restricted_distances)
    with U-turns prohibited and a deterministic restriction set — every
    transition whose (from_u + via + to_v) ≡ 0 mod 7 is a banned turn —
    so both engines derive the identical rule arithmetically. Result is
    per-node min over permitted arriving edges; detours forced by the
    restrictions are exactly what the node-keyed osm_shortest_km gate
    cannot express."""
    from ..operators.graph_algo import (
        line_graph_transitions, turn_restricted_distances)

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged, minimal=True).cache()
    source = directed.agg(F.min("start_node")).collect()[0][0]
    trans = line_graph_transitions(directed)
    restr = (trans.filter((F.col("from_u") + F.col("via")
                           + F.col("to_v")) % _TURN_RESTR_MOD == 0)
             .select("from_u", "via", "to_v"))
    sp, rounds = turn_restricted_distances(directed, source,
                                           restrictions=restr,
                                           return_rounds=True)
    if rounds > _SSSP_ORACLE_ROUNDS:
        raise RuntimeError(
            f"osm_turn_restricted: fixpoint took {rounds} rounds > the "
            f"{_SSSP_ORACLE_ROUNDS}-round oracle unroll")
    return sp.select("node", F.round("dist", 6).alias("dist_km"))


def _sql_osm_turn_restricted(rounds: int = _SSSP_ORACLE_ROUNDS) -> str:
    """Unrolled edge-state relaxation: lnodes = directed edges (parallel
    duplicates at MIN length), trans = permitted transitions (no
    U-turns, mod-rule bans), sp_i keyed on the edge pair."""
    base = _sql_osm_shortest_km()
    head = base[:base.index(",\nsp0 AS")]
    mid = f""",
lnodes AS MATERIALIZED (
  SELECT start_node AS u, end_node AS v, MIN(length) AS w
  FROM expanded WHERE start_node != end_node GROUP BY start_node, end_node),
trans AS MATERIALIZED (
  SELECT a.from_u, a.via, b.to_v, b.w FROM
    (SELECT u AS from_u, v AS via FROM lnodes) a
    JOIN (SELECT u AS via, v AS to_v, w FROM lnodes) b USING (via)
  WHERE b.to_v != a.from_u
    AND (a.from_u + via + b.to_v) % {_TURN_RESTR_MOD} != 0),
sp0 AS (
  SELECT u, v, w AS dist FROM lnodes
  WHERE u = (SELECT MIN(start_node) FROM expanded))"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f""",
sp{i} AS MATERIALIZED (
  SELECT u, v, MIN(dist) AS dist FROM (
    SELECT u, v, dist FROM sp{i - 1}
    UNION ALL
    SELECT t.via, t.to_v, s.dist + t.w
    FROM sp{i - 1} s JOIN trans t ON t.from_u = s.u AND t.via = s.v)
  GROUP BY u, v)""")
    return head + mid + "".join(its) + f"""
SELECT node, ROUND(MIN(dist), 6) AS dist_km FROM (
  SELECT v AS node, dist FROM sp{rounds}
  UNION ALL
  SELECT (SELECT MIN(start_node) FROM expanded), 0.0)
GROUP BY node
"""


_TURN_REL_MOD = 13


def derive_restriction_relations(directed: DataFrame
                                 ) -> tuple[DataFrame, DataFrame]:
    """Deterministic ``type=restriction`` relations over the directed car
    graph, in pgsnapshot shape (``etl/pgsnapshot_schema_0.6.sql:57-80``):
    every line-graph transition whose ``(from_way + via + to_way)`` ≡ 0
    mod 13 (distinct way pair, no U-turn) becomes one restriction relation
    — ``no_left_turn`` when ``(from_way + to_way)`` is even, else
    ``only_straight_on`` — with 'W' from / 'N' via / 'W' to members.
    Relation ids are the portable md5 hash of the triple (md5 collisions
    are deterministic and identical on both engines, so the oracle stays
    exact). Mirrored verbatim by the dexp/cand/trels/tmemb CTEs in
    ``_sql_osm_turn_restricted_rel``."""
    from ..functions.hashing import md5_long

    e = (directed.select(F.col("edge_id").alias("way_id"),
                         F.col("start_node").cast("long").alias("u"),
                         F.col("end_node").cast("long").alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    a = e.select(F.col("way_id").alias("w1"), F.col("u").alias("fu"),
                 F.col("v").alias("via"))
    b = e.select(F.col("way_id").alias("w2"), F.col("u").alias("via"),
                 F.col("v").alias("tv"))
    cand = (a.join(b, "via")
            .where((F.col("w1") != F.col("w2"))
                   & (F.col("tv") != F.col("fu"))
                   & ((F.col("w1") + F.col("via") + F.col("w2"))
                      % _TURN_REL_MOD == 0))
            .select("w1", "via", "w2").distinct())
    trip = cand.select(
        md5_long(F.concat_ws(":", "w1", "via", "w2")).alias("id"),
        F.col("w1").alias("from_way"), F.col("via").alias("via_node"),
        F.col("w2").alias("to_way"),
        F.when((F.col("w1") + F.col("w2")) % 2 == 0, F.lit("no_left_turn"))
         .otherwise(F.lit("only_straight_on")).alias("kind")
        ).localCheckpoint()  # ContextCleaner drops blocks on GC (no
    # session-lifetime CacheManager entry, unlike cache())
    rels = trip.select(
        "id", F.map_from_arrays(
            F.array(F.lit("type"), F.lit("restriction")),
            F.array(F.lit("restriction"), F.col("kind"))).alias("tags"))
    mk = (lambda col, t, r, s: trip.select(
        F.col("id").alias("relation_id"), F.col(col).alias("member_id"),
        F.lit(t).alias("member_type"), F.lit(r).alias("member_role"),
        F.lit(s).cast("int").alias("sequence_id")))
    members = (mk("from_way", "W", "from", 0)
               .unionByName(mk("via_node", "N", "via", 1))
               .unionByName(mk("to_way", "W", "to", 2)))
    return rels, members


_VIA_WAY_MOD = 37


def derive_via_way_restriction_relations(directed: DataFrame
                                         ) -> tuple[DataFrame, DataFrame]:
    """Deterministic via-WAY ``type=restriction`` relations over the
    directed car graph (pgsnapshot shape): every edge TRIPLE
    a→b→c (b the single-way via chain, distinct ways, no U-turns) with
    ``(w_a + b.u + w_c) ≡ 0 mod 37`` becomes one restriction with 'W'
    from / 'W' via / 'W' to members — the <2% planet tail the node-via
    derivation cannot represent. Kind alternates no_/only_ like the
    node-via gate."""
    from ..functions.hashing import md5_long

    e = (directed.select(F.col("edge_id").alias("way_id"),
                         F.col("start_node").cast("long").alias("u"),
                         F.col("end_node").cast("long").alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    a = e.select(F.col("way_id").alias("wa"), F.col("u").alias("fu"),
                 F.col("v").alias("j1"))
    b = e.select(F.col("way_id").alias("wv"), F.col("u").alias("j1"),
                 F.col("v").alias("j2"))
    c = e.select(F.col("way_id").alias("wc"), F.col("u").alias("j2"),
                 F.col("v").alias("tv"))
    cand = (a.join(b, "j1").join(c, "j2")
            .where((F.col("wa") != F.col("wv"))
                   & (F.col("wv") != F.col("wc"))
                   & (F.col("wa") != F.col("wc"))
                   & (F.col("j2") != F.col("fu"))
                   & (F.col("tv") != F.col("j1"))
                   & ((F.col("wa") + F.col("j1") + F.col("wc"))
                      % _VIA_WAY_MOD == 0))
            .select("wa", "wv", "wc").distinct())
    trip = cand.select(
        md5_long(F.concat_ws(":", "wa", "wv", "wc")).alias("id"),
        "wa", "wv", "wc",
        F.when((F.col("wa") + F.col("wc")) % 2 == 0,
               F.lit("no_left_turn"))
         .otherwise(F.lit("only_straight_on")).alias("kind")
        ).localCheckpoint()  # blocks GC'd with the RDD, not session-held
    rels = trip.select(
        "id", F.map_from_arrays(
            F.array(F.lit("type"), F.lit("restriction")),
            F.array(F.lit("restriction"), F.col("kind"))).alias("tags"))
    mk = (lambda col, r, s: trip.select(
        F.col("id").alias("relation_id"), F.col(col).alias("member_id"),
        F.lit("W").alias("member_type"), F.lit(r).alias("member_role"),
        F.lit(s).cast("int").alias("sequence_id")))
    members = (mk("wa", "from", 0)
               .unionByName(mk("wv", "via", 1))
               .unionByName(mk("wc", "to", 2)))
    return rels, members


def q_osm_turn_restricted_via_way(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Via-WAY turn-restricted SSSP: the derived via-way restriction
    relations are parsed by ``relations.via_way_turn_restrictions`` into
    edge chains and enforced by the stateful line-graph router
    (``graph_algo.turn_restricted_distances(via_way_restrictions=...)``)
    — restrictions bind only to paths traversing the ENTIRE via way,
    pgrouting's edge-chain semantics. Value-oracled by the
    identical-state-replay pattern: in the derived world every via
    way is ONE merged edge, so every chain has length 1 and the
    automaton's state is a pure function of the last two path nodes —
    ``_sql_osm_turn_restricted_via_way`` replays the derivation + parse
    and runs the same SSSP over the second-order line graph. The fixture
    suite in ``tests/test_turn_restrictions_rel.py`` additionally pins
    multi-edge-chain semantics the derived world cannot exercise."""
    from ..operators.graph_algo import turn_restricted_distances
    from ..operators.relations import via_way_turn_restrictions

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged).cache()
    rels, members = derive_via_way_restriction_relations(directed)
    vw = via_way_turn_restrictions(rels, members, directed)
    if vw and max(len(r["chain"]) for r in vw) + 2 > _VIA_WAY_ORACLE_MAX_PAT:
        raise RuntimeError(
            "osm_turn_restricted_via_way: a chain outgrew the oracle's "
            f"{_VIA_WAY_ORACLE_MAX_PAT}-node pattern enumeration — raise "
            "_VIA_WAY_ORACLE_MAX_PAT or the comparison is meaningless")
    source = directed.agg(F.min("start_node")).collect()[0][0]
    sp, rounds = turn_restricted_distances(directed, int(source),
                                           via_way_restrictions=vw,
                                           return_rounds=True)
    if rounds > _SSSP_ORACLE_ROUNDS:
        raise RuntimeError(
            f"osm_turn_restricted_via_way: fixpoint took {rounds} rounds "
            f"> the {_SSSP_ORACLE_ROUNDS}-round oracle unroll")
    return sp.select("node", F.round("dist", 6).alias("dist_km"))


def q_osm_turn_restricted_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-restricted SSSP driven by REAL ``type=restriction`` relation
    parsing: a deterministic restriction-relation
    world in pgsnapshot shape is derived over the directed car graph
    (``derive_restriction_relations``), then
    ``operators.relations.turn_restrictions_from_relations`` performs the
    actual parse — role-pivot of relation_members, resolution of
    (from_way, via_node, to_way) against the directed edges, ``no_*`` /
    ``only_*`` expansion — and the resulting banned set feeds the same
    line-graph Bellman-Ford as the synthetic mod-7 gate. The oracle
    replays the derivation AND the parse (members pivot included) in SQL,
    so a hash match checks the whole relations→restrictions→router path
    the reference delegates to osmosis+pgrouting."""
    from ..operators.graph_algo import turn_restricted_distances
    from ..operators.relations import turn_restrictions_from_relations

    d, cn, merged = _shared_network(spark, sf_dir)
    directed = directed_network(merged).cache()
    rels, members = derive_restriction_relations(directed)
    restr = turn_restrictions_from_relations(rels, members, directed)
    source = directed.agg(F.min("start_node")).collect()[0][0]
    sp, rounds = turn_restricted_distances(directed, source,
                                           restrictions=restr,
                                           return_rounds=True)
    if rounds > _SSSP_ORACLE_ROUNDS:
        raise RuntimeError(
            f"osm_turn_restricted_rel: fixpoint took {rounds} rounds > the "
            f"{_SSSP_ORACLE_ROUNDS}-round oracle unroll")
    return sp.select("node", F.round("dist", 6).alias("dist_km"))


def _sql_osm_turn_restricted_rel(rounds: int = _SSSP_ORACLE_ROUNDS) -> str:
    """Mirrors derivation + parse + routing: dexp = directed edges WITH way
    ids, cand/trels/tmemb = the restriction-relation world, parsed/arr/
    perm/banned = the role-pivot parse, then the same edge-state
    relaxation as the mod-7 oracle with banned transitions removed."""
    base = _sql_osm_shortest_km()
    head = base[:base.index(",\nsp0 AS")]
    mid = f""",
dexp AS MATERIALIZED (
  SELECT DISTINCT edge_id AS way_id, u, v FROM (
    SELECT edge_id, start_node AS u, end_node AS v FROM merged
      WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
    UNION ALL
    SELECT edge_id, end_node, start_node FROM merged
      WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
    UNION ALL
    SELECT edge_id, start_node, end_node FROM merged
      WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
    UNION ALL
    SELECT edge_id, end_node, start_node FROM merged WHERE oneway = '-1')
  WHERE u != v),
cand AS MATERIALIZED (
  SELECT DISTINCT a.way_id AS w1, a.v AS via, b.way_id AS w2
  FROM dexp a JOIN dexp b ON b.u = a.v
  WHERE a.way_id != b.way_id AND b.v != a.u
    AND (a.way_id + a.v + b.way_id) % {_TURN_REL_MOD} = 0),
trels AS MATERIALIZED (
  SELECT ('0x' || substr(md5(CAST(w1 AS VARCHAR) || ':'
           || CAST(via AS VARCHAR) || ':' || CAST(w2 AS VARCHAR)), 1, 8)
         )::BIGINT AS relation_id,
         w1 AS from_way, via AS via_node, w2 AS to_way,
         CASE WHEN (w1 + w2) % 2 = 0 THEN 'no_left_turn'
              ELSE 'only_straight_on' END AS kind
  FROM cand),
tmemb AS (
  SELECT relation_id, from_way AS member_id, 'W' AS member_type,
         'from' AS member_role FROM trels
  UNION ALL SELECT relation_id, via_node, 'N', 'via' FROM trels
  UNION ALL SELECT relation_id, to_way, 'W', 'to' FROM trels),
parsed AS MATERIALIZED (
  SELECT r.relation_id, r.kind, f.member_id AS from_way,
         vv.member_id AS via_node, tt.member_id AS to_way
  FROM (SELECT DISTINCT relation_id, kind FROM trels) r
  JOIN tmemb f ON f.relation_id = r.relation_id
    AND f.member_role = 'from' AND f.member_type = 'W'
  JOIN tmemb vv ON vv.relation_id = r.relation_id
    AND vv.member_role = 'via' AND vv.member_type = 'N'
  JOIN tmemb tt ON tt.relation_id = r.relation_id
    AND tt.member_role = 'to' AND tt.member_type = 'W'),
arr AS (
  SELECT p.relation_id, p.kind, d.u AS from_u, p.via_node AS via
  FROM parsed p JOIN dexp d ON d.way_id = p.from_way AND d.v = p.via_node),
perm AS (
  SELECT DISTINCT p.relation_id, p.via_node AS via, d.v AS to_v
  FROM (SELECT DISTINCT relation_id, to_way, via_node FROM parsed) p
  JOIN dexp d ON d.way_id = p.to_way AND d.u = p.via_node),
banned AS MATERIALIZED (
  SELECT DISTINCT from_u, via, to_v FROM (
    SELECT a.from_u, a.via, pm.to_v
    FROM arr a JOIN perm pm ON pm.relation_id = a.relation_id
                           AND pm.via = a.via
    WHERE a.kind LIKE 'no_%'
    UNION ALL
    SELECT a.from_u, a.via, d.v AS to_v
    FROM arr a JOIN (SELECT DISTINCT u, v FROM dexp) d ON d.u = a.via
    WHERE a.kind LIKE 'only_%'
      AND NOT EXISTS (SELECT 1 FROM perm pm
                      WHERE pm.relation_id = a.relation_id
                        AND pm.via = a.via
                        AND pm.to_v = d.v))),
lnodes AS MATERIALIZED (
  SELECT start_node AS u, end_node AS v, MIN(length) AS w
  FROM expanded WHERE start_node != end_node GROUP BY start_node, end_node),
trans AS MATERIALIZED (
  SELECT a.from_u, a.via, b.to_v, b.w FROM
    (SELECT u AS from_u, v AS via FROM lnodes) a
    JOIN (SELECT u AS via, v AS to_v, w FROM lnodes) b USING (via)
  WHERE b.to_v != a.from_u
    AND NOT EXISTS (SELECT 1 FROM banned x
                    WHERE x.from_u = a.from_u AND x.via = a.via
                      AND x.to_v = b.to_v)),
sp0 AS (
  SELECT u, v, w AS dist FROM lnodes
  WHERE u = (SELECT MIN(start_node) FROM expanded))"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f""",
sp{i} AS MATERIALIZED (
  SELECT u, v, MIN(dist) AS dist FROM (
    SELECT u, v, dist FROM sp{i - 1}
    UNION ALL
    SELECT t.via, t.to_v, s.dist + t.w
    FROM sp{i - 1} s JOIN trans t ON t.from_u = s.u AND t.via = s.v)
  GROUP BY u, v)""")
    return head + mid + "".join(its) + f"""
SELECT node, ROUND(MIN(dist), 6) AS dist_km FROM (
  SELECT v AS node, dist FROM sp{rounds}
  UNION ALL
  SELECT (SELECT MIN(start_node) FROM expanded), 0.0)
GROUP BY node
"""


_VIA_WAY_ORACLE_MAX_PAT = 64  # nodes per entry+chain pattern (chain <= 62)


def _sql_osm_turn_restricted_via_way(
        rounds: int = _SSSP_ORACLE_ROUNDS) -> str:
    """Replays the via-WAY world end-to-end (the identical-state-replay
    pattern), in three acts:

    1. Derivation — dexp/vwcand/vwrels mirror
       ``derive_via_way_restriction_relations`` (mod-37 way triples, md5
       relation ids).
    2. Parse — mirrors ``relations.via_way_turn_restrictions``: vwadj/
       vwends rebuild the undirected via graph with its degree-1
       endpoints, the RECURSIVE vwwalk CTE replays ``_walk``'s
       unique-continuation simple path (the anti-join on a second
       unvisited neighbor kills ambiguous walks exactly like
       ``len(nxt) != 1``), okdir accumulates the directed-traversability
       post-check, and vwres picks the first valid (j1, j2) in sorted
       order via ROW_NUMBER — valid = walk completed, traversable,
       nonempty entries AND exits.
    3. Routing — the chain-state automaton
       (``graph_algo._via_way_stateful_transitions``) is replayed as SSSP
       over the ACTIVE-SUFFIX (Aho-Corasick prefix) automaton: a state is
       the longest path suffix that is a prefix of some entry+chain node
       pattern (vwpre; bare edges otherwise). Every shorter active match
       is a suffix of the longest one, so the automaton's frozenset of
       (restriction, position) pairs is a pure function of this list —
       the two state machines refine the same partition of paths and
       produce identical per-node minima. vwterm marks states whose
       suffix completes a full pattern; vwban bans its exits (``no_*`` =
       union of exits, ``only_*`` = complement, per active restriction —
       the automaton's union/intersection combine). The unrolled tsp
       rounds relax one permitted hop each, LIST-keyed on the state."""
    base = _sql_osm_shortest_km()
    head = base[:base.index(",\nsp0 AS")]
    mid = f""",
dexp AS MATERIALIZED (
  SELECT DISTINCT edge_id AS way_id, CAST(u AS BIGINT) AS u,
         CAST(v AS BIGINT) AS v FROM (
    SELECT edge_id, start_node AS u, end_node AS v FROM merged
      WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
    UNION ALL
    SELECT edge_id, end_node, start_node FROM merged
      WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
    UNION ALL
    SELECT edge_id, start_node, end_node FROM merged
      WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
    UNION ALL
    SELECT edge_id, end_node, start_node FROM merged WHERE oneway = '-1')
  WHERE u != v),
vwcand AS MATERIALIZED (
  SELECT DISTINCT a.way_id AS wa, b.way_id AS wv, c.way_id AS wc
  FROM dexp a JOIN dexp b ON b.u = a.v JOIN dexp c ON c.u = b.v
  WHERE a.way_id != b.way_id AND b.way_id != c.way_id
    AND a.way_id != c.way_id AND b.v != a.u AND c.v != b.u
    AND (a.way_id + a.v + c.way_id) % {_VIA_WAY_MOD} = 0),
vwrels AS MATERIALIZED (
  SELECT ('0x' || substr(md5(CAST(wa AS VARCHAR) || ':'
           || CAST(wv AS VARCHAR) || ':' || CAST(wc AS VARCHAR)), 1, 8)
         )::BIGINT AS rid,
         wa, wv, wc,
         CASE WHEN (wa + wc) % 2 = 0 THEN 'no_left_turn'
              ELSE 'only_straight_on' END AS kind
  FROM vwcand),
vwvia AS MATERIALIZED (
  SELECT DISTINCT r.rid, d.u, d.v
  FROM vwrels r JOIN dexp d ON d.way_id = r.wv),
vwfrom AS MATERIALIZED (
  SELECT DISTINCT r.rid, d.u, d.v
  FROM vwrels r JOIN dexp d ON d.way_id = r.wa),
vwto AS MATERIALIZED (
  SELECT DISTINCT r.rid, d.u, d.v
  FROM vwrels r JOIN dexp d ON d.way_id = r.wc),
vwpairz AS MATERIALIZED (
  SELECT DISTINCT rid, LEAST(u, v) AS a, GREATEST(u, v) AS b FROM vwvia),
vwadj AS MATERIALIZED (
  SELECT rid, a AS n, b AS m FROM vwpairz
  UNION ALL SELECT rid, b, a FROM vwpairz),
vwends AS MATERIALIZED (
  SELECT rid, n FROM (
    SELECT rid, n, COUNT(*) AS c FROM (
      SELECT rid, a AS n FROM vwpairz
      UNION ALL SELECT rid, b FROM vwpairz) GROUP BY rid, n)
  WHERE c = 1),
vwjj AS MATERIALIZED (
  SELECT DISTINCT f.rid, f.v AS j1, t.u AS j2
  FROM vwfrom f
  JOIN vwends e1 ON e1.rid = f.rid AND e1.n = f.v
  JOIN vwto t ON t.rid = f.rid
  JOIN vwends e2 ON e2.rid = t.rid AND e2.n = t.u
  WHERE t.u != f.v),
vwwalk(rid, j1, j2, path, cur, okdir) AS (
  SELECT rid, j1, j2, [j1], j1, TRUE FROM vwjj
  UNION ALL
  SELECT w.rid, w.j1, w.j2, list_append(w.path, a.m), a.m,
         w.okdir AND (dv.u IS NOT NULL)
  FROM vwwalk w
  JOIN vwadj a ON a.rid = w.rid AND a.n = w.cur
              AND NOT list_contains(w.path, a.m)
  LEFT JOIN vwadj a2 ON a2.rid = w.rid AND a2.n = w.cur AND a2.m != a.m
              AND NOT list_contains(w.path, a2.m)
  LEFT JOIN vwvia dv ON dv.rid = w.rid AND dv.u = w.cur AND dv.v = a.m
  WHERE w.cur != w.j2 AND a2.m IS NULL),
vwres AS MATERIALIZED (
  SELECT rid, kind, j1, j2, path FROM (
    SELECT w.rid, r.kind, w.j1, w.j2, w.path,
           ROW_NUMBER() OVER (PARTITION BY w.rid
                              ORDER BY w.j1, w.j2) AS rn
    FROM vwwalk w JOIN vwrels r ON r.rid = w.rid
    WHERE w.cur = w.j2 AND w.okdir
      AND EXISTS (SELECT 1 FROM vwfrom f WHERE f.rid = w.rid
                    AND f.v = w.j1 AND f.u != w.path[2])
      AND EXISTS (SELECT 1 FROM vwto t WHERE t.rid = w.rid
                    AND t.u = w.j2 AND t.v != w.path[-2]))
  WHERE rn = 1),
vwexit AS MATERIALIZED (
  SELECT DISTINCT r.rid, t.v AS x
  FROM vwres r JOIN vwto t ON t.rid = r.rid AND t.u = r.j2
                          AND t.v != r.path[-2]),
vwpat AS MATERIALIZED (
  SELECT r.rid, list_prepend(f.u, r.path) AS pat
  FROM vwres r JOIN vwfrom f ON f.rid = r.rid AND f.v = r.j1
                            AND f.u != r.path[2]),
vwpre AS MATERIALIZED (
  SELECT DISTINCT list_slice(pat, 1, g) AS pre
  FROM vwpat, generate_series(3, {_VIA_WAY_ORACLE_MAX_PAT}) AS gs(g)
  WHERE g <= len(pat)),
lnodes AS MATERIALIZED (
  SELECT CAST(start_node AS BIGINT) AS u, CAST(end_node AS BIGINT) AS v,
         MIN(length) AS w
  FROM expanded WHERE start_node != end_node GROUP BY start_node, end_node),
vwstates AS MATERIALIZED (
  SELECT pre AS st FROM vwpre
  UNION
  SELECT [u, v] FROM lnodes),
vwdelta AS MATERIALIZED (
  SELECT d.st AS st_from, d.x, d.w,
         COALESCE(best.pre, [d.st[-1], d.x]) AS st_to
  FROM (SELECT s.st, lo.v AS x, lo.w, list_append(s.st, lo.v) AS t
        FROM vwstates s JOIN lnodes lo ON lo.u = s.st[-1]
        WHERE lo.v != s.st[-2]) d
  LEFT JOIN LATERAL (
    SELECT p.pre FROM vwpre p
    WHERE p.pre[-1] = d.x AND len(p.pre) <= len(d.t)
      AND p.pre = list_slice(d.t, len(d.t) - len(p.pre) + 1, len(d.t))
    ORDER BY len(p.pre) DESC LIMIT 1) best ON TRUE),
vwterm AS MATERIALIZED (
  SELECT s.st, p.rid FROM vwstates s
  JOIN vwpat p ON p.pat[-1] = s.st[-1] AND len(p.pat) <= len(s.st)
    AND p.pat = list_slice(s.st, len(s.st) - len(p.pat) + 1, len(s.st))),
vwban AS MATERIALIZED (
  SELECT DISTINCT t.st, e.x FROM vwterm t
  JOIN vwrels r ON r.rid = t.rid
  JOIN vwexit e ON e.rid = t.rid
  WHERE r.kind LIKE 'no_%'
  UNION
  SELECT DISTINCT t.st, lo.v FROM vwterm t
  JOIN vwrels r ON r.rid = t.rid
  JOIN lnodes lo ON lo.u = t.st[-1]
  WHERE r.kind LIKE 'only_%'
    AND NOT EXISTS (SELECT 1 FROM vwexit e
                    WHERE e.rid = t.rid AND e.x = lo.v)),
tsp0 AS (
  SELECT [u, v] AS st, w AS dist FROM lnodes
  WHERE u = (SELECT MIN(start_node) FROM expanded))"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f""",
tsp{i} AS MATERIALIZED (
  SELECT st, MIN(dist) AS dist FROM (
    SELECT st, dist FROM tsp{i - 1}
    UNION ALL
    SELECT d.st_to AS st, s.dist + d.w AS dist
    FROM tsp{i - 1} s JOIN vwdelta d ON d.st_from = s.st
    WHERE NOT EXISTS (SELECT 1 FROM vwban b
                      WHERE b.st = s.st AND b.x = d.x))
  GROUP BY st)""")
    return head + mid + "".join(its) + f"""
SELECT node, ROUND(MIN(dist), 6) AS dist_km FROM (
  SELECT st[-1] AS node, dist FROM tsp{rounds}
  UNION ALL
  SELECT (SELECT MIN(start_node) FROM expanded), 0.0)
GROUP BY node
"""


_BC_SOURCES, _BC_DEPTH = 6, 4


def q_osm_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality of the undirected car graph from its k
    smallest nodes at bounded depth — the centrality the reference computes
    by exporting to igraph (``osm-pg-etl.md:31-105``), run natively as
    level-synchronous multi-source Brandes (operators.graph_algo). Sources
    are the k minimum node ids (deterministic); dependencies are halved
    (undirected pairs counted once, igraph's convention)."""
    from ..operators.graph_algo import betweenness, symmetric_edges

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    und = symmetric_edges(edges)
    sources = [r["a"] for r in (und.select("a").distinct()
                                .orderBy("a").limit(_BC_SOURCES).collect())]
    bc = betweenness(edges, sources, max_depth=_BC_DEPTH)
    return bc.select("node", F.round("betweenness", 4).alias("betweenness"))


_EXACT_BC_MOD, _EXACT_BC_LIMIT, _EXACT_BC_DEPTH = 60, 90, 10


def _exact_bc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic small graph for the EXACT-betweenness gate: the
    first 90 orders by o_orderkey, edge (o_orderkey, o_custkey) mod 60 —
    60 nodes, ~170 directed pairs, measured diameter 8-9 at
    sf0.01/sf0.001 (inside the 10-level oracle unroll; the gate asserts
    this instead of trusting it)."""
    orders = t(spark, sf_dir, "orders")
    return (orders.orderBy("o_orderkey").limit(_EXACT_BC_LIMIT)
            .select((F.col("o_orderkey") % _EXACT_BC_MOD).alias("src"),
                    (F.col("o_custkey") % _EXACT_BC_MOD).alias("dst")))


def q_osm_betweenness_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-source betweenness in source waves
    (operators.graph_algo.betweenness_exact): every node a Brandes
    source, ceil(V/wave_size) = ceil(60/20) = 3 waves over the shared
    σ/δ machinery, per-node dependencies summed across waves. This
    shrinks the README decision table's "exotic analyses → igraph" row
    to all-pairs distance matrices only — the reference exports to
    igraph for exactly this centrality (osm-pg-etl.md:31-105). The
    oracle unrolls _EXACT_BC_DEPTH walk levels from ALL sources, so the
    gate first asserts the graph's eccentricity is strictly inside that
    unroll — a testdata regen that deepens the graph fails loudly
    instead of comparing two different truncations."""
    from ..operators.graph_algo import (
        betweenness_exact, sigma_table, symmetric_edges)

    edges = _exact_bc_edges(spark, sf_dir)
    und = symmetric_edges(edges)
    # bounded collect: the fixture graph has <= _EXACT_BC_MOD (60) nodes
    # by construction; betweenness_exact itself streams its source list
    # via toLocalIterator and never collects O(V)
    nodes = sorted(r["a"] for r in und.select("a").distinct().collect())
    ecc = (sigma_table(edges, nodes, max_depth=_EXACT_BC_DEPTH)
           .agg(F.max("dist")).collect()[0][0])
    if ecc >= _EXACT_BC_DEPTH:
        raise RuntimeError(
            f"osm_betweenness_exact: eccentricity {ecc} >= the "
            f"{_EXACT_BC_DEPTH}-level oracle unroll — deepen "
            "_EXACT_BC_DEPTH or the comparison is meaningless")
    bc = betweenness_exact(edges, wave_size=20, max_depth=_EXACT_BC_DEPTH)
    return bc.select("node", F.round("betweenness", 4).alias("betweenness"))


def _sql_osm_betweenness_exact(depth: int = _EXACT_BC_DEPTH) -> str:
    head = f"""WITH RECURSIVE eraw AS (
  SELECT o_orderkey % {_EXACT_BC_MOD} AS a, o_custkey % {_EXACT_BC_MOD} AS b
  FROM orders ORDER BY o_orderkey LIMIT {_EXACT_BC_LIMIT}),
edges AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM eraw WHERE a != b
    UNION ALL
    SELECT b, a FROM eraw WHERE a != b))"""
    return _sql_brandes(head, "SELECT DISTINCT a AS s FROM edges", depth)


def q_osm_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source bounded-depth harmonic closeness over the undirected
    car graph — same source set and depth as osm_betweenness, one
    aggregation over the shared multi-source BFS sigma table."""
    from ..operators.graph_algo import harmonic_centrality, symmetric_edges

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    und = symmetric_edges(edges)
    sources = [r["a"] for r in (und.select("a").distinct()
                                .orderBy("a").limit(_BC_SOURCES).collect())]
    h = harmonic_centrality(edges, sources, max_depth=_BC_DEPTH)
    return h.select("node", F.round("harmonic", 6).alias("harmonic"))


def _sql_osm_harmonic(k: int = _BC_SOURCES, depth: int = _BC_DEPTH) -> str:
    """Reuses the walk-enumeration head of the betweenness oracle up to
    ``sp`` (minimal-length walks = shortest paths), then one aggregation."""
    full = _sql_osm_betweenness(k, depth)
    head = full[:full.index("sigma AS MATERIALIZED")].rstrip().rstrip(",")
    return head + """
SELECT node, ROUND(SUM(1.0 / dist), 6) AS harmonic
FROM sp WHERE dist > 0 GROUP BY node
"""


def _sql_osm_betweenness(k: int = _BC_SOURCES, depth: int = _BC_DEPTH) -> str:
    """Unrolled Brandes in DuckDB over the merged car graph: the k min
    sources at bounded depth (Brandes-Pich sampling)."""
    head = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL, _WAYLEN_SQL,
                _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL).replace(
        "WITH ", "WITH RECURSIVE ", 1) + """,
edges AS MATERIALIZED (
  -- explicit DISTINCT: DuckDB 1.0 does not dedup a plain UNION in a
  -- non-recursive CTE under WITH RECURSIVE, and σ counts paths, so
  -- duplicate edges would inflate it
  SELECT DISTINCT a, b FROM (
    SELECT start_node AS a, end_node AS b FROM merged
      WHERE start_node != end_node
    UNION ALL
    SELECT end_node, start_node FROM merged
      WHERE start_node != end_node))"""
    return _sql_brandes(
        head, f"SELECT DISTINCT a AS s FROM edges ORDER BY a LIMIT {k}",
        depth)


def _sql_brandes(head: str, srcs_sql: str, depth: int) -> str:
    """Shared unrolled-Brandes tail: enumerate all ≤depth-hop walks from
    ``srcs`` over the ``edges`` CTE that ``head`` must define (a walk of
    minimal length is exactly a shortest path, so σ = COUNT(*) at
    MIN(d)), then one CTE per level for the dependency accumulation
    δ(v) = Σ σ(v)/σ(w)·(1+δ(w)); undirected pairs halved."""
    head = head + f""",
srcs AS ({srcs_sql}),
walks AS (
  SELECT s, s AS node, 0 AS d FROM srcs
  UNION ALL
  SELECT w.s, e.b, w.d + 1 FROM walks w JOIN edges e ON e.a = w.node
  WHERE w.d < {depth}),
sp AS (SELECT s, node, MIN(d) AS dist FROM walks GROUP BY s, node),
sigma AS MATERIALIZED (
  SELECT w.s, w.node, p.dist, CAST(COUNT(*) AS BIGINT) AS sigma
  FROM walks w JOIN sp p ON w.s = p.s AND w.node = p.node AND w.d = p.dist
  GROUP BY w.s, w.node, p.dist),
delta{depth} AS (
  SELECT s, node, CAST(0 AS DOUBLE) AS delta FROM sigma WHERE dist = {depth})"""
    levels = []
    for lev in range(depth - 1, -1, -1):
        levels.append(f""",
delta{lev} AS (
  SELECT v.s, v.node, COALESCE(cb.c, CAST(0 AS DOUBLE)) AS delta
  FROM (SELECT s, node FROM sigma WHERE dist = {lev}) v
  LEFT JOIN (
    SELECT p.s, p.node,
           SUM(CAST(p.sigma AS DOUBLE) / w.sigma * (1 + w.delta)) AS c
    FROM (SELECT s, node, sigma FROM sigma WHERE dist = {lev}) p
    JOIN edges e ON e.a = p.node
    JOIN (SELECT g.s, g.node, g.sigma, d.delta
          FROM sigma g JOIN delta{lev + 1} d ON g.s = d.s AND g.node = d.node
          WHERE g.dist = {lev + 1}) w
      ON w.s = p.s AND w.node = e.b
    GROUP BY p.s, p.node) cb
  ON cb.s = v.s AND cb.node = v.node)""")
    union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM delta{lev}" for lev in range(depth + 1))
    return head + "".join(levels) + f"""
SELECT n.node, ROUND(COALESCE(b.bc, 0.0), 4) AS betweenness
FROM (SELECT DISTINCT node FROM sigma) n
LEFT JOIN (
  SELECT node, SUM(delta) / 2 AS bc
  FROM ({union})
  WHERE node != s GROUP BY node) b ON b.node = n.node
"""


def q_osm_planar_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-way length both ways the reference measures it: geodesic km
    (``osm-road-graphs.sql:156``) and Lambert EPSG:3347 projected meters
    (``osm-road-graphs.sql:11`` ``ST_Length(ST_Transform(way, 3347))``),
    closing the planar-CRS deviation documented in SURVEY §8. Pure Column
    math — the projection constants are precomputed per-CRS, so the per-row
    work is a handful of trig calls inside whole-stage codegen."""
    from ..functions.geo import (
        linestring_length_km,
        linestring_length_planar_m,
    )

    d = derive_osm(spark, sf_dir)
    return d["ways"].select(
        F.col("id").alias("way_id"),
        F.round(linestring_length_km("linestring"), 4).alias("len_km"),
        F.round(linestring_length_planar_m("linestring"), 4)
        .alias("len_planar_m"))


def _sql_osm_planar_length() -> str:
    """Lambert forward projection with the SAME precomputed constants the
    Column version interpolates (functions.geo.EPSG_3347), so both engines
    evaluate the identical expression tree per point."""
    from ..functions.geo import EPSG_3347 as p
    import math
    aF, lon0 = p.a * p.F, math.radians(p.lon0)
    y0r = p.y0 + p.rho0

    def proj(lon: str, lat: str) -> tuple[str, str]:
        t = (f"(TAN(PI()/4 - RADIANS({lat})/2) / "
             f"POW((1 - {p.e!r}*SIN(RADIANS({lat}))) / "
             f"(1 + {p.e!r}*SIN(RADIANS({lat}))), {p.e / 2!r}))")
        rho = f"({aF!r} * POW({t}, {p.n!r}))"
        th = f"({p.n!r} * (RADIANS({lon}) - {lon0!r}))"
        return (f"({p.x0!r} + {rho} * SIN({th}))",
                f"({y0r!r} - {rho} * COS({th}))")

    x, y = proj("lon", "lat")
    px, py = proj("plon", "plat")
    return _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL) + f""",
waypts AS (
  SELECT wn.way_id, wn.sequence_id, n.lon, n.lat,
         LAG(n.lon) OVER (PARTITION BY wn.way_id ORDER BY wn.sequence_id) AS plon,
         LAG(n.lat) OVER (PARTITION BY wn.way_id ORDER BY wn.sequence_id) AS plat
  FROM wn JOIN nodes_d n ON wn.node_id = n.id),
proj AS (
  SELECT way_id,
         2.0 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
           SIN(RADIANS(lat - plat) / 2) * SIN(RADIANS(lat - plat) / 2)
           + COS(RADIANS(plat)) * COS(RADIANS(lat))
           * SIN(RADIANS(lon - plon) / 2) * SIN(RADIANS(lon - plon) / 2)))) AS seg_km,
         SQRT(POW({x} - {px}, 2) + POW({y} - {py}, 2)) AS seg_m,
         plon
  FROM waypts)
SELECT way_id,
       ROUND(COALESCE(SUM(seg_km) FILTER (WHERE plon IS NOT NULL), 0.0), 4)
           AS len_km,
       ROUND(COALESCE(SUM(seg_m) FILTER (WHERE plon IS NOT NULL), 0.0), 4)
           AS len_planar_m
FROM proj GROUP BY way_id
"""


def q_osm_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    undirected car graph (operators.graph_algo.triangle_counts —
    degree-oriented compact-forward, hub fan-out bounded by oriented
    out-degree)."""
    from ..operators.graph_algo import triangle_counts

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    return triangle_counts(edges)


_KCORE_K, _KCORE_ROUNDS = 2, 6


def q_osm_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the undirected car graph (operators.graph_algo.k_core):
    simultaneous peel of degree<2 nodes to a fixpoint — the cyclic skeleton
    igraph's coreness() gives the reference workflow, computed natively.
    The peel early-exits on the edge-count fixpoint; the oracle unrolls
    _KCORE_ROUNDS peels (idempotent once converged, so extra rounds are
    harmless — a test asserts convergence margin)."""
    from ..operators.graph_algo import k_core

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    return k_core(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)


def _sql_osm_kcore(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    head = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL, _WAYLEN_SQL,
                _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL).replace(
        "WITH ", "WITH RECURSIVE ", 1) + """,
und0 AS MATERIALIZED (
  -- explicit DISTINCT: DuckDB 1.0 UNION under WITH RECURSIVE (see
  -- _sql_osm_betweenness)
  SELECT DISTINCT a, b FROM (
    SELECT start_node AS a, end_node AS b FROM merged
      WHERE start_node != end_node
    UNION ALL
    SELECT end_node, start_node FROM merged
      WHERE start_node != end_node))"""
    its = []
    for i in range(1, rounds + 1):
        p = f"und{i - 1}"
        its.append(f""",
deg{i} AS (SELECT a, COUNT(*) AS d FROM {p} GROUP BY a),
und{i} AS MATERIALIZED (
  SELECT u.a, u.b FROM {p} u
  JOIN deg{i} da ON da.a = u.a AND da.d >= {k}
  JOIN deg{i} db ON db.a = u.b AND db.d >= {k})""")
    return head + "".join(its) + f"""
SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM und{rounds} GROUP BY a HAVING COUNT(*) >= {k}
"""


_LPA_ITER = 4


def q_osm_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over the
    undirected car graph (operators.graph_algo.label_propagation) — the
    native replacement for the reference's igraph community-detection step
    (osm-pg-etl.md:31-105 exports the edge list for exactly this)."""
    from ..operators.graph_algo import label_propagation

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    return label_propagation(edges, n_iter=_LPA_ITER)


def _lpa_ctes(n_iter: int = _LPA_ITER) -> str:
    """Shared CTE chain ending in ``lbl{n_iter}(id, label)`` — the unrolled
    synchronous LPA: each round re-derives (node, label) via neighbour
    label counts with the same (count DESC, label ASC) tie-break Spark's
    deterministic ``mode`` uses."""
    head = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL, _WAYLEN_SQL,
                _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL).replace(
        "WITH ", "WITH RECURSIVE ", 1) + """,
lund AS MATERIALIZED (
  -- explicit DISTINCT: DuckDB 1.0 UNION under WITH RECURSIVE (see
  -- _sql_osm_betweenness)
  SELECT DISTINCT a, b FROM (
    SELECT start_node AS a, end_node AS b FROM merged
      WHERE start_node != end_node
    UNION ALL
    SELECT end_node, start_node FROM merged
      WHERE start_node != end_node)),
lbl0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS label FROM lund)"""
    its = []
    for i in range(1, n_iter + 1):
        p = f"lbl{i - 1}"
        its.append(f""",
cnt{i} AS (
  SELECT e.b AS id, l.label, COUNT(*) AS c
  FROM lund e JOIN {p} l ON l.id = e.a GROUP BY 1, 2),
lbl{i} AS MATERIALIZED (
  SELECT id, label FROM (
    SELECT id, label,
           ROW_NUMBER() OVER (PARTITION BY id
                              ORDER BY c DESC, label) AS rn
    FROM cnt{i}) WHERE rn = 1)""")
    return head + "".join(its)


def _sql_osm_communities(n_iter: int = _LPA_ITER) -> str:
    return _lpa_ctes(n_iter) + f"""
SELECT id AS node, label AS community FROM lbl{n_iter}
"""


def q_osm_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the quality score igraph
    users read right after community detection. Q = intra/m − Σ_c
    (D_c/2m)² over the undirected simple graph: every term is an exact
    integer count (intra-community edges, per-community degree sums) until
    two double divisions in fixed order, so the score is engine-identical
    to 9 digits. One labels⋈edges join + two aggregations past the LPA."""
    from ..operators.graph_algo import label_propagation, modularity_of

    d, cn, merged = _shared_network(spark, sf_dir)
    # checkpoint the edge list once: label_propagation and modularity_of
    # each build their own symmetric view of it, so without this the
    # whole derive→car_network→merged_network pipeline would run twice
    # (once per operator's internal checkpoint)
    edges = (merged.select(F.col("start_node").alias("src"),
                           F.col("end_node").alias("dst"))
             .localCheckpoint())
    return modularity_of(edges, label_propagation(edges, n_iter=_LPA_ITER))


def _sql_osm_modularity(n_iter: int = _LPA_ITER) -> str:
    return _lpa_ctes(n_iter) + f""",
lj AS MATERIALIZED (
  SELECT e.a, e.b, la.label AS ca, lb.label AS cb
  FROM lund e JOIN lbl{n_iter} la ON la.id = e.a
              JOIN lbl{n_iter} lb ON lb.id = e.b),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS intra2
  FROM lj),
degc AS (
  SELECT ca, CAST(SUM(dc) AS BIGINT) AS dc FROM (
    SELECT a, ca, CAST(COUNT(*) AS BIGINT) AS dc FROM lj GROUP BY a, ca)
  GROUP BY ca),
sq AS (
  SELECT SUM((CAST(dc AS DOUBLE) / CAST(m2 AS DOUBLE))
             * (CAST(dc AS DOUBLE) / CAST(m2 AS DOUBLE))) AS sum_sq
  FROM degc CROSS JOIN tot),
nc AS (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_communities
       FROM lbl{n_iter})
SELECT nc.n_communities,
       ROUND(CAST(intra2 AS DOUBLE) / CAST(m2 AS DOUBLE) - sum_sq, 9)
         AS modularity
FROM tot CROSS JOIN sq CROSS JOIN nc
"""


_LOUVAIN_ROUNDS = (6, 4, 3)


def q_osm_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Louvain communities over the undirected car graph
    (operators.graph_algo.louvain): synchronous min-label-gated move
    rounds + two community contractions — the native replacement for the
    reference workflow's LAST igraph-only step, modularity-optimizing
    community detection (osm-pg-etl.md:31-105; README's decision table
    row). Measured modularity 0.20 vs the LPA partition's 0.02 on this
    graph at sf0.01 (asserted in tests/test_graph_algo-side parity)."""
    from ..operators.graph_algo import louvain

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"))
    return louvain(edges, rounds=_LOUVAIN_ROUNDS)


def _sql_louvain_level(lvl: int, n_rounds: int, we: str, w_expr: str) -> str:
    """CTE chain for one Louvain level: lblL{lvl}_0..n over edge table
    ``we`` (a, b[, w]) and degree table degL{lvl}(id, k); ``w_expr`` is
    the per-edge weight aggregate (COUNT(*) at level 1, SUM(w) after
    contraction). Score arithmetic mirrors the Spark side token-for-token
    (one double multiply then divide on exact BIGINTs) so both engines
    order candidates over bit-identical doubles."""
    parts = [f""",
lblL{lvl}_0 AS MATERIALIZED (SELECT id, id AS label FROM degL{lvl})"""]
    for i in range(1, n_rounds + 1):
        p = f"lblL{lvl}_{i - 1}"
        parts.append(f""",
ctotL{lvl}_{i} AS (
  SELECT l.label AS cb, CAST(SUM(d.k) AS BIGINT) AS tot
  FROM {p} l JOIN degL{lvl} d ON d.id = l.id GROUP BY 1),
candL{lvl}_{i} AS (
  SELECT a, cb, CAST(SUM(w2c) AS BIGINT) AS w2c FROM (
    SELECT e.a, l.label AS cb, {w_expr} AS w2c
    FROM {we} e JOIN {p} l ON l.id = e.b GROUP BY 1, 2
    UNION ALL SELECT id, label, 0 FROM {p}) GROUP BY 1, 2),
lblL{lvl}_{i} AS MATERIALIZED (
  SELECT id, CASE WHEN cb < ca THEN cb ELSE ca END AS label FROM (
    SELECT c.a AS id, c.cb, cur.label AS ca,
           ROW_NUMBER() OVER (PARTITION BY c.a ORDER BY
             CAST(c.w2c AS DOUBLE)
             - CAST(d.k AS DOUBLE)
               * CAST(t.tot - CASE WHEN c.cb = cur.label
                                   THEN d.k ELSE 0 END AS DOUBLE)
               / m2.v DESC,
             c.cb ASC) AS rn
    FROM candL{lvl}_{i} c
    JOIN {p} cur ON cur.id = c.a
    JOIN degL{lvl} d ON d.id = c.a
    JOIN ctotL{lvl}_{i} t ON t.cb = c.cb
    CROSS JOIN m2) WHERE rn = 1)""")
    return "".join(parts)


def q_osm_louvain_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leiden-style refinement of the Louvain partition
    (operators.graph_algo.refine_connected): every community split into
    its connected pieces, the well-connectedness guarantee of Traag et
    al. 2019 — Q(refined) ≥ Q(louvain) by construction (asserted in
    tests). Closes README's community-detection row end to end: optimizer
    AND refinement both distributed."""
    from ..operators.graph_algo import louvain, refine_connected

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst")).localCheckpoint()
    return refine_connected(edges, louvain(edges, rounds=_LOUVAIN_ROUNDS))


def q_osm_modularity_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LOUVAIN partition — the quality readout
    that documents the optimizer's win over LPA in the gate record itself
    (Louvain ~0.20 vs LPA's ~0.02 on this graph at sf0.01; both gates use
    the identical exact-integer Q construction)."""
    from ..operators.graph_algo import louvain, modularity_of

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst")).localCheckpoint()
    return modularity_of(edges, louvain(edges, rounds=_LOUVAIN_ROUNDS))


def _sql_osm_modularity_louvain(rounds: tuple = _LOUVAIN_ROUNDS) -> str:
    return _sql_osm_louvain(rounds, refined=None) + """,
mlj AS MATERIALIZED (
  SELECT e.a, e.b, la.community AS ca, lb.community AS cb
  FROM lund e JOIN lvfinal la ON la.node = e.a
              JOIN lvfinal lb ON lb.node = e.b),
mtot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS intra2
  FROM mlj),
mdegc AS (
  SELECT ca, CAST(SUM(dc) AS BIGINT) AS dc FROM (
    SELECT a, ca, CAST(COUNT(*) AS BIGINT) AS dc FROM mlj GROUP BY a, ca)
  GROUP BY ca),
msq AS (
  SELECT SUM((CAST(dc AS DOUBLE) / CAST(m2 AS DOUBLE))
             * (CAST(dc AS DOUBLE) / CAST(m2 AS DOUBLE))) AS sum_sq
  FROM mdegc CROSS JOIN mtot),
mnc AS (SELECT CAST(COUNT(DISTINCT community) AS BIGINT) AS n_communities
        FROM lvfinal)
SELECT mnc.n_communities,
       ROUND(CAST(intra2 AS DOUBLE) / CAST(m2 AS DOUBLE) - sum_sq, 9)
         AS modularity
FROM mtot CROSS JOIN msq CROSS JOIN mnc
"""


def q_osm_louvain_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain on the LENGTH-WEIGHTED car graph — the weighting a road
    analyst actually uses (communities of short internal hops). Weights
    are floor(length_km·10⁶) integer micro-kilometres, so every Louvain
    aggregate stays an exact integer and the unrolled oracle hashes
    bit-identically (floor avoids the ROUND half-tie divergence between
    engines; the haversine double itself is engine-identical)."""
    from ..operators.graph_algo import louvain

    d, cn, merged = _shared_network(spark, sf_dir)
    edges = merged.select(F.col("start_node").alias("src"),
                          F.col("end_node").alias("dst"),
                          F.floor(F.col("length") * 1_000_000)
                          .cast("long").alias("w_um"))
    return louvain(edges, rounds=_LOUVAIN_ROUNDS, weight="w_um")


def _sql_osm_louvain(rounds: tuple = _LOUVAIN_ROUNDS,
                     refined: bool = False,
                     weighted: bool = False) -> str:
    """Unrolled-round replica of operators.graph_algo.louvain on the car
    graph: every move round is 3 CTEs (community totals, per-node
    candidate weights incl. the own-community zero row, windowed argmax
    with the min-label move gate), contraction is 2 CTEs (inter-community
    edge sums + member-degree sums). The directed weight total m2 is one
    shared scalar CTE — invariant across levels, exactly as the Spark
    side's one bounded collect."""
    base = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL, _WAYLEN_SQL,
                _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL).replace(
        "WITH ", "WITH RECURSIVE ", 1)
    if weighted:
        # integer micro-km weights; parallel duplicates collapse to MIN,
        # mirroring the unweighted path's DISTINCT
        head = base + """,
lwboth AS (
  SELECT start_node AS a, end_node AS b,
         CAST(FLOOR(length * 1000000) AS BIGINT) AS w FROM merged
    WHERE start_node != end_node
  UNION ALL
  SELECT end_node, start_node,
         CAST(FLOOR(length * 1000000) AS BIGINT) FROM merged
    WHERE start_node != end_node),
lund AS MATERIALIZED (
  SELECT a, b, MIN(w) AS w FROM lwboth GROUP BY a, b),
degL1 AS MATERIALIZED (
  SELECT a AS id, CAST(SUM(w) AS BIGINT) AS k FROM lund GROUP BY a),
m2 AS (SELECT CAST(SUM(k) AS DOUBLE) AS v FROM degL1)"""
        l1_wexpr = "CAST(SUM(e.w) AS BIGINT)"
        l1_alias = """,
weL1 AS (SELECT a, b, w FROM lund)"""
    else:
        head = base + """,
lund AS MATERIALIZED (
  -- explicit DISTINCT: DuckDB 1.0 UNION under WITH RECURSIVE (see
  -- _sql_osm_betweenness)
  SELECT DISTINCT a, b FROM (
    SELECT start_node AS a, end_node AS b FROM merged
      WHERE start_node != end_node
    UNION ALL
    SELECT end_node, start_node FROM merged
      WHERE start_node != end_node)),
degL1 AS MATERIALIZED (
  SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS k FROM lund GROUP BY a),
m2 AS (SELECT CAST(SUM(k) AS DOUBLE) AS v FROM degL1)"""
        l1_wexpr = "CAST(COUNT(*) AS BIGINT)"
        l1_alias = """,
weL1 AS (SELECT a, b, CAST(1 AS BIGINT) AS w FROM lund)"""
    sql = head
    for lvl, nr in enumerate(rounds, start=1):
        if lvl > 1:
            prev_last = f"lblL{lvl - 1}_{rounds[lvl - 2]}"
            sql += f""",
weL{lvl} AS MATERIALIZED (
  SELECT la.label AS a, lb.label AS b, CAST(SUM(e.w) AS BIGINT) AS w
  FROM weL{lvl - 1} e
  JOIN {prev_last} la ON la.id = e.a
  JOIN {prev_last} lb ON lb.id = e.b
  WHERE la.label != lb.label GROUP BY 1, 2),
degL{lvl} AS MATERIALIZED (
  SELECT l.label AS id, CAST(SUM(d.k) AS BIGINT) AS k
  FROM {prev_last} l JOIN degL{lvl - 1} d ON d.id = l.id GROUP BY 1)"""
            sql += _sql_louvain_level(lvl, nr, f"weL{lvl}",
                                      "CAST(SUM(e.w) AS BIGINT)")
        else:
            # alias level 1 as weL1(a, b, w) so contraction reads a
            # uniform shape whatever the weighting
            sql += l1_alias
            sql += _sql_louvain_level(1, nr, "lund", l1_wexpr)
    # map original nodes through each level's final labels
    joins = "FROM lblL1_%d l1" % rounds[0]
    prev = "l1"
    for lvl in range(2, len(rounds) + 1):
        joins += (f"\nJOIN lblL{lvl}_{rounds[lvl - 1]} l{lvl} "
                  f"ON l{lvl}.id = {prev}.label")
        prev = f"l{lvl}"
    final = f"SELECT l1.id AS node, {prev}.label AS community\n{joins}"
    if refined is None:
        # internal: hand back the CTE chain + the final-labels CTE so
        # composing oracles (modularity readout) can extend it
        return sql + f",\nlvfinal AS MATERIALIZED ({final})"
    if not refined:
        return sql + "\n" + final + "\n"
    # Leiden-style refinement: min-label reachability over the
    # intra-community edge subset (same recursion as SQL_OSM_COMPONENTS;
    # set-semantics UNION keeps it polynomial), singletons fall back to
    # their own id
    return sql + f""",
lvfinal AS MATERIALIZED ({final}),
lvintra AS MATERIALIZED (
  SELECT e.a, e.b FROM lund e
  JOIN lvfinal fa ON fa.node = e.a
  JOIN lvfinal fb ON fb.node = e.b
  WHERE fa.community = fb.community),
lvreach AS (
  SELECT a AS node, a AS label FROM lvintra
  UNION
  SELECT e.a, r.label FROM lvreach r JOIN lvintra e ON e.b = r.node),
lvpieces AS (SELECT node, MIN(label) AS piece FROM lvreach GROUP BY node)
SELECT f.node, COALESCE(p.piece, f.node) AS community
FROM lvfinal f LEFT JOIN lvpieces p ON p.node = f.node
"""


SQL_OSM_TRIANGLES = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                         _WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL,
                         _MERGED_SQL).replace(
    "WITH ", "WITH RECURSIVE ", 1) + """,
und AS MATERIALIZED (
  -- explicit DISTINCT: DuckDB 1.0 UNION under WITH RECURSIVE (see
  -- _sql_osm_betweenness)
  SELECT DISTINCT a, b FROM (
    SELECT start_node AS a, end_node AS b FROM merged
      WHERE start_node != end_node
    UNION ALL
    SELECT end_node, start_node FROM merged
      WHERE start_node != end_node)),
tdeg AS MATERIALIZED (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY a),
ore AS MATERIALIZED (
  SELECT u.a, u.b, da.d AS da, db.d AS db
  FROM und u JOIN tdeg da ON da.a = u.a JOIN tdeg db ON db.a = u.b
  WHERE (da.d, u.a) < (db.d, u.b)),
wed AS (
  SELECT e1.a AS nu, e1.b AS nv, e2.b AS nw
  FROM ore e1 JOIN ore e2 ON e1.a = e2.a
  WHERE (e1.db, e1.b) < (e2.db, e2.b)),
tri AS (SELECT nu, nv, nw FROM wed
        JOIN ore ON ore.a = wed.nv AND ore.b = wed.nw),
pn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT nu AS node FROM tri
    UNION ALL SELECT nv FROM tri
    UNION ALL SELECT nw FROM tri) GROUP BY node)
SELECT d.a AS node, d.d AS degree,
       CAST(COALESCE(pn.n, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.d >= 2
            THEN ROUND(2.0 * CAST(COALESCE(pn.n, 0) AS BIGINT)
                       / (d.d * (d.d - 1)), 6)
            ELSE 0.0 END AS clustering
FROM tdeg d LEFT JOIN pn ON pn.node = d.a
"""


_PR_ITER, _PR_DAMPING = 5, 0.85


def q_osm_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the directed car graph
    (operators.graph_algo.pagerank) — the graph-quality ranking signal of
    the reference's igraph step, with the dangling mass redistributed so
    total mass stays 1. At gate sizes the graph is one node block, so
    one numpy step runs all n_iter iterations."""
    from ..operators.graph_algo import pagerank

    d, cn, merged = _shared_network(spark, sf_dir)
    # .cache(): the same minimal directed plan the shortest_* gates cache
    # — plan-matched, so one materialization serves the whole family
    directed = directed_network(merged, minimal=True).cache()
    pr = pagerank(directed.select(F.col("start_node").alias("src"),
                                  F.col("end_node").alias("dst")),
                  n_iter=_PR_ITER, damping=_PR_DAMPING)
    return pr.select("node", F.round("pagerank", 9).alias("pagerank"))


def _sql_osm_pagerank(n_iter: int = _PR_ITER, d: float = _PR_DAMPING,
                      k_seeds: int | None = None) -> str:
    """Unrolled power iteration; every arithmetic expression mirrors the
    Column/driver-side shape exactly ((1-d)/n first, then (d*m)/n, then
    + d*inflow) so both engines run the same IEEE operation sequence."""
    head = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL, _WAYLEN_SQL,
                _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL).replace(
        "WITH ", "WITH RECURSIVE ", 1) + f""",
dedges AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT start_node AS u, end_node AS v FROM merged
      WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
    UNION ALL
    SELECT end_node, start_node FROM merged
      WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
    UNION ALL
    SELECT start_node, end_node FROM merged
      WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
    UNION ALL
    SELECT end_node, start_node FROM merged WHERE oneway = '-1')),
pnodes AS MATERIALIZED (
  -- explicit DISTINCT: DuckDB 1.0 UNION under WITH RECURSIVE (see
  -- _sql_osm_betweenness)
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM dedges UNION ALL SELECT v FROM dedges)),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM pnodes),
odeg AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS outdeg FROM dedges GROUP BY u),
links AS MATERIALIZED (
  SELECT e.u, e.v, o.outdeg FROM dedges e JOIN odeg o ON o.u = e.u),
pr0 AS MATERIALIZED (
  SELECT node, 1.0 / nn.c AS pr FROM pnodes CROSS JOIN nn)"""
    if k_seeds:
        head += f""",
seeds AS (SELECT node FROM pnodes ORDER BY node LIMIT {k_seeds}),
ppr0 AS MATERIALIZED (
  SELECT p.node, CASE WHEN s.node IS NOT NULL
                      THEN {1.0 / k_seeds!r} ELSE 0.0 END AS pr
  FROM pnodes p LEFT JOIN seeds s ON s.node = p.node)"""
    p0 = "ppr0" if k_seeds else "pr0"
    if k_seeds:
        kf = float(k_seeds)
        base_expr = (f"(CASE WHEN sd.node IS NOT NULL THEN "
                     f"(1.0 - {d!r}) / {kf!r} + ({d!r} * dg.m) / {kf!r} "
                     f"ELSE 0.0 END)")
        seed_join = "\n  LEFT JOIN seeds sd ON sd.node = n.node"
    else:
        base_expr = f"((1.0 - {d!r}) / nn.c + ({d!r} * dg.m) / nn.c)"
        seed_join = ""
    its = []
    for i in range(1, n_iter + 1):
        prev = p0 if i == 1 else f"pr{i - 1}"
        its.append(f""",
dang{i} AS (
  SELECT COALESCE(SUM(p.pr), 0.0) AS m
  FROM {prev} p LEFT JOIN odeg o ON o.u = p.node WHERE o.u IS NULL),
pr{i} AS MATERIALIZED (
  SELECT n.node,
         {base_expr}
           + {d!r} * COALESCE(inf.s, 0.0) AS pr
  FROM pnodes n CROSS JOIN nn CROSS JOIN dang{i} dg{seed_join}
  LEFT JOIN (SELECT l.v AS node, SUM(p.pr / l.outdeg) AS s
             FROM links l JOIN {prev} p ON p.node = l.u
             GROUP BY l.v) inf ON inf.node = n.node)""")
    return head + "".join(its) + f"""
SELECT node, ROUND(pr, 9) AS pagerank FROM pr{n_iter}
"""


_PPR_SEEDS = 6


def q_osm_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the k minimum node ids of the directed
    car graph — the seed-expansion ranking a curation pipeline uses to
    grade items by link-proximity to a trusted core
    (operators.graph_algo.personalized_pagerank)."""
    from ..operators.graph_algo import personalized_pagerank

    d, cn, merged = _shared_network(spark, sf_dir)
    # .cache(): plan-matched with the shortest_* gates' cached directed
    directed = directed_network(merged, minimal=True).cache()
    edges = directed.select(F.col("start_node").alias("src"),
                            F.col("end_node").alias("dst"))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    seeds = [r["node"] for r in
             nodes.orderBy("node").limit(_PPR_SEEDS).collect()]
    pr = personalized_pagerank(edges, seeds, n_iter=_PR_ITER,
                               damping=_PR_DAMPING)
    return pr.select("node", F.round("pagerank", 9).alias("pagerank"))


def derive_ways_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry-free (id, tags) projection of the ways table: tags are a
    pure function of the way id, so consumers that never touch
    nodes/linestring skip the whole array-assembly join — the column
    pruning Catalyst cannot do through the collect_list aggregate.

    The map carries the hstore NULL-filter (absent keys must not appear
    as entries — the tag-explode consumers depend on it). Consumers
    that only PROBE literal keys shouldn't route through a map at all:
    project each tag as its own plain column instead, as
    ``q_osm_mode_flags`` does (the plain-column cascade replaced an
    older ``probe_only`` CreateMap-elision variant of this helper —
    one evaluation per tag beats relying on SimplifyExtractValueOps,
    which stops firing the moment the map crosses a projection
    boundary)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    way_ids = li.select(F.col("l_orderkey").alias("id")).distinct()
    key = F.col("o_orderkey")
    tags = _tags_map(_way_tag_exprs(key))
    return (orders.select(key.alias("id"), tags.alias("tags"))
            .join(way_ids, "id", "left_semi"))


def derive_car_way_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The car_network EDGE-ID SET as an (edge_id) DataFrame, for
    consumers that never touch geometry, length or tags beyond the
    include/exclude rules. Membership in the car network is a pure
    function of the way's tags plus way existence, so this derives it in
    plain-column cascade form — each probed tag projected ONCE as its
    own column from ``_way_tag_exprs`` and the ``CAR_HIGHWAY_INCLUDE`` /
    ``CAR_EXCLUDE_RULES`` filters (imported from operators.network — one
    source of truth) compiled against attribute references — and
    semi-joins the distinct way ids. Routing through
    ``car_network(derive_osm(...)["ways"])`` instead forces the whole
    way-assembly subplan (sequence window + nodes join + collect_list)
    that column pruning cannot cross, and probing the tags MAP re-inlines
    the full CreateMap at every of the ~7 filter sites once it crosses a
    projection boundary. Measured sf0.1, 5-rep
    clearCache noop median: edge-id subplan 1.25 s → 0.61 s. A rule key
    the synthetic tags never emit degrades to NULL (isin → NULL →
    excluded-by-coalesce), exactly the absent-map-key semantics."""
    from ..operators.network import (  # noqa: PLC0415
        CAR_EXCLUDE_RULES, CAR_HIGHWAY_INCLUDE)

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    exprs = _way_tag_exprs(key)
    probed = {"highway"} | {k for k, _ in CAR_EXCLUDE_RULES}
    proj = orders.select(key.alias("edge_id"),
                         *[exprs[k].alias(k) for k in sorted(probed)
                           if k in exprs])
    proj = proj.filter(F.col("highway").isin(*CAR_HIGHWAY_INCLUDE))
    excl: Column = F.lit(False)
    for k, values in CAR_EXCLUDE_RULES:
        c = F.col(k) if k in exprs else F.lit(None).cast("string")
        excl = excl | c.isin(*values)
    proj = proj.filter(~F.coalesce(excl, F.lit(False)))
    way_ids = li.select(F.col("l_orderkey").alias("edge_id")).distinct()
    return proj.join(way_ids, "edge_id", "left_semi").select("edge_id")


def q_osm_mode_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode flags depend only on tags, so build a geometry-free network
    projection (the cascade operator is identical; skipping the linestring
    assembly is pure column pruning the join would otherwise defeat).

    Plain-column cascade: every tag the cascade probes is projected
    ONCE as its own column, and ``with_mode_flags(tag=F.col)`` compiles
    the rules against attribute references — each ``isin`` becomes an
    ``INSET`` over an already-computed value instead of re-evaluating the
    tag's CASE chain at every one of its ~15 probe sites (the map-probe
    form inlined the full tag expression per reference once the tags map
    crossed a projection boundary). Measured sf0.1 noop-sink steady
    state: 2.1 → 0.75 s (≈ DuckDB's 0.77 s). CollapseProject keeps the
    two projections separate because the tag expressions are non-cheap
    and multiply-referenced — pinned by test_plan_contracts.

    The cascade is applied BEFORE the ways-with-nodes semi-join (value
    semantics are join-independent), so only the 5 output columns cross
    the join. At 100 TB the plan holds: one fact-table exchange for the
    existence set (AQE broadcasts it when small, shuffles otherwise on
    the bucketable way_id key), and a single narrow zero-shuffle
    projection on the dimension side."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    proj = (orders.select(key.alias("edge_id"),
                          *[v.alias(k) for k, v in
                            _way_tag_exprs(key).items()])
            .filter(F.col("highway").isNotNull()))
    comp = (with_mode_flags(proj, tag=F.col)
            .select("edge_id", "highway", "car", "pedestrian", "bicycle"))
    way_ids = li.select(F.col("l_orderkey").alias("edge_id")).distinct()
    return comp.join(way_ids, "edge_id", "left_semi")


def _cascade_sql(col: str, steps: list[tuple[str, int]]) -> str:
    """Nested-CASE emulation of the sequential UPDATE cascade: each step is
    (condition-SQL with {cur} placeholder, value)."""
    cur = "CAST(NULL AS INT)"
    for cond, val in steps:
        cur = f"(CASE WHEN {cond.format(cur=cur)} THEN {val} ELSE {cur} END)"
    return f"{cur} AS {col}"


_ALL_ZERO_STEPS = [
    ("w.access IN ('no','private','permit','customers','forestry','agricultural',"
     "'military','emergency','bus','delivery','restricted')", 0),
    ("w.service IN ('drive-through','emergency_access','bus')", 0),
    ("w.highway IN ('disused','dismantled','razed','rest_area','corridor',"
     "'construction','abandoned','raceway','proposed','rest_area','planned','platform')", 0),
]

_CAR_STEPS = _ALL_ZERO_STEPS + [
    ("w.highway IN ('steps','footway','pedestrian','cycleway','bridleway',"
     "'elevator','sidewalk')", 0),
    ("w.bicycle IN ('designated') OR w.cycleway IN ('designated') "
     "OR w.foot IN ('designated') OR w.footway IN ('sidewalk','crossing','yes') "
     "OR w.motor_vehicle IN ('no','private') "
     "OR w.service IN ('parking_aisle','parking') OR w.bus IN ('designated')", 0),
    ("{cur} IS NULL AND w.highway IN ('motorway','primary','tertiary','secondary',"
     "'primary_link','tertiary_link','secondary_link','trunk','trunk_link',"
     "'motorway_link','motorway_junction')", 1),
]

_PED_STEPS = _ALL_ZERO_STEPS + [
    ("w.highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction')", 0),
    ("w.bus IN ('designated')", 0),
    ("{cur} IS NULL AND w.highway IN ('steps','footway','pedestrian','bridleway',"
     "'elevator','sidewalk','living_street','path')", 1),
    ("({cur} IS NULL AND w.foot IN ('designated')) "
     "OR w.footway IN ('sidewalk','crossing','yes')", 1),
]

_BIKE_STEPS = _ALL_ZERO_STEPS + [
    ("w.highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction')", 0),
    ("w.bus IN ('designated')", 0),
    ("{cur} IS NULL AND w.highway IN ('cycleway','living_street')", 1),
    ("({cur} IS NULL AND w.bicycle IN ('designated')) OR w.cycleway IN ('designated')", 1),
]

SQL_OSM_MODE_FLAGS = _cte(_WTAGS_SQL, _WN_SQL) + f"""
SELECT w.way_id AS edge_id, w.highway,
       {_cascade_sql('car', _CAR_STEPS)},
       {_cascade_sql('pedestrian', _PED_STEPS)},
       {_cascade_sql('bicycle', _BIKE_STEPS)}
FROM wtags w
WHERE w.highway IS NOT NULL AND w.way_id IN (SELECT way_id FROM wn)
"""


def q_osm_highway_maxspeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``tags_summary.highway_maxspeed_values`` (``osm-road-graphs.sql:
    32-40``): the data-QA summary the reference eyeballs before imputing —
    counts per (highway, parsed speed_limit) over the car network."""
    from ..operators.network import highway_maxspeed_values

    d = derive_osm(spark, sf_dir)
    return highway_maxspeed_values(car_network(d["ways"]))


SQL_OSM_HIGHWAY_MAXSPEED = _cte(_WTAGS_SQL, _WN_SQL, _CN_SQL) + """
SELECT highway, speed_limit, CAST(COUNT(*) AS BIGINT) AS count
FROM cn GROUP BY highway, speed_limit
"""


def q_osm_complete_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full complete-network pipeline (``osm-complete-graphs.sql``):
    every highway-tagged way → median speed imputation → car/pedestrian/
    bicycle mode-flag cascade, with endpoints and geodesic length."""
    d = derive_osm(spark, sf_dir)
    comp = impute_speed_limit(complete_network(d["ways"]))
    # plain-column cascade: complete_network projects every probed tag
    # once; F.col probes compile to INSET over the already-computed value
    # instead of re-evaluating the tag CASE chain per probe site
    # (measured 3× on the cascade at sf0.1)
    flagged = with_mode_flags(comp, tag=F.col)
    return flagged.select("edge_id", "start_node", "end_node",
                          F.round("length", 4).alias("length_km"),
                          "speed_limit", "car", "pedestrian", "bicycle")


def _sql_osm_complete_network() -> str:
    return _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _WAYLEN_SQL, _WAYENDS_SQL) + f""",
compnet AS (
  SELECT w.*, CASE WHEN regexp_extract(w.maxspeed, '([0-9]+)', 1) != ''
              THEN CAST(regexp_extract(w.maxspeed, '([0-9]+)', 1) AS INT)
              END AS speed_limit
  FROM wtags w
  WHERE w.highway IS NOT NULL AND w.way_id IN (SELECT way_id FROM wn)),
med AS (
  SELECT highway, CAST(ROUND(quantile_cont(speed_limit, 0.5)) AS INT) AS m
  FROM compnet GROUP BY highway)
SELECT w.way_id AS edge_id, e.start_node, e.end_node,
       ROUND(l.length, 4) AS length_km,
       COALESCE(w.speed_limit, med.m) AS speed_limit,
       {_cascade_sql('car', _CAR_STEPS)},
       {_cascade_sql('pedestrian', _PED_STEPS)},
       {_cascade_sql('bicycle', _BIKE_STEPS)}
FROM compnet w
JOIN wayends e ON w.way_id = e.way_id
JOIN waylen l ON w.way_id = l.way_id
LEFT JOIN med ON w.highway = med.highway
"""


_COMPLETE_MERGE_ATTRS = ("speed_limit", "highway", "service", "access",
                         "oneway", "car", "pedestrian", "bicycle")


def q_osm_complete_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix-file's final artifact (``osm-complete-graphs-fix.sql:147-197``):
    topological split/merge over the *complete* network, with the mode-flag
    columns (service/access/car/pedestrian/bicycle) carried through the
    split UPDATE at ``:167-188`` — the multi-modal routing graph."""
    d = derive_osm(spark, sf_dir)
    comp = with_mode_flags(impute_speed_limit(complete_network(d["ways"])),
                           tag=F.col).cache()
    merged = merged_network(comp, d["way_nodes"], attrs=_COMPLETE_MERGE_ATTRS)
    return merged.select("edge_id", "start_node", "end_node",
                         F.size("nodes").alias("n_nodes"),
                         F.round("length", 4).alias("length_km"),
                         *_COMPLETE_MERGE_ATTRS)


def _sql_osm_complete_merged() -> str:
    cnf = f"""
compnet AS (
  SELECT w.*, CASE WHEN regexp_extract(w.maxspeed, '([0-9]+)', 1) != ''
              THEN CAST(regexp_extract(w.maxspeed, '([0-9]+)', 1) AS INT)
              END AS speed_limit
  FROM wtags w
  WHERE w.highway IS NOT NULL AND w.way_id IN (SELECT way_id FROM wn)),
med AS (
  SELECT highway, CAST(ROUND(quantile_cont(speed_limit, 0.5)) AS INT) AS m
  FROM compnet GROUP BY highway),
cn AS (
  SELECT w.way_id AS edge_id, COALESCE(w.speed_limit, med.m) AS speed_limit,
         w.highway, w.service, w.access, w.oneway,
         {_cascade_sql('car', _CAR_STEPS)},
         {_cascade_sql('pedestrian', _PED_STEPS)},
         {_cascade_sql('bicycle', _BIKE_STEPS)}
  FROM compnet w LEFT JOIN med ON w.highway = med.highway)
"""
    return _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _WAYLEN_SQL, _WAYENDS_SQL,
                cnf, _TOPOLOGY_SQL, _merged_sql(_COMPLETE_MERGE_ATTRS)) + """
SELECT edge_id, start_node, end_node, n_nodes, ROUND(length, 4) AS length_km,
       speed_limit, highway, service, access, oneway, car, pedestrian, bicycle
FROM merged
"""


def q_osm_tag_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """osm-explore key-frequency summary with the literal + substring
    denylists (P6/P7): 'name' drops out via position(x in tag) = 0."""
    from ..operators.tags import tag_key_summary

    d = derive_osm(spark, sf_dir)
    return tag_key_summary(d["nodes"])


SQL_OSM_TAG_KEYS = _cte(_NODES_SQL) + """,
k AS (
  SELECT 'amenity' AS tag FROM nodes_d WHERE amenity IS NOT NULL
  UNION ALL SELECT 'shop' FROM nodes_d WHERE shop IS NOT NULL
  UNION ALL SELECT 'leisure' FROM nodes_d WHERE leisure IS NOT NULL
  UNION ALL SELECT 'sport' FROM nodes_d WHERE sport IS NOT NULL
  UNION ALL SELECT 'tourism' FROM nodes_d WHERE tourism IS NOT NULL)
SELECT tag, CAST(COUNT(*) AS BIGINT) AS count
FROM k GROUP BY tag ORDER BY count DESC, tag
"""


def q_osm_pois(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_osm(spark, sf_dir)
    return pois_from_nodes(d["nodes"]).select("node_id", "key", "values", "name")


SQL_OSM_POIS = _cte(_NODES_SQL) + """
SELECT id AS node_id, k AS key,
       CASE k WHEN 'leisure' THEN leisure WHEN 'sport' THEN sport
              WHEN 'shop' THEN shop WHEN 'amenity' THEN amenity
              WHEN 'tourism' THEN tourism END AS values,
       name
FROM nodes_d
CROSS JOIN (SELECT unnest(['leisure','sport','shop','office','amenity',
                           'craft','tourism','emergency','historic']) AS k)
WHERE CASE k WHEN 'leisure' THEN leisure WHEN 'sport' THEN sport
             WHEN 'shop' THEN shop WHEN 'amenity' THEN amenity
             WHEN 'tourism' THEN tourism END IS NOT NULL
"""


def q_osm_spatial_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 grid-blocked spatial join over a deterministic way subset (the
    derived 'ways' are random jumps across the region, so a modest subset +
    coarse cells keeps candidate counts road-network-realistic). Each pair
    carries its exact DE-9IM relation (crosses/touches/overlap), so
    ``relation IN ('crosses','touches')`` is predicate-exact with the
    reference's ``ST_Touches OR ST_Crosses``
    (``osm-road-graphs-fix.sql:100-101``)."""
    from ..operators.spatial import classified_way_pairs

    d = derive_osm(spark, sf_dir)
    sub = d["ways"].filter(F.col("id") % 97 == 0)
    return classified_way_pairs(sub, id_col="id", line_col="linestring",
                                cell_deg=0.5)


# Same blocking + same orientation-test arithmetic (identical expression
# grouping -> identical IEEE doubles) in DuckDB. Shared by the
# pair-predicate and blade oracles.
_SPATIAL_CTES = """,
geom AS (
  SELECT wn.way_id AS id,
         list(n.lon ORDER BY wn.sequence_id) AS xs,
         list(n.lat ORDER BY wn.sequence_id) AS ys
  FROM wn JOIN nodes_d n ON wn.node_id = n.id
  WHERE wn.way_id % 97 = 0
  GROUP BY wn.way_id),
segs AS (
  SELECT id, xs[i] AS x1, ys[i] AS y1, xs[i+1] AS x2, ys[i+1] AS y2
  FROM geom, UNNEST(range(1, len(xs))) AS t(i)),
cells AS (
  SELECT DISTINCT id, gx, gy
  FROM segs,
       UNNEST(range(CAST(floor(least(x1, x2) / 0.5) AS BIGINT),
                    CAST(floor(greatest(x1, x2) / 0.5) AS BIGINT) + 1)) AS tx(gx),
       UNNEST(range(CAST(floor(least(y1, y2) / 0.5) AS BIGINT),
                    CAST(floor(greatest(y1, y2) / 0.5) AS BIGINT) + 1)) AS ty(gy)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM cells a JOIN cells b ON a.gx = b.gx AND a.gy = b.gy AND a.id < b.id),
dvals AS (
  SELECT c.id_a, c.id_b,
         (sb.x2 - sb.x1) * (sa.y1 - sb.y1) - (sb.y2 - sb.y1) * (sa.x1 - sb.x1) AS d1,
         (sb.x2 - sb.x1) * (sa.y2 - sb.y1) - (sb.y2 - sb.y1) * (sa.x2 - sb.x1) AS d2,
         (sa.x2 - sa.x1) * (sb.y1 - sa.y1) - (sa.y2 - sa.y1) * (sb.x1 - sa.x1) AS d3,
         (sa.x2 - sa.x1) * (sb.y2 - sa.y1) - (sa.y2 - sa.y1) * (sb.x2 - sa.x1) AS d4,
         sa.x1 AS ax1, sa.y1 AS ay1, sa.x2 AS ax2, sa.y2 AS ay2,
         sb.x1 AS bx1, sb.y1 AS by1, sb.x2 AS bx2, sb.y2 AS by2
  FROM cand c
  JOIN segs sa ON sa.id = c.id_a
  JOIN segs sb ON sb.id = c.id_b)
"""

# NOTE: defined below _PTS0_SQL (it reuses the intersection-point CTE).
SQL_OSM_SPATIAL_PAIRS = None  # assigned after _PTS0_SQL


def q_osm_geometric_blades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16/A9: per-way intersection-point ('blade') counts over the same
    deterministic subset as osm_spatial_pairs."""
    from ..operators.spatial import way_blades

    d = derive_osm(spark, sf_dir)
    sub = d["ways"].filter(F.col("id") % 97 == 0)
    return (way_blades(sub, id_col="id", line_col="linestring", cell_deg=0.5)
            .select("id", F.size("blade").alias("n_blade")))


# per-pair intersection points (the blade model) — shared by the blade-count
# and geometric-split oracles
_PTS0_SQL = """,
pts0 AS (
  SELECT id_a, id_b,
         ax1 + (d1 / (d1 - d2)) * (ax2 - ax1) AS px,
         ay1 + (d1 / (d1 - d2)) * (ay2 - ay1) AS py
  FROM dvals
  WHERE ((d1 > 0) != (d2 > 0)) AND ((d3 > 0) != (d4 > 0))
    AND d1 != 0 AND d2 != 0 AND d3 != 0 AND d4 != 0
  UNION ALL
  SELECT id_a, id_b, ax1, ay1 FROM dvals
  WHERE d1 = 0 AND ax1 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
               AND ay1 BETWEEN least(by1, by2) AND greatest(by1, by2)
  UNION ALL
  SELECT id_a, id_b, ax2, ay2 FROM dvals
  WHERE d2 = 0 AND ax2 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
               AND ay2 BETWEEN least(by1, by2) AND greatest(by1, by2)
  UNION ALL
  SELECT id_a, id_b, bx1, by1 FROM dvals
  WHERE d3 = 0 AND bx1 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
               AND by1 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2)
  UNION ALL
  SELECT id_a, id_b, bx2, by2 FROM dvals
  WHERE d4 = 0 AND bx2 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
               AND by2 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
"""


# DE-9IM classification shared with operators.spatial.pair_relation: a pair
# 'overlap's when some collinear segment pair shares a positive-length
# range, 'crosses' when some contact point is interior to BOTH lines
# (line boundary = first/last vertex), else 'touches'.
SQL_OSM_SPATIAL_PAIRS = _cte(_NODES_SQL, _WN_SQL) + _SPATIAL_CTES + _PTS0_SQL + """,
ovl AS (
  SELECT DISTINCT id_a, id_b FROM dvals
  WHERE d1 = 0 AND d2 = 0
    AND (GREATEST(LEAST(ax1, ax2), LEAST(bx1, bx2))
         < LEAST(GREATEST(ax1, ax2), GREATEST(bx1, bx2))
      OR GREATEST(LEAST(ay1, ay2), LEAST(by1, by2))
         < LEAST(GREATEST(ay1, ay2), GREATEST(by1, by2)))),
bnds AS (
  SELECT id, xs[1] AS fx, ys[1] AS fy,
         xs[len(xs)] AS lx, ys[len(ys)] AS ly
  FROM geom),
cls AS (
  SELECT p.id_a, p.id_b,
         MAX(CASE WHEN NOT ((p.px = a.fx AND p.py = a.fy)
                         OR (p.px = a.lx AND p.py = a.ly))
                   AND NOT ((p.px = b.fx AND p.py = b.fy)
                         OR (p.px = b.lx AND p.py = b.ly))
                  THEN 1 ELSE 0 END) AS int_int
  FROM pts0 p JOIN bnds a ON a.id = p.id_a JOIN bnds b ON b.id = p.id_b
  GROUP BY p.id_a, p.id_b)
SELECT c.id_a, c.id_b,
       CASE WHEN o.id_a IS NOT NULL THEN 'overlap'
            WHEN c.int_int = 1 THEN 'crosses'
            ELSE 'touches' END AS relation
FROM cls c LEFT JOIN ovl o ON o.id_a = c.id_a AND o.id_b = c.id_b
"""

SQL_OSM_GEOMETRIC_BLADES = _cte(_NODES_SQL, _WN_SQL) + _SPATIAL_CTES + _PTS0_SQL + """,
pts AS (
  SELECT id, px + 0.0 AS px, py + 0.0 AS py
  FROM (SELECT id_a AS id, px, py FROM pts0
        UNION ALL
        SELECT id_b AS id, px, py FROM pts0))
SELECT id, CAST(COUNT(DISTINCT (px, py)) AS INT) AS n_blade
FROM pts GROUP BY id
"""


def q_osm_geometric_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: ST_Split at blades — full value-hash oracle (the SQL
    emulates the projection/clamp/merge steps IEEE-identically; unit
    goldens in tests/test_geometric_split.py cover the geometry cases,
    and osm_geometric_blades oracle-checks the blade points)."""
    from ..operators.spatial import geometric_split

    d = derive_osm(spark, sf_dir)
    sub = d["ways"].filter(F.col("id") % 97 == 0)
    parts = geometric_split(sub, id_col="id", line_col="linestring",
                            cell_deg=0.5)
    return parts.select("id", "part_index", F.size("geom").alias("n_points"))


# Oracle for the geometric split: re-derives blade points (shared _PTS0_SQL),
# then emulates operators/spatial.py:_split_polyline step by step — project
# each blade point onto its way's FIRST matching segment (same IEEE
# expression grouping), clamp t, drop cuts at the line's own endpoints,
# merge cut points into the vertex sequence in param order (cut before a
# param-tied vertex, as the Python loop appends), collapse consecutive
# coordinate-equal appends, and count points per part (parts with a single
# point are not emitted). Ways whose cut set is empty return their raw
# vertex list without the duplicate collapse — exactly the early return.
SQL_OSM_GEOMETRIC_SPLIT = _cte(_NODES_SQL, _WN_SQL) + _SPATIAL_CTES + _PTS0_SQL + """,
bpts AS (
  SELECT DISTINCT id, px + 0.0 AS px, py + 0.0 AS py
  FROM (SELECT id_a AS id, px, py FROM pts0
        UNION ALL
        SELECT id_b AS id, px, py FROM pts0)),
segsx AS (
  SELECT id, i - 1 AS i, xs[i] AS x1, ys[i] AS y1, xs[i+1] AS x2, ys[i+1] AS y2
  FROM geom, UNNEST(range(1, len(xs))) AS ti(i)),
vertx AS (
  SELECT id, j - 1 AS j, xs[j] AS x, ys[j] AS y
  FROM geom, UNNEST(range(1, len(xs) + 1)) AS tj(j)),
cutc AS (
  SELECT b.id, b.px, b.py, s.i,
         ((b.px - s.x1) * (s.x2 - s.x1) + (b.py - s.y1) * (s.y2 - s.y1))
           / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)) AS t_raw,
         LEAST(GREATEST(t_raw, 0.0), 1.0) AS t
  FROM bpts b JOIN segsx s ON b.id = s.id
  WHERE ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)) != 0
    AND t_raw BETWEEN -1e-9 AND 1 + 1e-9
    AND abs((s.x1 + t * (s.x2 - s.x1)) - b.px) <= 1e-9
    AND abs((s.y1 + t * (s.y2 - s.y1)) - b.py) <= 1e-9),
firstcut AS (
  SELECT id, i, t FROM (
    SELECT id, i, t, ROW_NUMBER() OVER (PARTITION BY id, px, py ORDER BY i) AS rn
    FROM cutc) WHERE rn = 1),
cuts AS (
  SELECT DISTINCT c.id, c.i, c.t
  FROM firstcut c
  JOIN (SELECT id, MAX(j) AS mj FROM vertx GROUP BY id) v ON c.id = v.id
  WHERE NOT (c.i = 0 AND c.t <= 1e-9)
    AND NOT (c.i = v.mj - 1 AND c.t >= 1 - 1e-9)),
entries AS (
  -- (ord, tb) break param ties in Python append order: cuts are processed
  -- sorted by (i, t) during segment iteration i, and the vertex v_j is
  -- appended at the end of iteration j-1 — so cut(i=j-1, t→1) < vertex v_j
  -- < cut(i=j, t→0), and same-segment cuts order by t even when i+t rounds
  -- to the same double
  SELECT id, CAST(j AS DOUBLE) AS p, j - 0.5 AS ord, 0.0 AS tb, x, y, 0 AS isc
  FROM vertx WHERE id IN (SELECT id FROM cuts)
  UNION ALL
  SELECT c.id, c.i + c.t AS p, CAST(c.i AS DOUBLE) AS ord, c.t AS tb,
         s.x1 + c.t * (s.x2 - s.x1) AS x,
         s.y1 + c.t * (s.y2 - s.y1) AS y, 1 AS isc
  FROM cuts c JOIN segsx s ON c.id = s.id AND c.i = s.i),
runs AS (
  SELECT id, p, ord, tb, isc, x, y,
         CASE WHEN LAG(x) OVER w IS NULL THEN 1
              WHEN x != LAG(x) OVER w OR y != LAG(y) OVER w THEN 1
              ELSE 0 END AS newrun
  FROM entries
  WINDOW w AS (PARTITION BY id ORDER BY p, ord, tb)),
collapsed AS (
  SELECT id, grp, MAX(isc) AS isc
  FROM (SELECT id, isc,
               SUM(newrun) OVER (PARTITION BY id ORDER BY p, ord, tb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM runs)
  GROUP BY id, grp),
memb AS (
  SELECT id, UNNEST(CASE WHEN isc = 1 THEN [c - 1, c] ELSE [c] END) AS part
  FROM (SELECT id, grp, isc,
               SUM(isc) OVER (PARTITION BY id ORDER BY grp
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM collapsed)),
cutparts AS (
  SELECT id, part, COUNT(*) AS n
  FROM memb GROUP BY id, part HAVING COUNT(*) > 1)
SELECT id, CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY part) - 1 AS INT)
         AS part_index,
       CAST(n AS INT) AS n_points
FROM cutparts
UNION ALL
SELECT id, 0 AS part_index, CAST(len(xs) AS INT) AS n_points
FROM geom WHERE id NOT IN (SELECT DISTINCT id FROM cuts)
"""


def q_osm_create_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: pgr_createTopology analog — snap endpoints to a 0.0001° grid,
    dense-rank distinct grid keys into vertex ids."""
    from ..operators.graphs import create_topology

    d = derive_osm(spark, sf_dir)
    cn = car_network(d["ways"])
    t = create_topology(cn.select("edge_id", "geom"), tolerance=0.0001)
    return t.select("edge_id", "source", "target")


SQL_OSM_CREATE_TOPOLOGY = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL) + """,
ends AS (
  SELECT wn.way_id AS edge_id,
         min_by(n.lon, wn.sequence_id) AS slon, min_by(n.lat, wn.sequence_id) AS slat,
         max_by(n.lon, wn.sequence_id) AS elon, max_by(n.lat, wn.sequence_id) AS elat
  FROM wn JOIN nodes_d n ON wn.node_id = n.id
  WHERE wn.way_id IN (SELECT edge_id FROM cn)
  GROUP BY wn.way_id),
keyed AS (
  SELECT edge_id,
         CAST(round(slon * 10000.0) AS BIGINT) || ':' ||
         CAST(round(slat * 10000.0) AS BIGINT) AS sk,
         CAST(round(elon * 10000.0) AS BIGINT) || ':' ||
         CAST(round(elat * 10000.0) AS BIGINT) AS tk
  FROM ends),
verts AS (
  SELECT k, CAST(DENSE_RANK() OVER (ORDER BY k) AS INT) AS vid
  FROM (SELECT sk AS k FROM keyed UNION SELECT tk FROM keyed))
SELECT e.edge_id, sv.vid AS source, tv.vid AS target
FROM keyed e JOIN verts sv ON e.sk = sv.k JOIN verts tv ON e.tk = tv.k
"""


def q_osm_network_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_osm(spark, sf_dir)
    cn = car_network(d["ways"])
    return network_nodes(d["nodes"], cn)


SQL_OSM_NETWORK_NODES = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                             _WAYENDS_SQL) + """
SELECT n.id AS node_id, printf('POINT(%.7f %.7f)', n.lon, n.lat) AS node_coord
FROM nodes_d n
WHERE n.id IN (SELECT start_node FROM wayends WHERE way_id IN (SELECT edge_id FROM cn)
               UNION
               SELECT end_node FROM wayends WHERE way_id IN (SELECT edge_id FROM cn))
"""


def q_osm_poi_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snap every amenity POI to its nearest car-network endpoint
    (operators.spatial.nearest_neighbor_join): grid-blocked haversine KNN
    with a (distance, id) tie-break — the map-matching/geocoding step that
    links the POI layer to the routable graph."""
    from ..functions.maps import tag_get
    from ..operators.spatial import nearest_neighbor_join

    d = derive_osm(spark, sf_dir)
    cn = car_network(d["ways"]).cache()
    endpoints = (cn.select(F.col("start_node").alias("id"))
                 .union(cn.select(F.col("end_node").alias("id")))
                 .distinct())
    netn = (d["nodes"].join(endpoints, "id", "left_semi")
            .select("id", "lon", "lat"))
    pois = (d["nodes"].filter(tag_get("tags", "amenity").isNotNull())
            .select(F.col("id").alias("poi_id"), "lon", "lat"))
    return nearest_neighbor_join(pois, netn, cell_deg=0.05,
                                 id_col="poi_id", tid_col="id")


SQL_OSM_POI_NEAREST = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL, _CN_SQL,
                           _WAYENDS_SQL) + """
, netn AS (
  SELECT n.id, n.lon, n.lat FROM nodes_d n
  WHERE n.id IN (SELECT start_node FROM wayends
                 WHERE way_id IN (SELECT edge_id FROM cn)
                 UNION
                 SELECT end_node FROM wayends
                 WHERE way_id IN (SELECT edge_id FROM cn))),
pois AS (
  SELECT id AS poi_id, lon, lat FROM nodes_d WHERE amenity IS NOT NULL),
cand AS (
  SELECT p.poi_id, t.id AS tid,
         2.0 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
           SIN(RADIANS(t.lat - p.lat) / 2) * SIN(RADIANS(t.lat - p.lat) / 2)
           + COS(RADIANS(p.lat)) * COS(RADIANS(t.lat))
           * SIN(RADIANS(t.lon - p.lon) / 2)
           * SIN(RADIANS(t.lon - p.lon) / 2)))) AS d
  FROM pois p JOIN netn t
    ON CAST(FLOOR(t.lon / 0.05) AS INT)
         BETWEEN CAST(FLOOR(p.lon / 0.05) AS INT) - 1
             AND CAST(FLOOR(p.lon / 0.05) AS INT) + 1
   AND CAST(FLOOR(t.lat / 0.05) AS INT)
         BETWEEN CAST(FLOOR(p.lat / 0.05) AS INT) - 1
             AND CAST(FLOOR(p.lat / 0.05) AS INT) + 1)
SELECT poi_id, tid AS nearest_id, ROUND(d, 6) AS dist_km FROM (
  SELECT poi_id, tid, d,
         ROW_NUMBER() OVER (PARTITION BY poi_id ORDER BY d, tid) AS rn
  FROM cand)
WHERE rn = 1
"""


def q_pbf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 in-engine PBF ingest, value-checked end-to-end: the derived nodes
    table is encoded to a real ``.osm.pbf`` (``write_pbf``: DenseNodes,
    delta/zigzag packed varints, zlib blobs) and re-ingested with the
    distributed ``read_pbf`` blob scan; the oracle re-derives the same rows
    straight from ``part``, so a hash match proves the codec round-trips
    ids, signed nano-degree coordinates, and tag maps exactly
    (``etl/osm-load.sh:29``'s Osmosis step, made self-contained).

    The driver-side collect here is *fixture generation only* (bounded by
    |part|); the read path under test is the executor-parallel ranged-blob
    scan a planet-scale ingest would use."""
    import os
    import tempfile

    from ..functions.geo import point_wkt
    from ..sources.pbf import read_pbf, write_pbf

    nodes = derive_osm(spark, sf_dir)["nodes"]
    rows = nodes.select("id", "lon", "lat", "tags").collect()
    path = os.path.join(tempfile.mkdtemp(prefix="pbf_gate_"), "nodes.osm.pbf")
    write_pbf(path, nodes=[
        {"id": r["id"], "lon": r["lon"], "lat": r["lat"], "tags": r["tags"]}
        for r in rows])
    back = read_pbf(spark, path, "nodes")
    return back.select(
        "id",
        point_wkt("lon", "lat").alias("coord"),
        F.array_join(F.sort_array(F.transform(
            F.map_entries("tags"),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]))),
            "&").alias("tags_kv"))


SQL_PBF_ROUNDTRIP = _cte(_NODES_SQL) + """
SELECT id,
       printf('POINT(%.7f %.7f)', lon, lat) AS coord,
       COALESCE(list_aggr(list_sort(list_filter(
         ['amenity=' || amenity, 'shop=' || shop, 'leisure=' || leisure,
          'sport=' || sport, 'tourism=' || tourism, 'name=' || name],
         x -> x IS NOT NULL)), 'string_agg', '&'), '') AS tags_kv
FROM nodes_d
"""


def q_pbf_roundtrip_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 ingest for the non-dense entities: ways (delta-packed refs) and
    relations (memids/types/roles) are encoded to a real ``.osm.pbf`` and
    re-ingested with the distributed blob scan — the ways/relations halves
    of ``_decode_entity_rows``/``write_pbf`` (sources/pbf.py:297,349) that
    round 3 left pytest-only. One row per entity: ordered member/node
    payload plus the canonicalized tag map, so a hash match proves ref
    order, member triplets, and tags all survive the codec."""
    import os
    import tempfile
    from collections import defaultdict

    from ..sources.pbf import read_pbf, write_pbf

    d = derive_osm(spark, sf_dir)
    rels, members = derive_relations(t(spark, sf_dir, "customer"),
                                     t(spark, sf_dir, "orders"))
    way_rows = d["ways"].select("id", "nodes", "tags").collect()
    rel_rows = rels.collect()
    mm = defaultdict(list)
    for r in members.collect():
        mm[r["relation_id"]].append((r["sequence_id"], r["member_id"],
                                     r["member_type"], r["member_role"]))
    path = os.path.join(tempfile.mkdtemp(prefix="pbf_gate_"), "wr.osm.pbf")
    write_pbf(
        path,
        ways=[{"id": r["id"], "nodes": list(r["nodes"]),
               "tags": dict(r["tags"])} for r in way_rows],
        relations=[{"id": r["id"], "tags": dict(r["tags"]),
                    "members": [(mid, mt, role) for _, mid, mt, role
                                in sorted(mm[r["id"]])]} for r in rel_rows])

    def tags_kv(col: str):
        return F.array_join(F.sort_array(F.transform(
            F.map_entries(col),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]))), "&")

    wn_back = read_pbf(spark, path, "way_nodes")
    ways_back = read_pbf(spark, path, "ways")
    rels_back = read_pbf(spark, path, "relations")
    rm_back = read_pbf(spark, path, "relation_members")

    w_pay = (wn_back.groupBy("way_id")
             .agg(F.array_join(F.transform(F.sort_array(F.collect_list(
                 F.struct("sequence_id", "node_id"))),
                 lambda s: s["node_id"].cast("string")), ",").alias("payload")))
    w_sum = (ways_back.select("id", tags_kv("tags").alias("tags_kv"))
             .join(w_pay, F.col("id") == F.col("way_id"))
             .select(F.lit("W").alias("kind"), "id", "payload", "tags_kv"))
    r_pay = (rm_back.groupBy("relation_id")
             .agg(F.array_join(F.transform(F.sort_array(F.collect_list(
                 F.struct("sequence_id", "member_type", "member_id",
                          "member_role"))),
                 lambda s: F.concat_ws(":", s["member_type"],
                                       s["member_id"].cast("string"),
                                       s["member_role"])), ",")
                 .alias("payload")))
    r_sum = (rels_back.select("id", tags_kv("tags").alias("tags_kv"))
             .join(r_pay, F.col("id") == F.col("relation_id"), "left")
             .select(F.lit("R").alias("kind"), "id",
                     F.coalesce("payload", F.lit("")).alias("payload"),
                     "tags_kv"))
    return w_sum.unionByName(r_sum)


def derive_relations(customer: DataFrame,
                     orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic ``relations``/``relation_members`` world
    (``etl/pgsnapshot_schema_0.6.sql:57-80``): every 7th customer is a
    relation (route when custkey % 3 != 0), its orders are ordered 'W'
    members of the relation's ways, every 5th order contributes a 'N' stop
    member. Mirrored verbatim by ``_RELS_SQL``/``_RMEMB_SQL``."""
    ck = F.col("c_custkey")
    rels = (customer.where(ck % 7 == 0)
            .select(ck.alias("id"), _tags_map({
                "type": F.when(ck % 3 == 0, F.lit("multipolygon"))
                         .otherwise(F.lit("route")),
                "route": _case_mod(ck, [(0, "road"), (1, "bicycle"),
                                        (2, "hiking"), (3, "bus")], 4),
                "ref": F.concat(F.lit("R"), ck.cast("string")),
                "network": _case_mod(ck, [(0, "lcn"), (1, "rcn")], 5),
            }).alias("tags")))
    ok, cust = F.col("o_orderkey"), F.col("o_custkey")
    sel = orders.where(cust % 7 == 0)
    wm = sel.select(cust.alias("relation_id"), ok.alias("member_id"),
                    F.lit("W").alias("member_type"),
                    _case_mod(ok, [(0, ""), (1, "forward"), (2, "backward")],
                              3).alias("member_role"))
    nm = (sel.where(ok % 5 == 0)
          .select(cust.alias("relation_id"),
                  (ok % 2000 + 1).alias("member_id"),
                  F.lit("N").alias("member_type"),
                  F.lit("stop").alias("member_role")))
    w = Window.partitionBy("relation_id").orderBy(F.desc("member_type"),
                                                  "member_id")
    members = (wm.unionByName(nm)
               .withColumn("sequence_id",
                           (F.row_number().over(w) - 1).cast("int")))
    return rels, members


_RELS_SQL = """
rels AS (
  SELECT c_custkey AS id,
         CASE WHEN c_custkey % 3 = 0 THEN 'multipolygon' ELSE 'route' END AS rtype,
         CASE c_custkey % 4 WHEN 0 THEN 'road' WHEN 1 THEN 'bicycle'
                            WHEN 2 THEN 'hiking' WHEN 3 THEN 'bus' END AS route,
         'R' || c_custkey AS ref
  FROM customer WHERE c_custkey % 7 = 0)
"""

_RMEMB_SQL = """
rmemb AS (
  SELECT relation_id, member_id, member_type, member_role,
         CAST(ROW_NUMBER() OVER (PARTITION BY relation_id
              ORDER BY member_type DESC, member_id) - 1 AS INT) AS sequence_id
  FROM (
    SELECT o_custkey AS relation_id, o_orderkey AS member_id,
           'W' AS member_type,
           CASE o_orderkey % 3 WHEN 0 THEN '' WHEN 1 THEN 'forward'
                               WHEN 2 THEN 'backward' END AS member_role
    FROM orders WHERE o_custkey % 7 = 0
    UNION ALL
    SELECT o_custkey, o_orderkey % 2000 + 1, 'N', 'stop'
    FROM orders WHERE o_custkey % 7 = 0 AND o_orderkey % 5 = 0))
"""


SQL_PBF_ROUNDTRIP_WAYS = _cte(_WTAGS_SQL, _WN_SQL, _RELS_SQL, _RMEMB_SQL) + """
, w_pay AS (
  SELECT way_id, string_agg(CAST(node_id AS VARCHAR), ','
                            ORDER BY sequence_id) AS payload
  FROM wn GROUP BY way_id),
w_tags AS (
  SELECT way_id,
         COALESCE(list_aggr(list_sort(list_filter(
           ['highway=' || highway, 'oneway=' || oneway,
            'maxspeed=' || maxspeed, 'access=' || access,
            'service=' || service, 'bicycle=' || bicycle,
            'foot=' || foot, 'footway=' || footway,
            'motor_vehicle=' || motor_vehicle, 'bus=' || bus,
            'cycleway=' || cycleway],
           x -> x IS NOT NULL)), 'string_agg', '&'), '') AS tags_kv
  FROM wtags),
r_pay AS (
  SELECT relation_id,
         string_agg(member_type || ':' || CAST(member_id AS VARCHAR)
                    || ':' || member_role, ',' ORDER BY sequence_id) AS payload
  FROM rmemb GROUP BY relation_id),
r_tags AS (
  SELECT id,
         COALESCE(list_aggr(list_sort(list_filter(
           ['type=' || rtype, 'route=' || route, 'ref=' || ref,
            'network=' || CASE id % 5 WHEN 0 THEN 'lcn' WHEN 1 THEN 'rcn' END],
           x -> x IS NOT NULL)), 'string_agg', '&'), '') AS tags_kv
  FROM rels)
SELECT 'W' AS kind, t.way_id AS id, p.payload, t.tags_kv
FROM w_tags t JOIN w_pay p USING (way_id)
UNION ALL
SELECT 'R', r.id, COALESCE(p.payload, ''), r.tags_kv
FROM r_tags r LEFT JOIN r_pay p ON p.relation_id = r.id
"""



def q_osm_cdc_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's osmosisUpdate loop end-to-end: a deterministic
    changeset (delete every 14th way, retag every other 7th way's
    maxspeed) merges into the ways snapshot via ``apply_actions``, then a
    ``tags_summary`` table re-derives from the updated snapshot — CDC
    feed → MERGE → derived-table maintenance in one gate."""
    from ..operators.tags import tag_cross_summary
    from ..streaming.actions import apply_actions

    # The whole gate (changeset synthesis, MERGE, crosstab) touches
    # only (id, tags) — and the oracle's CTE chain is likewise built on
    # the geometry-free wtags view — so feed it derive_ways_tags instead
    # of the assembled ways table, whose nodes/linestring collect_list
    # subplan was re-inlined at each of the snapshot's three plan
    # references; lazily checkpointed so the three references share one
    # materialization without a build-time barrier (same recipe as
    # q_osm_explore_summary). sf0.01, 3 warm reps: 23 → 8 jobs,
    # build+exec 1.5 s → 1.0 s.
    ways = derive_ways_tags(spark, sf_dir).localCheckpoint(eager=False)
    wid = F.col("id")
    touched = ways.where(wid % 7 == 0)
    actions = touched.select(
        F.lit("W").alias("data_type"),
        F.when(wid % 14 == 0, F.lit("D")).otherwise(F.lit("M"))
        .alias("action"),
        wid.alias("id"))
    changed = (touched.where(wid % 14 != 0)
               .withColumn("tags", F.map_concat(
                   F.map_filter("tags", lambda k, v: k != "maxspeed"),
                   F.create_map(F.lit("maxspeed"), F.lit("70")))))
    updated = apply_actions(ways, actions, changed, "W", id_col="id")
    return tag_cross_summary(updated, "highway", "maxspeed")


SQL_OSM_CDC_TAGS = _cte(_WTAGS_SQL, _WN_SQL) + """
, w AS (SELECT * FROM wtags WHERE way_id IN (SELECT way_id FROM wn)),
updated AS (
  SELECT way_id, highway,
         CASE WHEN way_id % 7 = 0 THEN '70' ELSE maxspeed END AS maxspeed
  FROM w WHERE way_id % 14 != 0)
SELECT highway, maxspeed, CAST(COUNT(*) AS BIGINT) AS count
FROM updated WHERE highway IS NOT NULL
GROUP BY highway, maxspeed
"""


def q_osm_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed column statistics for way_nodes — the table whose
    n_distinct the reference hand-sets from June-2013 folklore
    (``pgsnapshot_schema_0.6.sql:146-170``). exact distincts so the
    oracle matches value-for-value."""
    from ..operators.profile import table_profile

    d = derive_osm(spark, sf_dir)
    return table_profile(d["way_nodes"], exact_distinct=True)


SQL_OSM_TABLE_PROFILE = _cte(_WN_SQL) + """
, n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM wn)
SELECT col AS "column", n_rows, n_nulls,
       ROUND(CAST(n_nulls AS DOUBLE) / n_rows, 6) AS null_frac,
       n_distinct,
       ROUND(-CAST(n_distinct AS DOUBLE) / n_rows, 6) AS distinct_ratio,
       min_repr, max_repr
FROM (
  SELECT 'way_id' AS col, n_rows,
         (SELECT CAST(COUNT(*) - COUNT(way_id) AS BIGINT) FROM wn) AS n_nulls,
         (SELECT CAST(COUNT(DISTINCT way_id) AS BIGINT) FROM wn) AS n_distinct,
         (SELECT MIN(CAST(way_id AS VARCHAR)) FROM wn) AS min_repr,
         (SELECT MAX(CAST(way_id AS VARCHAR)) FROM wn) AS max_repr
  FROM n
  UNION ALL
  SELECT 'node_id', n_rows,
         (SELECT CAST(COUNT(*) - COUNT(node_id) AS BIGINT) FROM wn),
         (SELECT CAST(COUNT(DISTINCT node_id) AS BIGINT) FROM wn),
         (SELECT MIN(CAST(node_id AS VARCHAR)) FROM wn),
         (SELECT MAX(CAST(node_id AS VARCHAR)) FROM wn)
  FROM n
  UNION ALL
  SELECT 'sequence_id', n_rows,
         (SELECT CAST(COUNT(*) - COUNT(sequence_id) AS BIGINT) FROM wn),
         (SELECT CAST(COUNT(DISTINCT sequence_id) AS BIGINT) FROM wn),
         (SELECT MIN(CAST(sequence_id AS VARCHAR)) FROM wn),
         (SELECT MAX(CAST(sequence_id AS VARCHAR)) FROM wn)
  FROM n)
"""


def q_osm_explore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the ``tags_summary`` catalog: five representative tables
    from ``tags_summary_catalog`` — plain value summary, the NULL-group
    service summary, the both-keys oneway crosstab, the denylisted
    key/value explode, and a node POI summary — unioned into one
    (tbl, tag, value, count) result.

    Stage-budget floor (measured sf0.1, median-of-3, before the lazy
    checkpoint below): ~2.5 s =
    ways_tags localCheckpoint 1.1 s (orders scan + filtered-map build +
    way_ids semi-join, materialized once so five branches read it
    instead of recomputing the join 5×; the filtered map is load-bearing
    — the explode branch must not see absent keys, so the probe-only
    CreateMap elision used by osm_mode_flags is not available here) +
    the 5-branch union job 1.2 s (five groupBy-counts over the 1.5 M-row
    checkpointed frame, AQE-coalesced) + nodes branch 0.23 s. vs
    DuckDB's ~1.1 s the gap is the checkpoint materialize/re-read plus
    ~2 job barriers — overhead, not a scale-killer: at 100 TB the
    checkpoint amortizes across 22 catalog tables (this gate unions 5)
    and every branch is one map-side-combined count keyed on low-
    cardinality tag values."""
    from ..operators.tags import tags_summary_catalog

    d = derive_osm(spark, sf_dir)
    # the four ways branches only read tags, so feed the geometry-free
    # (id, tags) projection — no collect_list assembly — and cache it: it
    # is one (id, map) row per way (tiny vs the array-carrying ways table,
    # whose cache measured as a net loss here), and the semi-join against
    # way_nodes then runs once instead of once per branch (mirrors the
    # oracle's wtags∩wn CTE)
    # ordered=False: the union + order-insensitive hash discards each
    # branch's presentation sort — 5 whole stage barriers saved.
    # localCheckpoint over cache: same 5-way reuse, but deserialized
    # blocks skip the columnar-serialize step a map column pays in the
    # InMemoryRelation (measured ~10% on this gate at sf0.1).
    # eager=False: an eager checkpoint ran the wtags subplan as
    # its own job BEFORE the union job (a full barrier: nothing else
    # could overlap it). Lazily-checkpointed, the first branch stage to
    # touch a partition computes-and-persists it and concurrent stages
    # block on the BlockManager's per-block lock rather than recompute,
    # so the five branches still share one materialization but the
    # barrier is gone (A/B at sf0.1, 5-rep build+noop median:
    # 2.18 s → 2.08 s; same result, one fewer job).
    cat = tags_summary_catalog(d["nodes"],
                               derive_ways_tags(spark, sf_dir)
                               .localCheckpoint(eager=False),
                               ordered=False)
    lit = F.lit

    def shaped(name: str, tag_col, value_col) -> DataFrame:
        return cat[name].select(
            lit(name).alias("tbl"), tag_col.alias("tag"),
            value_col.alias("value"), F.col("count"))

    parts = [
        shaped("highway_values", lit("highway"), F.col("highway")),
        shaped("amenity_nodes_values", lit("amenity"), F.col("amenity")),
        shaped("highway_service", lit("service"), F.col("service")),
        shaped("highway_oneway_values", F.col("highway"), F.col("oneway")),
        shaped("highway_tags_values", F.col("tag"), F.col("value")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_OSM_EXPLORE_SUMMARY = _cte(_WTAGS_SQL, _NODES_SQL, _WN_SQL) + """
, w AS (  -- ways exist only where way_nodes exist (the Spark `ways` table)
  SELECT * FROM wtags WHERE way_id IN (SELECT way_id FROM wn)),
kv AS (
  SELECT k AS tag, v AS value
  FROM (UNPIVOT (SELECT way_id, highway, oneway, maxspeed, access, service,
                        bicycle, foot, footway, motor_vehicle, bus, cycleway
                 FROM w WHERE highway IS NOT NULL)
        ON highway, oneway, maxspeed, access, service, bicycle, foot,
           footway, motor_vehicle, bus, cycleway
        INTO NAME k VALUE v))
SELECT 'highway_values' AS tbl, 'highway' AS tag, highway AS value,
       COUNT(*) AS count
FROM w WHERE highway IS NOT NULL GROUP BY highway
UNION ALL
SELECT 'amenity_nodes_values', 'amenity', amenity, COUNT(*)
FROM nodes_d WHERE amenity IS NOT NULL GROUP BY amenity
UNION ALL
SELECT 'highway_service', 'service', service, COUNT(*)
FROM w WHERE highway = 'service' GROUP BY service
UNION ALL
SELECT 'highway_oneway_values', highway, oneway, COUNT(*)
FROM w WHERE highway IS NOT NULL AND oneway IS NOT NULL
GROUP BY highway, oneway
UNION ALL
SELECT 'highway_tags_values', tag, value, COUNT(*)
FROM kv GROUP BY tag, value
"""


def q_osm_relation_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the relations surface: route relations with ordered member
    ways joined end-to-end against the real ``car_network`` operator
    output.

    Stage-budget floor (measured sf0.1, warm, before the edge-id input
    below): ~2.2 s ≈ 6 job
    barriers — relation/member synthesis (two dim-table scans + tag
    assembly, ~0.8 s measured alone), the car_network derivation's tag
    parse over ways, the distinct edge-id build, the membership
    left-join, the ordered collect_list aggregate, and the final
    routes left-join — vs DuckDB's 150 ms in-process CTE chain. Every
    exchange is keyed on relation_id or member_id (no skew; route
    relations have bounded membership), the edge-id probe side is
    DISTINCT-shrunk before the join, and the sf0.01→0.1 bench delta is
    flat — fixed per-stage overhead, not data work.

    The summary consumes the network ONLY as the edge-id set
    (``relation_route_summary`` projects ``edge_id`` and distincts it),
    so feed it ``derive_car_way_ids`` — the same include/exclude rules
    compiled over plain tag columns — instead of the full
    ``car_network`` output, whose way-assembly subplan (sequence window
    + nodes join + collect_list + linestring build) column pruning
    cannot remove."""
    rels, members = derive_relations(t(spark, sf_dir, "customer"),
                                     t(spark, sf_dir, "orders"))
    return relation_route_summary(rels, members,
                                  derive_car_way_ids(spark, sf_dir))


SQL_OSM_RELATION_MEMBERS = _cte(_WTAGS_SQL, _WN_SQL, _CN_SQL, _RELS_SQL,
                                _RMEMB_SQL) + """
, per_rel AS (
  SELECT relation_id,
         COUNT(*) AS n_members,
         CAST(SUM(CASE WHEN member_type = 'W' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_way_members,
         COUNT(DISTINCT CASE WHEN member_type = 'W'
                              AND member_id IN (SELECT edge_id FROM cn)
                             THEN member_id END) AS n_net_ways,
         CAST(SUM(CASE WHEN member_role = 'forward' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_forward,
         COALESCE(string_agg(CASE WHEN member_type = 'W'
                                  THEN CAST(member_id AS VARCHAR) END,
                             ',' ORDER BY sequence_id), '') AS way_list
  FROM rmemb GROUP BY relation_id)
SELECT r.id AS relation_id, r.route, r.ref,
       COALESCE(p.n_members, 0) AS n_members,
       COALESCE(p.n_way_members, 0) AS n_way_members,
       COALESCE(p.n_net_ways, 0) AS n_net_ways,
       COALESCE(p.n_forward, 0) AS n_forward,
       COALESCE(p.way_list, '') AS way_list
FROM rels r LEFT JOIN per_rel p ON r.id = p.relation_id
WHERE r.rtype = 'route'
"""


QUERIES = {
    "pbf_roundtrip": q_pbf_roundtrip,
    "pbf_roundtrip_ways": q_pbf_roundtrip_ways,
    "osm_relation_members": q_osm_relation_members,
    "osm_explore_summary": q_osm_explore_summary,
    "osm_table_profile": q_osm_table_profile,
    "osm_cdc_tags": q_osm_cdc_tags,
    "osm_car_network": q_osm_car_network,
    "osm_shared_nodes": q_osm_shared_nodes,
    "osm_merge_limits": q_osm_merge_limits,
    "osm_merged_network": q_osm_merged_network,
    "osm_merged_incremental": q_osm_merged_incremental,
    "osm_directed_graph": q_osm_directed_graph,
    "osm_components": q_osm_components,
    "osm_graph_quality": q_osm_graph_quality,
    "osm_shortest_hops": q_osm_shortest_hops,
    "osm_shortest_km": q_osm_shortest_km,
    "osm_shortest_km_radius": q_osm_shortest_km_radius,
    "osm_access_km": q_osm_access_km,
    "osm_turn_restricted": q_osm_turn_restricted,
    "osm_turn_restricted_rel": q_osm_turn_restricted_rel,
    "osm_turn_restricted_via_way": q_osm_turn_restricted_via_way,
    "osm_reachability": q_osm_reachability,
    "osm_betweenness": q_osm_betweenness,
    "osm_betweenness_exact": q_osm_betweenness_exact,
    "osm_planar_length": q_osm_planar_length,
    "osm_harmonic": q_osm_harmonic,
    "osm_pagerank": q_osm_pagerank,
    "osm_triangles": q_osm_triangles,
    "osm_kcore": q_osm_kcore,
    "osm_communities": q_osm_communities,
    "osm_modularity": q_osm_modularity,
    "osm_louvain": q_osm_louvain,
    "osm_louvain_refined": q_osm_louvain_refined,
    "osm_louvain_weighted": q_osm_louvain_weighted,
    "osm_modularity_louvain": q_osm_modularity_louvain,
    "osm_ppr": q_osm_ppr,
    "osm_mode_flags": q_osm_mode_flags,
    "osm_complete_network": q_osm_complete_network,
    "osm_complete_merged": q_osm_complete_merged,
    "osm_highway_maxspeed": q_osm_highway_maxspeed,
    "osm_pois": q_osm_pois,
    "osm_poi_nearest": q_osm_poi_nearest,
    "osm_tag_keys": q_osm_tag_keys,
    "osm_network_nodes": q_osm_network_nodes,
    "osm_spatial_pairs": q_osm_spatial_pairs,
    "osm_geometric_blades": q_osm_geometric_blades,
    "osm_geometric_split": q_osm_geometric_split,
    "osm_create_topology": q_osm_create_topology,
}

ORACLES = {
    "pbf_roundtrip": SQL_PBF_ROUNDTRIP,
    "pbf_roundtrip_ways": SQL_PBF_ROUNDTRIP_WAYS,
    "osm_relation_members": SQL_OSM_RELATION_MEMBERS,
    "osm_explore_summary": SQL_OSM_EXPLORE_SUMMARY,
    "osm_table_profile": SQL_OSM_TABLE_PROFILE,
    "osm_cdc_tags": SQL_OSM_CDC_TAGS,
    "osm_tag_keys": SQL_OSM_TAG_KEYS,
    "osm_spatial_pairs": SQL_OSM_SPATIAL_PAIRS,
    "osm_geometric_blades": SQL_OSM_GEOMETRIC_BLADES,
    "osm_geometric_split": SQL_OSM_GEOMETRIC_SPLIT,
    "osm_create_topology": SQL_OSM_CREATE_TOPOLOGY,
    "osm_car_network": SQL_OSM_CAR_NETWORK,
    "osm_shared_nodes": SQL_OSM_SHARED_NODES,
    "osm_merge_limits": SQL_OSM_MERGE_LIMITS,
    "osm_merged_network": SQL_OSM_MERGED_NETWORK,
    "osm_merged_incremental": SQL_OSM_MERGED_INCREMENTAL,
    "osm_directed_graph": SQL_OSM_DIRECTED_GRAPH,
    "osm_components": SQL_OSM_COMPONENTS,
    "osm_graph_quality": SQL_OSM_GRAPH_QUALITY,
    "osm_shortest_hops": SQL_OSM_SHORTEST_HOPS,
    "osm_shortest_km": _sql_osm_shortest_km(),
    "osm_shortest_km_radius": _sql_osm_shortest_km(),
    "osm_access_km": _sql_osm_shortest_km(k_sources=_ACCESS_SOURCES),
    "osm_turn_restricted": _sql_osm_turn_restricted(),
    "osm_turn_restricted_rel": _sql_osm_turn_restricted_rel(),
    "osm_turn_restricted_via_way": _sql_osm_turn_restricted_via_way(),
    "osm_reachability": _sql_osm_reachability(),
    "osm_betweenness": _sql_osm_betweenness(),
    "osm_betweenness_exact": _sql_osm_betweenness_exact(),
    "osm_planar_length": _sql_osm_planar_length(),
    "osm_harmonic": _sql_osm_harmonic(),
    "osm_pagerank": _sql_osm_pagerank(),
    "osm_triangles": SQL_OSM_TRIANGLES,
    "osm_kcore": _sql_osm_kcore(),
    "osm_communities": _sql_osm_communities(),
    "osm_modularity": _sql_osm_modularity(),
    "osm_louvain": _sql_osm_louvain(),
    "osm_louvain_refined": _sql_osm_louvain(refined=True),
    "osm_louvain_weighted": _sql_osm_louvain(weighted=True),
    "osm_modularity_louvain": _sql_osm_modularity_louvain(),
    "osm_ppr": _sql_osm_pagerank(k_seeds=_PPR_SEEDS),
    "osm_mode_flags": SQL_OSM_MODE_FLAGS,
    "osm_complete_network": _sql_osm_complete_network(),
    "osm_complete_merged": _sql_osm_complete_merged(),
    "osm_highway_maxspeed": SQL_OSM_HIGHWAY_MAXSPEED,
    "osm_pois": SQL_OSM_POIS,
    "osm_poi_nearest": SQL_OSM_POI_NEAREST,
    "osm_network_nodes": SQL_OSM_NETWORK_NODES,
}
