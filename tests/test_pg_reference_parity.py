"""Run the REFERENCE'S OWN SQL on live PostgreSQL and match it against
the Spark operators.

The DuckDB oracles prove engine-vs-engine parity on translated SQL; this
suite is the stronger claim: the reference's scripts are executed
**verbatim from the reference checkout** on PostgreSQL — the engine they
were written for — over the same derived world, and the results must
equal the Spark operators row for row:

- ``osm-explore.sql`` (whole file): all ~24 tags_summary tables vs
  ``tags_summary_catalog``;
- ``general-functions.sql`` (whole file): get_ints_from_text, the
  array-append median aggregate;
- ``osm-road-graphs.sql`` (geometry-free prefix): car_network include
  filter + exclusion DELETE vs ``car_network``, maxspeed summaries vs
  ``highway_maxspeed_values`` / ``median_by_group``, the median
  UPDATE…FROM vs ``impute_speed_limit``;
- ``osm-complete-graphs.sql`` (whole file): complete filter,
  PERCENTILE_CONT imputation, the 13-statement three-mode UPDATE cascade
  (mixed AND/OR precedence included) vs ``with_mode_flags``, and the
  endpoint network-nodes semi-join vs ``network_nodes``;
- ``osm-pois-extract.sql`` (whole file): the per-key INSERT chains vs
  ``pois_from_nodes`` / ``pois_from_ways``;
- ``osm-road-graphs-fix.sql`` (geometry-free topological prefix +
  Approach 2's nodes_to_merge): the reference's own split-pipeline
  stages vs the topology operators — quirks pinned faithfully
  (ways_length's ``sequence_id > 1``, nodes_to_merge's mixed
  car/highway populations);
- the weighted_median plpgsql family vs
  ``stats.weighted_median(reference_quirks=True)`` — live behavior
  reproduced bit for bit, including the first-row NULL-prevsum
  exclusion and the grouped max-over-straddle convention.

No reference code is copied into this repo: the scripts are read from
``REF_DIR`` at test runtime and the suite skips when the checkout or a
live server (``OSM_PG_TEST_DSN``) is absent. PostGIS is not required —
``ST_Length``/``ST_Transform`` are stubbed as float8 identities and the
``linestring`` column is NULL, which only blanks the ``length`` column
(geodesic length has its own gates: osm_planar_length, haversine).

Data flows Spark→PostgreSQL through :mod:`sources.pg_copy` (hstore and
bigint[] literals staged as text), so this doubles as an end-to-end
COPY-sink test with real nested-ish payloads.
"""

import os
from pathlib import Path

import pytest

from osm_pg_etl_spark.sources.pg_copy import _psql, copy_write, pg_available

DSN = os.environ.get("OSM_PG_TEST_DSN", "")
REF_DIR = Path(os.environ.get("OSM_REF_DIR", "/root/reference"))
SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not (DSN and pg_available(DSN) and
         (REF_DIR / "osm-road-graphs.sql").exists() and
         os.path.isdir(SF_DIR)),
    reason="needs live PostgreSQL (OSM_PG_TEST_DSN), the reference "
           "checkout (OSM_REF_DIR), and the sf0.001 testdata")


from osm_pg_etl_spark.functions.hstore import (  # noqa: E402
    hstore_literal as _hstore_literal)


def _load_world_into_pg(spark):
    """Stage the derived ways/nodes/relations into PostgreSQL through the
    COPY sink (hstore and bigint[] as text literals, typed on arrival);
    returns the Spark-side frames for the comparisons."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.plans.common import t
    from osm_pg_etl_spark.plans.osm_derived import (
        derive_osm, derive_relations)

    d = derive_osm(spark, SF_DIR)
    ways = d["ways"]
    staged = ways.select(
        "id",
        _hstore_literal(F.col("tags")).alias("tags_h"),
        F.concat(F.lit("{"),
                 F.array_join(F.transform("nodes",
                                          lambda x: x.cast("string")), ",",
                              null_replacement="NULL"),
                 F.lit("}")).alias("nodes_s"))
    copy_write(staged, DSN, "ways_staging", mode="overwrite")
    _psql(DSN, "DROP TABLE IF EXISTS ways CASCADE")
    _psql(DSN, "CREATE TABLE ways AS SELECT id, tags_h::hstore AS tags, "
               "nodes_s::bigint[] AS nodes, NULL::float8 AS linestring "
               "FROM ways_staging")

    nodes = d["nodes"]
    copy_write(nodes.select(
        "id", _hstore_literal(F.col("tags")).alias("tags_h")),
        DSN, "nodes_staging", mode="overwrite")
    _psql(DSN, "DROP TABLE IF EXISTS nodes CASCADE")
    _psql(DSN, "CREATE TABLE nodes AS SELECT id, tags_h::hstore AS tags, "
               "NULL::float8 AS geom FROM nodes_staging")

    rels, _members = derive_relations(t(spark, SF_DIR, "customer"),
                                      t(spark, SF_DIR, "orders"))
    copy_write(rels.select(
        "id", _hstore_literal(F.col("tags")).alias("tags_h")),
        DSN, "relations_staging", mode="overwrite")
    _psql(DSN, "DROP TABLE IF EXISTS relations CASCADE")
    _psql(DSN, "CREATE TABLE relations AS SELECT id, tags_h::hstore AS "
               "tags FROM relations_staging")
    return ways, nodes, rels


def _reference_sql_chunks() -> tuple[str, str]:
    """The geometry-free prefix of osm-road-graphs.sql, split at the
    median-UPDATE so the pre-impute table can be snapshotted: chunk 1 =
    CREATE car_network + exclusion DELETE + maxspeed_values summary,
    chunk 2 = median table + imputation UPDATE. Markers are the file's
    own section comments; a loud failure here means the reference layout
    changed, not that parity broke."""
    text = (REF_DIR / "osm-road-graphs.sql").read_text()
    m_median = text.find("-- Create a table to summarise median")
    m_nodes = text.find("-- Create network nodes table")
    assert 0 < m_median < m_nodes, "reference script layout changed"
    return text[:m_median], text[m_median:m_nodes]


@pytest.fixture(scope="module")
def pg_reference(spark):
    """Load the derived world, install the reference's functions, then run
    its three geometry-free(-stubbed) scripts in workflow order: explore →
    road-graphs (through the median UPDATE) → complete-graphs (entire
    file). Yields the Spark-side (ways, nodes, relations); tests read the
    PG tables the scripts produced."""
    ways, nodes, rels = _load_world_into_pg(spark)
    # clean slate for re-runs (the reference's CREATE SCHEMA/AGGREGATE
    # are not idempotent)
    _psql(DSN, "DROP SCHEMA IF EXISTS graphs CASCADE")
    _psql(DSN, "DROP SCHEMA IF EXISTS tags_summary CASCADE")
    _psql(DSN, "CREATE EXTENSION IF NOT EXISTS hstore")
    _psql(DSN, "DROP AGGREGATE IF EXISTS median(anyelement)")
    for sig in ("_final_median(anyarray)", "get_ints_from_text(text)",
                "array_reverse(anyarray)",
                "weighted_median(regclass,varchar,varchar)",
                "weighted_median_by_group(regclass,varchar,varchar,varchar)",
                "st_transform(float8,int)", "st_length(float8)"):
        _psql(DSN, f"DROP FUNCTION IF EXISTS {sig}")
    # PostGIS stand-ins: identity on the NULL linestring column — only
    # the (unchecked) length column flows through them
    _psql(DSN, "CREATE FUNCTION ST_Transform(float8, int) RETURNS float8 "
               "AS 'SELECT $1' LANGUAGE SQL IMMUTABLE")
    _psql(DSN, "CREATE FUNCTION ST_Length(float8) RETURNS float8 "
               "AS 'SELECT $1' LANGUAGE SQL IMMUTABLE")
    # the reference was written for PostgreSQL <= 13, where array_append
    # was (anyarray, anyelement); PG 14 changed it to anycompatible*,
    # which CREATE AGGREGATE's exact-signature lookup no longer matches.
    # A thin polymorphic shim restores the old signature.
    _psql(DSN, "DROP FUNCTION IF EXISTS "
               "public.array_append(anyarray, anyelement)")
    _psql(DSN, "CREATE FUNCTION public.array_append(anyarray, anyelement) "
               "RETURNS anyarray AS 'SELECT pg_catalog.array_append($1, $2)' "
               "LANGUAGE SQL IMMUTABLE")
    _psql(DSN, "DROP FUNCTION IF EXISTS st_astext(float8)")
    _psql(DSN, "CREATE FUNCTION ST_AsText(float8) RETURNS text "
               "AS 'SELECT $1::text' LANGUAGE SQL IMMUTABLE")
    # osm-explore.sql, verbatim (it CREATEs tags_summary itself) —
    # general-functions.sql's median self-test needs that schema, so
    # explore runs first
    _psql(DSN, (REF_DIR / "osm-explore.sql").read_text())
    # the reference's helper functions, verbatim
    _psql(DSN, (REF_DIR / "general-functions.sql").read_text())
    chunk1, chunk2 = _reference_sql_chunks()
    _psql(DSN, chunk1)
    _psql(DSN, "CREATE TABLE graphs.car_network_pre AS "
               "SELECT * FROM graphs.car_network")
    _psql(DSN, chunk2)
    # snapshot the car-based maxspeed tables before complete-graphs
    # overwrites them with its complete_network versions
    _psql(DSN, "CREATE TABLE tags_summary.car_maxspeed_values_snap AS "
               "SELECT * FROM tags_summary.highway_maxspeed_values")
    _psql(DSN, "CREATE TABLE tags_summary.car_maxspeed_median_snap AS "
               "SELECT * FROM tags_summary.highway_maxspeed_median")
    # osm-complete-graphs.sql end to end, verbatim: complete_network,
    # PERCENTILE_CONT median imputation, network-nodes table, and the
    # 13-statement three-mode UPDATE cascade
    _psql(DSN, (REF_DIR / "osm-complete-graphs.sql").read_text())
    return ways, nodes, rels


def _pg_rows(sql: str) -> list[tuple]:
    """Query rows as tuples of strings via COPY TO STDOUT (tab-separated,
    unambiguous; NULLs are '' via the explicit COALESCE the callers
    use)."""
    out = _psql(DSN, f"COPY ({sql}) TO STDOUT")
    return [tuple(line.split("\t")) for line in out.splitlines()]


def _edge_rows(df) -> list[tuple]:
    return sorted(
        (str(r["edge_id"]), str(r["start_node"]), str(r["end_node"]),
         r["highway"] or "", r["oneway"] or "",
         "" if r["speed_limit"] is None else str(r["speed_limit"]))
        for r in df.collect())


_EDGE_SQL = ("SELECT edge_id, start_node, end_node, "
             "COALESCE(highway,''), COALESCE(oneway,''), "
             "COALESCE(speed_limit::text,'') FROM {} ORDER BY edge_id")


def test_car_network_filter_matches_reference_engine(spark, pg_reference):
    """Include-filter + exclusion DELETE + first-int speed parsing: the
    pre-impute graphs.car_network from the reference's own SQL on
    PostgreSQL equals operators.network.car_network."""
    from osm_pg_etl_spark.operators.network import car_network

    got = _edge_rows(car_network(pg_reference[0]))
    want = sorted(_pg_rows(_EDGE_SQL.format("graphs.car_network_pre")))
    assert len(got) > 100  # non-degenerate corpus
    assert got == want


def test_median_imputation_matches_reference_engine(spark, pg_reference):
    """The reference's median aggregate + UPDATE…FROM, run on PostgreSQL,
    equals impute_speed_limit — including the float8→int4 assignment
    rounding."""
    from osm_pg_etl_spark.operators.network import (
        car_network, impute_speed_limit)

    got = _edge_rows(impute_speed_limit(car_network(pg_reference[0])))
    want = sorted(_pg_rows(_EDGE_SQL.format("graphs.car_network")))
    assert got == want


def test_maxspeed_values_matches_reference_engine(spark, pg_reference):
    from osm_pg_etl_spark.operators.network import (
        car_network, highway_maxspeed_values)

    got = sorted(
        (r["highway"] or "",
         "" if r["speed_limit"] is None else str(r["speed_limit"]),
         str(r["count"]))
        for r in highway_maxspeed_values(car_network(pg_reference[0])).collect())
    want = sorted(_pg_rows(
        "SELECT COALESCE(highway,''), COALESCE(speed_limit::text,''), "
        "count FROM tags_summary.car_maxspeed_values_snap"))
    assert got == want


def test_median_table_matches_reference_engine(spark, pg_reference):
    """The reference's array-append median aggregate vs
    stats.median_by_group, to 6 decimals."""
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.stats import median_by_group

    med = median_by_group(car_network(pg_reference[0]),
                          ["highway"], "speed_limit", alias="median")
    got = sorted(
        (r["highway"] or "",
         "" if r["median"] is None else f"{float(r['median']):.6f}")
        for r in med.collect())
    want = sorted(
        (h, "" if m == "" else f"{float(m):.6f}")
        for h, m in _pg_rows(
            "SELECT COALESCE(highway,''), COALESCE(median::text,'') "
            "FROM tags_summary.car_maxspeed_median_snap"))
    assert got == want


def test_mode_flag_cascade_matches_reference_engine(spark, pg_reference):
    """osm-complete-graphs.sql end to end on PostgreSQL — complete
    filter, PERCENTILE_CONT median imputation, and the 13-statement
    three-mode UPDATE cascade (including its mixed AND/OR precedence,
    which compile_update_cascade must reproduce exactly) — vs
    complete_network → impute_speed_limit → with_mode_flags."""
    from osm_pg_etl_spark.operators.network import (
        complete_network, impute_speed_limit, with_mode_flags)

    ways, _nodes, _rels = pg_reference
    flagged = with_mode_flags(impute_speed_limit(complete_network(ways)))
    got = sorted(
        (str(r["edge_id"]), str(r["start_node"]), str(r["end_node"]),
         r["highway"] or "", r["oneway"] or "",
         "" if r["speed_limit"] is None else str(r["speed_limit"]),
         "" if r["car"] is None else str(r["car"]),
         "" if r["pedestrian"] is None else str(r["pedestrian"]),
         "" if r["bicycle"] is None else str(r["bicycle"]))
        for r in flagged.collect())
    want = sorted(_pg_rows(
        "SELECT edge_id, start_node, end_node, COALESCE(highway,''), "
        "COALESCE(oneway,''), COALESCE(speed_limit::text,''), "
        "COALESCE(car::text,''), COALESCE(pedestrian::text,''), "
        "COALESCE(bicycle::text,'') FROM graphs.complete_network"))
    assert len(got) > 300
    # the cascade actually fires on this corpus — all three flags take
    # both 0 and 1 somewhere
    for i in (6, 7, 8):
        assert {"0", "1"} <= {r[i] for r in got}
    assert got == want


def test_network_nodes_matches_reference_engine(spark, pg_reference):
    """graphs.complete_network_nodes (endpoint semi-join) vs
    operators.graphs.network_nodes — id sets must agree (coords are
    stubbed to NULL server-side, so only ids are comparable)."""
    from osm_pg_etl_spark.operators.graphs import network_nodes
    from osm_pg_etl_spark.operators.network import complete_network

    ways, nodes, _rels = pg_reference
    got = sorted(str(r["node_id"]) for r in
                 network_nodes(nodes, complete_network(ways)).collect())
    want = sorted(r[0] for r in _pg_rows(
        "SELECT node_id FROM graphs.complete_network_nodes"))
    assert len(got) > 100
    assert got == want


def test_explore_catalog_matches_reference_engine(spark, pg_reference):
    """Every table osm-explore.sql creates on PostgreSQL vs the
    corresponding tags_summary_catalog DataFrame — compared as unordered
    row multisets, column order taken from the script's projections."""
    from osm_pg_etl_spark.operators.tags import tags_summary_catalog

    ways, nodes, rels = pg_reference
    cat = tags_summary_catalog(nodes, ways, relations=rels, ordered=False)
    pg_tables = {r[0] for r in _pg_rows(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 'tags_summary'")}
    compared, total_rows = 0, 0
    for name, df in cat.items():
        assert name in pg_tables, f"explore script lacks {name}"
        cols = df.columns
        # match columns by POSITION: CREATE TABLE AS preserves the
        # script's projection order, but a few names differ (the script
        # calls highway_service's value column "tag")
        pg_cols = [r[0] for r in _pg_rows(
            "SELECT column_name FROM information_schema.columns "
            f"WHERE table_schema='tags_summary' AND table_name='{name}' "
            "ORDER BY ordinal_position")]
        assert len(pg_cols) == len(cols), f"arity mismatch in {name}"
        sel = ", ".join(f'COALESCE("{c}"::text,\'\')' for c in pg_cols)
        want = sorted(_pg_rows(
            f"SELECT {sel} FROM tags_summary.{name}"))
        got = sorted(
            tuple("" if r[c] is None else str(r[c]) for c in cols)
            for r in df.collect())
        assert got == want, f"mismatch in {name}"
        compared += 1
        total_rows += len(got)
    assert compared >= 20
    assert total_rows > 50


def test_pois_extract_matches_reference_engine(spark, pg_reference):
    """osm-pois-extract.sql whole-file on PostgreSQL (per-key
    INSERT…SELECT chains) vs the single explode-and-filter pass of
    pois_from_nodes / pois_from_ways — same long-format multiset,
    including the highway-exclusion on every way slice."""
    from osm_pg_etl_spark.operators.pois import (
        pois_from_nodes, pois_from_ways)

    ways, nodes, _rels = pg_reference
    _psql(DSN, (REF_DIR / "osm-pois-extract.sql").read_text())

    # min_rows: the synthetic ways carry only road tags (no
    # leisure/landuse/sport/amenity), so pois_ways is empty on BOTH
    # engines — the comparison still pins the highway-exclusion+explode
    # semantics; pois_nodes is the populated leg
    for df, id_col, table, min_rows in (
            (pois_from_nodes(nodes), "node_id", "graphs.pois_nodes", 20),
            (pois_from_ways(ways), "way_id", "graphs.pois_ways", 0)):
        got = sorted(
            (str(r[id_col]), r["key"], r["values"] or "", r["name"] or "")
            for r in df.collect())
        want = sorted(_pg_rows(
            f"SELECT {id_col}, key, COALESCE(values,''), "
            f"COALESCE(name,'') FROM {table}"))
        assert len(got) >= min_rows, table
        assert got == want, table


def test_weighted_median_quirks_match_reference_engine(spark, pg_reference):
    """The reference's plpgsql weighted_median / weighted_median_by_group
    (installed verbatim by the fixture) vs stats.weighted_median with
    reference_quirks=True — including the three measured quirks: the
    first row's NULL prevsum exclusion (zero-weight table averages rows
    2..n; a median landing on the minimum returns NULL/empty), and the
    grouped variant's max-over-straddle convention."""
    from osm_pg_etl_spark.operators.stats import weighted_median

    def pg_wm(table):
        out = _psql(DSN, f"SELECT weighted_median('{table}','x','w')")
        return out.strip() or None

    cases = {
        "wmq_normal": [(0.0, 325), (1.0, -100), (5.0, 50), (3.0, None),
                       (2.7, 1153), (2.0, 98)],
        "wmq_zero": [(0.0, 0), (1.0, 0), (5.0, 0), (3.0, 0), (2.7, 0),
                     (2.0, 0)],
        "wmq_min": [(1.0, 10), (2.0, 1), (3.0, 1)],
    }
    for table, rows in cases.items():
        _psql(DSN, f"DROP TABLE IF EXISTS {table}")
        vals = ", ".join(
            f"({x}, {'NULL' if w is None else w})" for x, w in rows)
        _psql(DSN, f"CREATE TABLE {table} AS SELECT * FROM (VALUES {vals}) "
                   "AS t(x, w)")
        want = pg_wm(table)
        df = spark.createDataFrame(rows, "x double, w int")
        got = weighted_median(df, "x", "w",
                              reference_quirks=True).collect()[0][0]
        if want is None:
            assert got is None, table
        else:
            assert got is not None and abs(got - float(want)) < 1e-9, table

    grows = [("a", 1.0, 2), ("a", 2.0, 2), ("a", 3.0, 4),
             ("b", 1.0, 1), ("b", 5.0, 3),
             ("c", 1.0, 10), ("c", 2.0, 1)]  # c: median on the minimum
    _psql(DSN, "DROP TABLE IF EXISTS wmq_grouped")
    vals = ", ".join(f"('{g}', {x}, {w})" for g, x, w in grows)
    _psql(DSN, "CREATE TABLE wmq_grouped AS SELECT * FROM "
               f"(VALUES {vals}) AS t(g, x, w)")
    want = sorted(_pg_rows(
        "SELECT group_id, weighted_median::float8 FROM "
        "weighted_median_by_group('wmq_grouped','x','w','g')"))
    dg = spark.createDataFrame(grows, "g string, x double, w int")
    got = sorted(
        (r["g"], str(float(r["weighted_median"])))
        for r in weighted_median(dg, "x", "w", group_cols=["g"],
                                 reference_quirks=True).collect())
    assert [g for g, _ in got] == [g for g, _ in want] == ["a", "b"]
    for (gg, gv), (wg, wv) in zip(got, want):
        assert abs(float(gv) - float(wv)) < 1e-9, (gg, gv, wv)


def test_topology_split_tables_match_reference_engine(spark, pg_reference):
    """The geometry-free topological prefix of osm-road-graphs-fix.sql —
    the reference's own specification of the split pipeline's first
    stages (shared nodes → way lengths → split nodes → merge limits with
    the dead-end INSERT) plus Approach 2's nodes_to_merge — run verbatim
    on PostgreSQL and compared against the topology operators. Pins two
    reference quirks faithfully: ways_length's ``sequence_id > 1`` filter
    (2-node ways drop out) and nodes_to_merge's mixed populations (rows
    from the CAR network, limits from the highway-presence set)."""
    from osm_pg_etl_spark.functions.maps import tag_has
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import (
        network_way_nodes, nodes_to_merge, shared_nodes, unnest_way_nodes,
        ways_length, ways_merge_limits, ways_split_nodes)
    from pyspark.sql import functions as F

    ways, _nodes, _rels = pg_reference
    # way_nodes as osmosis would have written it
    _psql(DSN, "DROP TABLE IF EXISTS way_nodes CASCADE")
    _psql(DSN, "CREATE TABLE way_nodes AS SELECT id AS way_id, n AS "
               "node_id, CAST(ord - 1 AS int) AS sequence_id FROM ways, "
               "unnest(nodes) WITH ORDINALITY AS u(n, ord)")
    text = (REF_DIR / "osm-road-graphs-fix.sql").read_text()
    m1 = text.find("-- Approach 1.")
    m2 = text.find("-- Approach 2.")
    m3 = text.find("-- merge ways into new linestrings")
    assert 0 < m1 < m2 < m3, "reference fix-script layout changed"
    _psql(DSN, "DROP SCHEMA IF EXISTS topology_summary CASCADE")
    _psql(DSN, text[:m1])          # the four topology tables
    _psql(DSN, text[m2:m3])        # nodes_to_merge

    wn = unnest_way_nodes(ways)
    hw_net = (ways.filter(tag_has("tags", "highway"))
              .select(F.col("id").alias("edge_id")))
    wn_hw = network_way_nodes(wn, hw_net)
    sh = shared_nodes(wn_hw)
    ln = ways_length(wn_hw)
    sp = ways_split_nodes(wn_hw)
    lim = ways_merge_limits(wn_hw)
    ntm = nodes_to_merge(network_way_nodes(wn, car_network(ways)), lim)

    comparisons = [
        (sh.select("node_id", "count"),
         "SELECT node_id, count FROM topology_summary.ways_shared_nodes"),
        (ln.select("way_id", "length", "node_id"),
         "SELECT way_id, length, node_id FROM "
         "topology_summary.ways_length"),
        (sp.select("way_id", "node_id", "sequence_id"),
         "SELECT way_id, node_id, sequence_id FROM "
         "topology_summary.ways_split_nodes"),
        (lim.select("way_id", "bottom_limit", "top_limit"),
         "SELECT way_id, bottom_limit, top_limit FROM "
         "topology_summary.ways_merge_limits"),
        (ntm.select("way_id", "group_id", "sequence_id", "node_id"),
         "SELECT way_id, group_id, sequence_id, node_id FROM "
         "topology_summary.nodes_to_merge"),
    ]
    n_nonempty = 0
    for df, sql in comparisons:
        got = sorted(tuple(str(v) for v in r) for r in df.collect())
        want = sorted(_pg_rows(sql))
        assert got == want, sql
        n_nonempty += bool(got)
    assert n_nonempty == 5  # every stage fires on this corpus
