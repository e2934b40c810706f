"""Shared fixtures: a local SparkSession and the hand-verifiable OSM world
from FIXTURES.md §A (topology cases 1-9)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Live-PostgreSQL autodetection.  scripts/pg_live_setup.sh boots a throwaway
# server on a unix socket at /tmp/pgsock; when it is up and OSM_PG_TEST_DSN
# is not already set, point the env-gated suites (test_pg_copy,
# test_pgsnapshot, test_pg_reference_parity) at it so any plain
# ``pytest tests/`` run exercises the live legs instead of skipping.
# ---------------------------------------------------------------------------
_DEFAULT_DSN = "host=/tmp/pgsock user=pguser dbname=test"
if ("OSM_PG_TEST_DSN" not in os.environ
        and os.environ.get("OSM_PG_AUTOBOOT", "1") != "0"):
    # OSM_PG_AUTOBOOT=0 opts out of the probe/boot entirely (it mutates
    # machine state: boots a server, may create a pguser account, and can
    # stall collection up to 120 s when binaries exist but boot fails).
    try:
        from osm_pg_etl_spark.sources.pg_copy import pg_available

        if not pg_available(_DEFAULT_DSN):
            # Best-effort idempotent boot (initdb+pg_ctl under a service
            # user); silently falls through to the normal skips on any
            # failure (no binaries, no permissions, read-only fs ...).
            import subprocess

            _setup = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "scripts", "pg_live_setup.sh")
            if os.path.exists(_setup):
                subprocess.run(
                    ["bash", _setup], capture_output=True, timeout=120)
        if pg_available(_DEFAULT_DSN):
            os.environ["OSM_PG_TEST_DSN"] = _DEFAULT_DSN
    except Exception:
        pass

# ---------------------------------------------------------------------------
# Live-PostgreSQL JDBC leg: needs the org.postgresql driver jar on the Spark
# classpath. Best-effort resolution order: $OSM_PG_JDBC_JAR, any
# vendor/jars/postgresql-*.jar (drop one there — e.g. fetched from Maven
# Central with scripts/fetch_jdbc_driver.sh — and the live round-trip
# lights up), else the suite keeps its documented skip. Must run before
# the first SparkSession is built (spark.jars is fixed at JVM start).
# ---------------------------------------------------------------------------
if "OSM_PG_TEST_URL" not in os.environ and os.environ.get("OSM_PG_TEST_DSN"):
    import glob as _glob

    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _jar = os.environ.get("OSM_PG_JDBC_JAR") or next(
        iter(sorted(_glob.glob(
            os.path.join(_repo, "vendor", "jars", "postgresql-*.jar")))),
        None)
    if _jar and os.path.exists(_jar):
        _prev = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
        os.environ["SPARK_GRAFT_EXTRA_JARS"] = \
            f"{_prev},{_jar}" if _prev else _jar
        # derive the JDBC URL from the DSN actually in use; JDBC cannot
        # speak unix sockets, so a socket-path host falls back to the
        # TCP listener pg_live_setup.sh also opens (127.0.0.1:5432)
        _dsn = dict(kv.split("=", 1)
                    for kv in os.environ["OSM_PG_TEST_DSN"].split()
                    if "=" in kv)
        _host = _dsn.get("host", "127.0.0.1")
        if _host.startswith("/"):
            _host = "127.0.0.1"
        _port = _dsn.get("port", "5432")
        _db = _dsn.get("dbname", "test")
        os.environ["OSM_PG_TEST_URL"] = \
            f"jdbc:postgresql://{_host}:{_port}/{_db}"
        if _dsn.get("user"):
            os.environ.setdefault("OSM_PG_TEST_USER", _dsn["user"])
        if _dsn.get("password"):
            os.environ.setdefault("OSM_PG_TEST_PASSWORD",
                                  _dsn["password"])


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from osm_pg_etl_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


# ---------------------------------------------------------------------------
# OSM fixture world (FIXTURES.md "Required topology cases"):
#
#   W1 [1,2,3,4,5]    residential, maxspeed 50, no oneway   (case 1,3)
#   W2 [6,3,7]        residential, oneway yes               (case 1)
#   W3 [5,8,9]        residential, maxspeed 20 — shares node 5 only at its
#                     START endpoint -> never split          (case 2)
#   W4 [10,2,11,3,12] residential, maxspeed "30 mph", oneway -1
#                     two interior shared nodes -> 3 segs    (case 3,6)
#   W5 [13,14,2,15,16] residential, oneway no, no maxspeed -> imputed
#                     dead-end tail after node 2             (case 4,7)
#   W6 [17,18,19]     residential, no shared nodes -> untouched (case 5)
#   W7 [3,20,21]      footway — NOT in car network; its use of node 3 must
#                     not affect shared-node counts
#   W8 [22,23]        motorway, oneway absent -> 3VL drop from directed
#   W9 [23,24]        motorway, oneway yes, maxspeed 100
#
# Shared (car-network) node occurrence counts:
#   2: W1,W4,W5 -> 3   3: W1,W2,W4 -> 3   5: W1,W3 -> 2   23: W8,W9 -> 2
# ---------------------------------------------------------------------------

WAY_NODE_LISTS = {
    1: [1, 2, 3, 4, 5],
    2: [6, 3, 7],
    3: [5, 8, 9],
    4: [10, 2, 11, 3, 12],
    5: [13, 14, 2, 15, 16],
    6: [17, 18, 19],
    7: [3, 20, 21],
    8: [22, 23],
    9: [23, 24],
}

WAY_TAGS = {
    1: {"highway": "residential", "maxspeed": "50"},
    2: {"highway": "residential", "oneway": "yes"},
    3: {"highway": "residential", "maxspeed": "20"},
    4: {"highway": "residential", "maxspeed": "30 mph", "oneway": "-1"},
    5: {"highway": "residential", "oneway": "no"},
    6: {"highway": "residential"},
    7: {"highway": "footway"},
    8: {"highway": "motorway", "maxspeed": "100"},
    9: {"highway": "motorway", "oneway": "yes"},
}

NODE_IDS = sorted({n for ns in WAY_NODE_LISTS.values() for n in ns})

NODE_TAGS = {
    1: {"amenity": "cafe", "sport": "soccer", "name": "Corner"},  # case 9
    6: {"shop": "bakery"},
    17: {"tourism": "hotel", "name": "Grand"},
}


def node_coord(nid: int) -> tuple[float, float]:
    # ~1.1 km east-west spacing, ~1.1 km north-south per id step
    return (float(nid % 6) / 100.0, float(nid // 6) / 100.0)


@pytest.fixture(scope="session")
def osm(spark):
    nodes_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ])
    nodes = spark.createDataFrame(
        [(n, *node_coord(n), NODE_TAGS.get(n, {})) for n in NODE_IDS],
        nodes_schema)

    ways_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("nodes", T.ArrayType(T.LongType())),
        T.StructField("linestring", T.ArrayType(T.StructType([
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]))),
    ])
    ways = spark.createDataFrame(
        [(w, WAY_TAGS[w], ns, [node_coord(n) for n in ns])
         for w, ns in WAY_NODE_LISTS.items()],
        ways_schema)

    way_nodes_schema = T.StructType([
        T.StructField("way_id", T.LongType()),
        T.StructField("node_id", T.LongType()),
        T.StructField("sequence_id", T.IntegerType()),
    ])
    way_nodes = spark.createDataFrame(
        [(w, n, i) for w, ns in WAY_NODE_LISTS.items()
         for i, n in enumerate(ns)],
        way_nodes_schema)

    return {"nodes": nodes, "ways": ways, "way_nodes": way_nodes}


# ---------------------------------------------------------------------------
# Fast default profile (r15 VERDICT task 2): tests listed in
# tests/slow_tests.txt (one node id per line, measured with --durations on
# a full run) get the `slow` marker, and pytest.ini's `-m "not slow"`
# deselects them from the plain `pytest tests/` run so it fits the
# driver's verify window. `-m ""` runs everything. A stale entry (renamed
# test) simply stops matching — the test safely returns to the default
# profile. Node ids given explicitly on the command line are not marked,
# so `pytest tests/test_x.py::test_y` always runs what you asked for, also
# when it is given as an absolute path or from another directory.
# ---------------------------------------------------------------------------
def _explicit_node_ids(config) -> set[str]:
    """The node ids named on the command line, with their path part made
    relative to rootdir the way ``item.nodeid`` is."""
    out = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep:
            continue
        full = os.path.join(str(config.invocation_params.dir), path)
        rel = os.path.relpath(full, str(config.rootpath))
        out.add(rel.replace(os.sep, "/") + "::" + rest)
    return out


def pytest_collection_modifyitems(config, items):
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "slow_tests.txt")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        slow = {ln.strip() for ln in fh if ln.strip()
                and not ln.startswith("#")}
    explicit = _explicit_node_ids(config)
    for item in items:
        nodeid = item.nodeid
        base = nodeid.split("[", 1)[0]
        if nodeid in explicit or base in explicit:
            continue
        if nodeid in slow or base in slow:
            item.add_marker(pytest.mark.slow)
