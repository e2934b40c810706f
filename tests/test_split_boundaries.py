"""Seeded randomized check of the split's boundary rules against the DuckDB
topology fragments of ``plans/osm_derived.py`` (``_TOPOLOGY_SQL`` and
``_MERGED_SQL``, the oracle of the ``osm_merged_network`` gate).

Each world mixes random road ways with the cases the rules single out:
closed rings (the repeated endpoint counts twice), figure-8 ways that
revisit an interior node, 2-node ways, ways shared only at their first or
only at their last node, dead-end tails, and footways that share nodes but
are not in the car network. Merged rows are compared by a value hash of
``(edge_id, start_node, end_node, n_nodes, round(length, 4))``, and the
``ways_merge_limits``/``ways_split_nodes`` rows by a hash of their values.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_pg_etl_spark.operators.network import car_network
from osm_pg_etl_spark.operators.topology import (
    merged_network,
    network_way_nodes,
    shared_nodes,
    unnest_way_nodes,
    ways_merge_limits,
    ways_split_nodes,
)

WAYS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("nodes", T.ArrayType(T.LongType())),
    T.StructField("linestring", T.ArrayType(T.StructType([
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]))),
])


def _world(seed: int) -> dict[int, tuple[list[int], str]]:
    """way id -> (node ids, highway). Random ways over a small node pool,
    so nodes are often shared, plus one of each boundary case."""
    rng = random.Random(seed)
    pool = list(range(1, 61))
    fresh = iter(range(1000, 100000))
    ways: dict[int, tuple[list[int], str]] = {}

    def add(nodes, highway="residential"):
        ways[len(ways) + 1] = (nodes, highway)

    for _ in range(40):
        n = rng.randint(2, 7)
        add([rng.choice(pool) if rng.random() < 0.5 else next(fresh)
             for _ in range(n)])
    for _ in range(3):
        a, b, c = rng.sample(pool, 3)
        add([a, next(fresh), b, next(fresh), c, a])          # closed ring
        add([next(fresh), a, next(fresh), b, a, next(fresh)])  # figure-8
        add([rng.choice(pool), rng.choice(pool)])            # 2-node way
        add([a, next(fresh), next(fresh)])                   # shared at seq 0
        add([next(fresh), next(fresh), b])                   # shared at end
        add([next(fresh), c, next(fresh), next(fresh)])      # dead-end tail
        add([next(fresh), b, c, next(fresh)], "footway")     # not in network
    # consecutive repeats would make zero-length steps; keep them out
    return {w: ([n for i, n in enumerate(ns) if i == 0 or n != ns[i - 1]], h)
            for w, (ns, h) in ways.items()}


def _coord(nid: int) -> tuple[float, float]:
    r = random.Random(nid)
    return (round(r.uniform(-0.5, 0.5), 6), round(r.uniform(-0.5, 0.5), 6))


def _tables(spark, world):
    ways = spark.createDataFrame(
        [(w, {"highway": h}, ns, [_coord(n) for n in ns])
         for w, (ns, h) in world.items()], WAYS_SCHEMA)
    node_ids = sorted({n for ns, _ in world.values() for n in ns})
    nodes = spark.createDataFrame(
        [(n, *_coord(n)) for n in node_ids], "id long, lon double, lat double")
    return ways, unnest_way_nodes(ways), nodes


def _duckdb(world) -> dict[str, list[tuple]]:
    """The merged rows, limits and split nodes of the DuckDB fragments."""
    import duckdb
    import pandas as pd

    from osm_pg_etl_spark.plans.osm_derived import (
        _MERGED_SQL, _TOPOLOGY_SQL, _WAYENDS_SQL, _WAYLEN_SQL, _cte)

    con = duckdb.connect()
    try:
        con.register("cn", pd.DataFrame(
            [{"edge_id": w, "highway": h, "oneway": None,
              "speed_limit": None}
             for w, (_, h) in world.items() if h == "residential"]))
        con.register("wn", pd.DataFrame(
            [{"way_id": w, "node_id": n, "sequence_id": i}
             for w, (ns, _) in world.items() for i, n in enumerate(ns)]))
        node_ids = sorted({n for ns, _ in world.values() for n in ns})
        con.register("nodes_d", pd.DataFrame(
            [{"id": n, "lon": _coord(n)[0], "lat": _coord(n)[1]}
             for n in node_ids]))
        ctes = _cte(_WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL)
        selects = {
            "merged": "edge_id, start_node, end_node, n_nodes,"
                      " ROUND(length, 4) FROM merged",
            "limits": "way_id, bottom_limit, top_limit FROM lims",
            "splits": "way_id, node_id, sequence_id FROM splits",
        }
        return {k: sorted(tuple(r) for r in
                          con.execute(f"{ctes} SELECT {q}").fetchall())
                for k, q in selects.items()}
    finally:
        con.close()


def _spark_rows(merged) -> list[tuple]:
    return sorted(tuple(r) for r in merged.select(
        "edge_id", "start_node", "end_node",
        F.size("nodes").alias("n_nodes"),
        F.round("length", 4).alias("length")).collect())


def _hash(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


@pytest.mark.parametrize("seed", [11, 29])
def test_split_matches_duckdb_fragments(spark, seed):
    world = _world(seed)
    ways, wn, nodes = _tables(spark, world)
    cn = car_network(ways)
    road = {w for w, (_, h) in world.items() if h == "residential"}
    oracle = _duckdb(world)
    want = oracle["merged"]
    # the world exercises splits, pass-throughs and dead-end tails
    assert len(want) > len(road)

    # the reference-named tables: explodes of the same per-way limits
    wn_net = network_way_nodes(wn, cn)
    for name, got in (("limits", ways_merge_limits(wn_net)),
                      ("splits", ways_split_nodes(wn_net))):
        rows = sorted(tuple(r) for r in got.collect())
        assert _hash(rows) == _hash(oracle[name]), \
            (name, set(rows) ^ set(oracle[name]))

    fast = _spark_rows(merged_network(cn, wn))
    general = _spark_rows(merged_network(cn, wn, nodes=nodes))
    assert _hash(fast) == _hash(want), set(fast) ^ set(want)
    assert _hash(general) == _hash(want), set(general) ^ set(want)

    # re-split a random subset against the global shared-node table, as
    # the incremental path does, through both of its assembly modes
    subset = set(random.Random(seed).sample(sorted(road), len(road) // 3))
    sub_cn = cn.filter(F.col("edge_id").isin(sorted(subset)))
    sub_wn = network_way_nodes(wn, sub_cn)
    shared = shared_nodes(wn_net)
    want_sub = [r for r in want if r[0] in subset]
    resplit = _spark_rows(merged_network(sub_cn, wn, shared_override=shared))
    from_nodes = _spark_rows(merged_network(sub_cn, sub_wn, nodes=nodes,
                                            shared_override=shared))
    assert _hash(resplit) == _hash(want_sub), set(resplit) ^ set(want_sub)
    assert _hash(from_nodes) == _hash(want_sub), \
        set(from_nodes) ^ set(want_sub)
