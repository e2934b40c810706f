"""Self-tests of the product-path benchmark: generator determinism, ground
truth on hand-checkable inputs, span attribution of nested calls, and the
declared metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402


def _files(top: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(top):
        for n in names:
            path = os.path.join(base, n)
            with open(path, "rb") as f:
                out[os.path.relpath(path, top)] = f.read()
    return out


def test_same_seed_same_bytes(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.SIZES, "tiny", gen.Size(towns=2, rows=4, cols=5))
    a = _files(gen.generate(7, "tiny", str(tmp_path / "a")))
    b = _files(gen.generate(7, "tiny", str(tmp_path / "b")))
    c = _files(gen.generate(8, "tiny", str(tmp_path / "c")))
    assert "extract.osm.pbf" in a and "batch/changed.parquet" in a
    assert a == b
    assert a["extract.osm.pbf"] != c["extract.osm.pbf"]


def test_truth_on_a_3x3_grid():
    # one town, every street one car way over two blocks with one shape
    # node per block: I0 s I1 s I2. Every intersection is used by a row
    # and a column way, so each way splits at its middle intersection
    # into two 3-node segments; all are two-way, in one component.
    world = gen.build_world(1, towns=1, rows=3, cols=3, shape_nodes=(1, 2),
                            span=(2, 3), tags={"highway": "residential"})
    nodes, ways = world["nodes"], world["ways"]
    assert len(nodes) == 9 + 12 and len(ways) == 6
    assert all(len(w["nodes"]) == 5 for w in ways)
    truth = gen.network_truth(nodes, ways)
    want = sorted((w["id"], a, b, 3) for w in ways
                  for a, b in ((w["nodes"][0], w["nodes"][2]),
                               (w["nodes"][2], w["nodes"][4])))
    assert sorted(s[:4] for s in truth["segments"]) == want
    assert truth["car_segments"] == 12
    assert truth["directed_edges"] == 24
    assert truth["components"] == 1
    pos = {n["id"]: (n["lon"], n["lat"]) for n in nodes}
    whole = sum(gen.haversine_km(*pos[a], *pos[b]) for w in ways
                for a, b in zip(w["nodes"], w["nodes"][1:]))
    assert truth["car_length_km"] == pytest.approx(whole, rel=1e-12)
    # blocks are 0.002 degrees: 12 blocks of ~0.16-0.22 km
    assert 12 * 0.15 < truth["car_length_km"] < 12 * 0.23


def test_split_quirks():
    ways = [{"id": 1, "nodes": [1, 2]},            # 2 nodes: never split
            {"id": 2, "nodes": [2, 3, 4, 5, 6]},   # splits at 4 and 5, tail
            {"id": 3, "nodes": [7, 4, 8]},
            {"id": 4, "nodes": [9, 10, 5]}]        # shared final node only
    assert gen.split_segments(ways) == [
        (1, 0, 1), (2, 0, 2), (2, 2, 3), (2, 3, 4), (3, 0, 1), (3, 1, 2),
        (4, 0, 2)]


@pytest.mark.parametrize("tags,want", [
    ({"highway": "residential"}, ("f", "r")),
    ({"highway": "residential", "oneway": "no"}, ("f", "r")),
    ({"highway": "residential", "oneway": "yes"}, ("f",)),
    ({"highway": "residential", "oneway": "-1"}, ("r",)),
    ({"highway": "residential", "oneway": "reversible"}, ()),
    ({"highway": "motorway"}, ()),                  # NULL oneway drops out
    ({"highway": "motorway", "oneway": "no"}, ("f",)),
])
def test_directions(tags, want):
    assert gen.directions(tags) == want


def test_metric_names_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    name = re.compile(r"[A-Za-z0-9_.-]+")
    e2e = [m["name"] for m in declared["end_to_end"]]
    layer = [m["name"] for m in declared["per_layer"]]
    assert sorted(e2e) == sorted(run.END_TO_END)
    assert sorted(layer) == sorted(run.per_layer_names())
    assert all(name.fullmatch(n) and len(n) <= 64 for n in e2e + layer)
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    assert {w["name"] for w in declared["workloads"]} == set(
        __import__("workloads").WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "true")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.local.dir", str(tmp_path_factory.mktemp("spark")))
         .getOrCreate())
    yield s
    s.stop()


def test_nested_span_holds_none_of_the_parents_jobs(spark):
    # the outer call builds an aggregation lazily and hands it to a nested
    # call: the aggregation's jobs and shuffle belong to the outer span, and
    # the nested span costs what it costs on an already-forced input
    from pyspark.sql import functions as F

    from probe import Probe

    def agg():
        return (spark.range(20_000).groupBy((F.col("id") % 97).alias("k"))
                .agg(F.count("*").alias("n")))

    def inner(df):
        return df.filter(F.col("n") > 200)

    p = Probe(spark, traced=True)
    p.begin_pass()
    p.call("outer", lambda: p.call("nested", inner, agg()))
    p.end_pass(0.0)                     # drops every cache of the pass
    ready = agg().cache()
    ready.count()
    p.begin_pass()
    p.call("ready", inner, ready)
    p.end_pass(0.0)
    got, want = p.passes
    assert got["outer.jobs"] >= 1 and got["outer.shuffle_bytes"] > 0
    assert got["nested.jobs"] == want["ready.jobs"]
    assert got["nested.shuffle_bytes"] == want["ready.shuffle_bytes"]
