"""Round-3 regression tests for the distributed prefix-sum operators.

Round 2's driver flagged ``pack_positions`` with a hash mismatch: the
bucket id came from ``spark_partition_id()`` after ``repartitionByRange``,
"pinned" by ``.cache()`` — but cache materialization is not a barrier, so a
recomputed range exchange could re-sample different boundaries and silently
shift every offset.  The fix (``functions.partitioning``) derives buckets
purely from the data.  These tests assert the property the driver checks:
the SAME logical result from repeated evaluations, with caching disabled,
under adversarial input partitionings.
"""

from __future__ import annotations

import random

import pytest

from osm_pg_etl_spark.functions.partitioning import (
    bucket_of, deterministic_buckets, range_boundaries)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(7)
    data = [(f"doc{i:04d}", " ".join("tok%d" % rng.randrange(50)
                                     for _ in range(rng.randrange(0, 40))))
            for i in range(400)]
    return spark.createDataFrame(data, "doc_id string, text string")


def test_boundaries_are_pure_function_of_data(spark, docs):
    b1 = range_boundaries(docs, "doc_id", num_buckets=8)
    b2 = range_boundaries(docs.repartition(13), "doc_id", num_buckets=8)
    b3 = range_boundaries(docs.coalesce(1), "doc_id", num_buckets=8)
    assert b1 == b2 == b3
    assert b1 == sorted(b1)
    assert len(b1) <= 7


def test_bucket_monotone_and_total(spark, docs):
    bounds = range_boundaries(docs, "doc_id", num_buckets=8)
    got = docs.select("doc_id",
                      bucket_of("doc_id", bounds).alias("b")).collect()
    by_id = sorted((r["doc_id"], r["b"]) for r in got)
    buckets = [b for _, b in by_id]
    assert buckets == sorted(buckets)  # monotone in key order
    assert len(set(buckets)) > 1       # actually parallel, not one bucket


def test_pack_positions_stable_across_evaluations(spark, docs):
    from osm_pg_etl_spark.operators.text import pack_positions

    cols = ["doc_id", "n_tokens", "start_pos", "seq_start", "seq_offset",
            "seq_end"]
    runs = [
        _rows(pack_positions(docs, capacity=64), cols),
        _rows(pack_positions(docs, capacity=64), cols),  # same plan, re-eval
        _rows(pack_positions(docs.repartition(17), capacity=64), cols),
        _rows(pack_positions(docs.coalesce(1), capacity=64), cols),
    ]
    assert runs[0] == runs[1] == runs[2] == runs[3]
    # and the prefix sum is actually a prefix sum in id order
    by_id = runs[0]
    pos = 0
    for _, n, start, _, _, _ in by_id:
        assert start == pos
        pos += n


def test_weighted_median_stable_across_partitionings(spark):
    from osm_pg_etl_spark.operators.stats import weighted_median

    rng = random.Random(11)
    data = [(rng.uniform(0, 100), float(rng.randrange(0, 5)))
            for _ in range(5000)]
    df = spark.createDataFrame(data, "x double, w double")
    vals = set()
    for d in (df, df.repartition(23), df.coalesce(1)):
        vals.add(round(weighted_median(d, "x", "w").collect()[0][0], 9))
    assert len(vals) == 1


def test_create_topology_ids_stable_and_dense(spark):
    from osm_pg_etl_spark.operators.graphs import create_topology

    rng = random.Random(3)
    def line(i):
        x0, y0 = rng.uniform(-10, 10), rng.uniform(40, 50)
        return (i, [{"lon": x0, "lat": y0},
                    {"lon": x0 + 0.01, "lat": y0 + 0.01}])
    df = spark.createDataFrame(
        [line(i) for i in range(300)],
        "edge_id long, geom array<struct<lon:double,lat:double>>")
    a = _rows(create_topology(df), ["edge_id", "source", "target"])
    b = _rows(create_topology(df.repartition(9)),
              ["edge_id", "source", "target"])
    assert a == b
    vids = sorted({v for _, s, t in a for v in (s, t)})
    assert vids == list(range(1, len(vids) + 1))  # dense 1..V


def test_no_cache_left_behind(spark, docs):
    """The fix removes the .cache() pin — the plans must not rely on (or
    leak) cached state."""
    from osm_pg_etl_spark.operators.text import pack_positions

    spark.catalog.clearCache()
    pack_positions(docs, capacity=64).collect()
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty()


def test_deterministic_buckets_empty_and_null(spark):
    df = spark.createDataFrame([], "k string")
    assert range_boundaries(df, "k", num_buckets=8) == []
    df2 = spark.createDataFrame([(None,), ("a",), ("b",)], "k string")
    got = df2.select(deterministic_buckets(df2, "k").alias("b")).collect()
    assert all(r["b"] is not None for r in got)


def test_length_batches_stable_across_partitionings(spark, docs):
    from osm_pg_etl_spark.operators.text import length_batches

    cols = ["doc_id", "n_tokens", "bucket", "batch_in_bucket",
            "docs_per_batch"]
    a = _rows(length_batches(docs, budget=64), cols)
    b = _rows(length_batches(docs.repartition(17), budget=64), cols)
    c = _rows(length_batches(docs.coalesce(1), budget=64), cols)
    assert a == b == c


def test_label_propagation_stable_across_partitionings(spark):
    from osm_pg_etl_spark.operators.graph_algo import label_propagation

    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    cols = ["node", "community"]
    a = _rows(label_propagation(df, n_iter=4), cols)
    b = _rows(label_propagation(df.repartition(23), n_iter=4), cols)
    assert a == b
