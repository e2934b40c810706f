"""sources/io.py: S1-S7 readers/writers/CTAS helpers."""

import os
import tempfile

from pyspark.sql import functions as F

from osm_pg_etl_spark.sources.io import (
    append_slices,
    materialize,
    read_table,
    spread,
    write_table,
)


def test_write_table_partitioned_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "id long, grp string, v double")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        write_table(df, path, partition_by=["grp"])
        # partition directories exist -> equi-filters on grp prune files
        assert sorted(d for d in os.listdir(path) if d.startswith("grp=")) \
            == ["grp=a", "grp=b"]
        back = read_table(spark, path)
        assert back.count() == 3
        assert back.filter(F.col("grp") == "b").select("id").first()["id"] == 3


def test_write_table_csv(spark):
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "c")
        write_table(df, path, fmt="csv")
        back = spark.read.csv(path)
        assert back.count() == 1


def test_append_slices_missing_columns_null(spark):
    a = spark.createDataFrame([(1, "x")], "id long, s string")
    b = spark.createDataFrame([(2, 9.5)], "id long, v double")
    out = append_slices([a, b])
    assert set(out.columns) == {"id", "s", "v"}
    rows = {r["id"]: (r["s"], r["v"]) for r in out.collect()}
    assert rows == {1: ("x", None), 2: (None, 9.5)}  # implicit NULLs (S4)


def test_spread_raises_parallelism_only_when_needed(spark, tmp_path):
    # the real target: a single-row-group parquet scan arriving as one task
    p = str(tmp_path / "one.parquet")
    spark.createDataFrame([(i,) for i in range(10)], "id long") \
        .coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    assert scan.rdd.getNumPartitions() == 1
    assert spread(scan).rdd.getNumPartitions() \
        == spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(64)
    assert spread(wide).rdd.getNumPartitions() == 64  # identity at scale
    # an explicit partitioning choice upstream is respected without a probe
    one = spark.createDataFrame([(i,) for i in range(10)], "id long").coalesce(1)
    assert spread(one).rdd.getNumPartitions() == 1


def test_materialize_registers_view(spark):
    df = spark.createDataFrame([(1,)], "id long")
    materialize(df, "mat_view_test", cache=False)
    assert spark.sql("SELECT COUNT(*) AS n FROM mat_view_test").first()["n"] == 1


def test_bucketed_way_nodes_feed_topology_without_exchange(spark, osm):
    """End-to-end: way_nodes materialized bucketed by way_id feed the real
    split/merge pipeline — a way-keyed aggregation reads the bucket layout
    with zero way_id shuffles, and the full pipeline's output matches the
    unbucketed path."""
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import (
        merged_network,
        network_way_nodes,
        ways_length,
    )
    from osm_pg_etl_spark.sources.io import write_bucketed

    with tempfile.TemporaryDirectory() as tmp:
        write_bucketed(osm["way_nodes"], "wn_bkt", ["way_id"], num_buckets=4,
                       path=os.path.join(tmp, "wn"))
        wn = spark.table("wn_bkt")
        cn = car_network(osm["ways"])

        # way_id-keyed aggregation straight off the bucket scan: no Exchange
        # anywhere in the plan (the network-id semi-join broadcasts — hinted
        # here because the tiny fixture has no stats; at scale AQE decides,
        # and an SMJ would shuffle only the id side, never the fact table)
        from pyspark.sql import functions as F
        lengths = ways_length(network_way_nodes(wn, F.broadcast(cn)))
        plan = lengths._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        # no shuffle exchange anywhere (a BroadcastExchange of the tiny id
        # list is fine — it moves no fact-table data)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "Exchange SinglePartition" not in plan, plan

        # the full pipeline agrees with the unbucketed path row for row
        bucketed = merged_network(cn, wn)
        default = merged_network(cn, osm["way_nodes"])
        key = lambda df: sorted((r["edge_id"], tuple(r["nodes"]))  # noqa: E731
                                for r in df.collect())
        assert key(bucketed) == key(default)
        spark.sql("DROP TABLE wn_bkt")


def test_write_bucketed_join_without_shuffle(spark):
    from osm_pg_etl_spark.sources.io import write_bucketed

    df = spark.createDataFrame([(i, i % 7) for i in range(100)],
                               "id long, v long")
    with tempfile.TemporaryDirectory() as tmp:
        write_bucketed(df, "bkt_a", ["id"], num_buckets=4,
                       path=os.path.join(tmp, "a"))
        write_bucketed(df, "bkt_b", ["id"], num_buckets=4,
                       path=os.path.join(tmp, "b"))
        # force a sort-merge join (tiny tables would broadcast otherwise) —
        # the co-bucketed layout must make it shuffle-free
        joined = spark.table("bkt_a").hint("merge") \
            .join(spark.table("bkt_b"), "id")
        assert joined.count() == 100
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        spark.sql("DROP TABLE bkt_a")
        spark.sql("DROP TABLE bkt_b")
