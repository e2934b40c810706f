"""Focused equivalence tests for round-16 optimization internals.

Same contract as test_r15_optimizations: each test pins an optimization
that replaced one computation with a cheaper equivalent, so a future
edit that breaks the equivalence fails here rather than at the next
oracle sweep.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_impute_after_merge_equals_before(spark):
    """osm_directed_graph r16 rewrite: imputing the MERGED network from
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


def test_shared_network_cross_query_cache_hit(spark):
    """The load-bearing assumption of _shared_network: two gates built
    in the same process produce sameResult merged plans, so the
    CacheManager serves the second gate from the first's materialized
    cache (the physical plan reads an InMemoryTableScan instead of
    re-running the split pipeline)."""
    from osm_pg_etl_spark.plans.osm_derived import _shared_network

    spark.catalog.clearCache()
    _, _, m1 = _shared_network(spark, SF)
    _, _, m2 = _shared_network(spark, SF)
    assert m1._jdf.queryExecution().analyzed().sameResult(
        m2._jdf.queryExecution().analyzed())
    # physical plan of the second build must hit the cache entry the
    # first build registered
    phys = m2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in phys
    spark.catalog.clearCache()


def test_shared_network_registry_empty_at_start(spark):
    """No cross-run reuse: the shared materialization lives ONLY in
    Spark's CacheManager — there is no Python-level registry in the
    module, and clearCache() (what bench.py runs between timed passes)
    leaves nothing behind, so every pass/process recomputes from the
    parquet inputs."""
    from pyspark.sql import DataFrame

    from osm_pg_etl_spark.plans import osm_derived

    # no module-level container of DataFrames (a results registry would
    # have to live somewhere importable to survive across queries)
    for name, val in vars(osm_derived).items():
        if isinstance(val, dict):
            assert not any(isinstance(v, DataFrame) for v in val.values()), \
                f"module-level DataFrame registry found: {name}"
        assert not isinstance(val, DataFrame), \
            f"module-level DataFrame found: {name}"

    _, _, merged = osm_derived._shared_network(spark, SF)
    merged.count()  # materialize the cache
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty()
    spark.catalog.clearCache()
    assert cm.isEmpty(), "clearCache must drop the shared materialization"


def test_shared_network_geometry_free(spark):
    """The shared cache is the META projection: no per-segment
    nodes/geom arrays or tags map may be materialized into it (caching
    them was measured +16% on osm_communities at sf1 — the build pays
    for columns no consumer reads), and its values must equal the same
    projection of the full merged table."""
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import merged_network
    from osm_pg_etl_spark.plans.osm_derived import (_shared_network,
                                                    derive_osm)

    _, _, merged = _shared_network(spark, SF)
    assert set(merged.columns) == {"edge_id", "start_node", "end_node",
                                   "n_nodes", "length", "speed_limit",
                                   "highway", "oneway"}

    d = derive_osm(spark, SF)
    full = merged_network(car_network(d["ways"]), d["way_nodes"])
    ref = full.select("edge_id", "start_node", "end_node",
                      F.size("nodes").alias("n_nodes"),
                      "length", "speed_limit", "highway", "oneway")

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    a, b = canon(merged), canon(ref)
    assert a, "empty merged network at sf0.001 would make this vacuous"
    assert a == b
    spark.catalog.clearCache()


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


def test_ckpt_observe_public_api_fallback(spark, monkeypatch):
    """When the private observed-metrics read breaks (a Spark minor bump
    moving QueryExecution.observedMetrics / PythonSQLUtils.toPyRow),
    _ckpt_observe must fall back to a separate probe job with identical
    values instead of taking down every fixpoint loop."""
    from osm_pg_etl_spark.operators import graph_algo

    df = spark.range(7).select(F.col("id").alias("a"),
                               (F.col("id") % 3).alias("b"))
    metrics = graph_algo._sig_metrics("a", "b")
    ck_ok, m_ok = graph_algo._ckpt_observe(df, *metrics)

    def boom(od, name):
        raise RuntimeError("private API gone")

    monkeypatch.setattr(graph_algo, "_read_observed", boom)
    ck_fb, m_fb = graph_algo._ckpt_observe(df, *metrics)
    assert m_fb == m_ok
    assert sorted(map(tuple, ck_fb.collect())) \
        == sorted(map(tuple, ck_ok.collect()))

    # an operator that leans on the probe still converges on the fallback
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long")
    comp = {(r["node"], r["component"])
            for r in graph_algo.connected_components(edges).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_sigma_table_single_checkpoint_rows(spark):
    """r16 sigma_table (one consolidated checkpoint per level, frontier
    derived by dist filter) must produce the exact (s, node, dist, sigma)
    rows of textbook multi-source BFS with path counting."""
    from osm_pg_etl_spark.operators.graph_algo import sigma_table

    # 1-2, 1-3, 2-3, 2-4, 3-5, 4-5 (undirected)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 5), (4, 5)],
        "src long, dst long")
    got = {(r["s"], r["node"], r["dist"], r["sigma"])
           for r in sigma_table(edges, [1], max_depth=6).collect()}
    # dist/sigma by hand: 1:(0,1); 2,3:(1,1); 4 via 2 (1 path), 5 via 3
    # (1 path) at dist 2
    assert got == {(1, 1, 0, 1), (1, 2, 1, 1), (1, 3, 1, 1),
                   (1, 4, 2, 1), (1, 5, 2, 1)}
    # sigma accumulation across equal-length paths
    edges2 = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long")
    got2 = {(r["s"], r["node"], r["dist"], r["sigma"])
            for r in sigma_table(edges2, [1], max_depth=6).collect()}
    assert got2 == {(1, 1, 0, 1), (1, 2, 1, 1), (1, 3, 1, 1),
                    (1, 4, 2, 2)}

