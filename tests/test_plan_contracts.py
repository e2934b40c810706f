"""Physical-plan contracts for the scale-critical queries.

These assert the *plan shape* the 100 TB story depends on — filter pushdown
reaching the parquet scan, column pruning, broadcast joins where a side is
provably small, and no row-at-a-time Python in any gated plan — so a
refactor that silently trades one away fails CI, not the next benchmark.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """A predicate on a scanned column must appear in PushedFilters."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter("l_quantity > 49").select("l_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_quantity", plan)


def test_column_pruning_narrows_scan(spark):
    """A 2-column projection over the 16-column lineitem table must read
    only those columns."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.groupBy("l_returnflag").count()
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan_of(df))
    assert m, "no ReadSchema in plan"
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert cols == ["l_returnflag"]


def test_tfidf_broadcasts_vocabulary(spark):
    """The r4 tfidf fix: the vocabulary-sized df table must broadcast, so
    the big tf table is never shuffled by term for the join."""
    from osm_pg_etl_spark.plans.registry import all_queries

    df = all_queries()["tfidf_top_terms"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_tfidf_single_big_exchange(spark):
    """The r13 tfidf plan: ONE data-sized exchange (documents
    repartitioned by doc_id) that both consumers reuse; groupBy(id, term)
    and the top-k window then run exchange-free because
    HashPartitioning(id) satisfies their clustering. A regression that
    re-introduces the per-term or per-(id, term) big-side shuffle (or
    breaks the exchange reuse into a second scan) fails here."""
    from osm_pg_etl_spark.plans.registry import all_queries

    df = all_queries()["tfidf_top_terms"](spark, SF)
    df.collect()                     # AQE resolves reuse at runtime
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    # the one deliberate doc-keyed exchange, reused by the second consumer
    assert final.count("ReusedExchange") >= 1, "doc exchange not reused"
    # no ENSURE_REQUIREMENTS exchange may be keyed on doc_id — that is
    # the window/groupBy re-shuffle of the big side this plan removes
    # (dfreq's term exchange and the scalar-count SinglePartition are ok)
    for key, kind in re.findall(
            r"Exchange hashpartitioning\((\w+)[^)]*\), (\w+)", final):
        assert not (key.startswith("doc_id") and kind != "REPARTITION_BY_COL"), \
            f"big-side re-shuffle crept back: {key} {kind}"
    # top-k pushdown: the rank filter must prune inside the sort
    assert "WindowGroupLimit" in final


def test_no_row_python_udfs_in_gated_plans(spark):
    """No gated plan may fall back to row-at-a-time Python
    (BatchEvalPython); Python is allowed only Arrow-batched
    (ArrowEvalPython / the grouped and map pandas nodes). Spot-checks the
    Python-adjacent queries — the full registry is covered by
    scripts/plan_lint.py. The first three must plan an Arrow-batched
    node, so the BatchEvalPython check sees a Python hop at all."""
    from osm_pg_etl_spark.plans.registry import all_queries

    arrow_node = re.compile(
        r"ArrowEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
        r"|MapInPandas")
    qs = all_queries()
    plans = {name: plan_of(qs[name](spark, SF))
             for name in ("winnow_fingerprints", "osm_spatial_pairs",
                          "knn_join", "quality_features")}
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, name
    for name in ("winnow_fingerprints", "osm_spatial_pairs", "knn_join"):
        assert arrow_node.search(plans[name]), name


def test_no_cartesian_products_in_flagships(spark):
    """The crown-jewel pipelines must stay cartesian-free (a one-row
    broadcast crossJoin is fine; CartesianProduct is not)."""
    from osm_pg_etl_spark.plans.registry import all_queries

    qs = all_queries()
    for name in ("osm_merged_network", "osm_directed_graph",
                 "minhash_neardup"):
        plan = plan_of(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name


def test_spatial_blocking_keeps_pairs_narrow(spark):
    """The blocked spatial join's candidate exchange must carry only
    (id, cell)-shaped rows, never geometries: no exploded linestring
    column may appear below the first join."""
    from osm_pg_etl_spark.plans.registry import all_queries

    plan = plan_of(all_queries()["osm_spatial_pairs"](spark, SF))
    # the cell-blocking join happens before geometries are attached:
    # candidate dedup (id_a, id_b) occurs in the plan
    assert re.search(r"HashAggregate.*id_a.*id_b", plan) or \
        "SortAggregate" in plan


def test_band_join_broadcasts_nested_loop(spark):
    """The non-equi band join must broadcast the band table (nested loop
    on a broadcast side); a shuffled or cartesian plan fails."""
    from osm_pg_etl_spark.plans.registry import all_queries

    plan = plan_of(all_queries()["band_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_join5_broadcasts_every_dimension(spark):
    """TPC-H Q5 shape: customer/supplier/nation-region must all broadcast;
    at most the lineitem-orders fact join may sort-merge."""
    from osm_pg_etl_spark.plans.registry import all_queries

    plan = plan_of(all_queries()["join5_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_length_batches_no_single_partition_exchange(spark):
    """The within-bucket rank must come from the range-chunk prefix sum —
    no SinglePartition exchange (the skew the design exists to avoid)."""
    from osm_pg_etl_spark.plans.registry import all_queries

    plan = plan_of(all_queries()["length_batches"](spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_stream_enrich_broadcasts_dimension(spark):
    """The stream-static enrichment join must broadcast the customer
    dimension so the (streaming) fact side is never shuffled by the
    join."""
    from osm_pg_etl_spark.plans.registry import all_queries

    plan = plan_of(all_queries()["stream_enrich"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_join_bucket_kernel_no_cartesian(spark):
    """The default self-KNN path must score candidates in the per-bucket
    Arrow kernel — exactly one FlatMapGroupsInPandas, no cartesian/
    nested-loop join, and no array column riding a candidate-pair row
    through an exchange (the r6 perf lesson: 1 KB/pair)."""
    from osm_pg_etl_spark.plans.registry import all_queries

    plan = plan_of(all_queries()["knn_join"](spark, SF))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_complete_network_cascade_single_evaluation(spark):
    """r10: the complete-network gates run the plain-column cascade —
    the projection that computes car/pedestrian/bicycle must probe
    attribute references (INSET over already-computed tag columns),
    never the tags map (element_at per probe site) and never a
    re-inlined tag CASE chain (% residues)."""
    from osm_pg_etl_spark.plans.osm_derived import (
        q_osm_complete_merged, q_osm_complete_network)

    for q in (q_osm_complete_network, q_osm_complete_merged):
        plan = plan_of(q(spark, SF))
        cascade_lines = [ln for ln in plan.splitlines() if "AS car#" in ln]
        assert cascade_lines, q.__name__
        for ln in cascade_lines:
            assert "element_at(tags" not in ln, q.__name__
            assert " INSET " in ln, q.__name__
            assert "% 12" not in ln and "% 17" not in ln, q.__name__


def test_embedding_neardup_bucket_kernel_no_vector_exchange(spark):
    """The default near-dup path must score candidates in the per-bucket
    Arrow kernel — exactly one FlatMapGroupsInPandas, no join of the
    array columns, and no array column riding a candidate-pair row
    through an exchange (the knn_join lesson: ~1 KB/pair through the
    shuffle vs skinny (id, id, cosine) rows)."""
    from osm_pg_etl_spark.operators.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for tables in (1, 2):
        plan = plan_of(embedding_near_duplicates(
            emb, threshold=0.9, num_tables=tables))
        assert plan.count("FlatMapGroupsInPandas") == 1, tables
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        # downstream of the kernel only skinny pair rows may move:
        # no exchange in the plan carries the vector column
        for m in re.finditer(r"Exchange [^\n]*", plan):
            assert "_v#" not in m.group(0), m.group(0)


def test_turn_restricted_transitions_equi_join_only(spark):
    """The line-graph expansion must be equi-joins on the shared-node /
    triple keys — banned turns via join, never a cartesian."""
    from osm_pg_etl_spark.operators.graph_algo import line_graph_transitions

    directed = (spark.read.parquet(f"{SF}/lineitem.parquet")
                .selectExpr("l_orderkey as start_node",
                            "l_partkey as end_node",
                            "cast(l_quantity as double) as length")
                .limit(500))
    restr = directed.selectExpr("start_node as from_u",
                                "end_node as via",
                                "start_node as to_v").limit(10)
    plan = plan_of(line_graph_transitions(directed, restrictions=restr))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mode_flags_computes_each_tag_once(spark):
    """q_osm_mode_flags (r8 plain-column cascade): every tag expression
    must be evaluated exactly once per row — CollapseProject must NOT
    inline the non-cheap CASE chains into their ~15 cascade probe sites,
    and no per-row map may be built (measured 3x at sf0.1)."""
    from osm_pg_etl_spark.plans.osm_derived import q_osm_mode_flags

    plan = plan_of(q_osm_mode_flags(spark, SF))
    # the highway derivation (o_orderkey % 12) appears once, not per probe
    assert plan.count("% 12") == 1, plan.count("% 12")
    # cascade probes compile to INSET over the precomputed column
    assert " INSET " in plan
    assert "map(" not in plan.split("== Physical Plan ==")[-1].split(
        "(1) Scan")[0]  # no CreateMap node in the tree summary


def test_dedup_family_no_gram_keyed_windows(spark):
    """The dedup family's per-gram/per-paragraph statistics must be
    COMBINABLE aggregates + join-back, never a
    Window.partitionBy(<content hash>) — map-side partial aggregation
    collapses a viral paragraph/gram before the exchange and the join
    back is AQE-skew-splittable, while AQE can NOT split a hot window
    partition. Windows partitioned by the document id (island merge,
    reassembly) remain legitimate: bounded by one document's length."""
    from osm_pg_etl_spark.plans.registry import all_queries

    qs = all_queries()
    for gate in ("dedup_paragraphs", "exact_substring_self_dedup",
                 "dup_ngram_spans"):
        plan = plan_of(qs[gate](spark, SF))
        specs = re.findall(r"windowspecdefinition\((\w+)", plan)
        for key in specs:
            assert key.startswith("doc_id"), \
                f"{gate}: window partitioned by non-doc key {key}"


def test_iterative_static_tables_join_exchange_free(spark):
    """Static per-round tables in the MANY-round iterative graph
    operators (Bellman-Ford SSSP, Brandes, turn-restricted routing,
    louvain) ride the ``_iter_cache`` scope (checkpoint → hash-partition
    on the round join key → sort → cache), so round joins re-shuffle only
    the node-sized frontier, never the edge table. A regression that
    drops the cache (or checkpoints AFTER partitioning, which erases the
    partitioning metadata behind a LogicalRDD) re-introduces one full
    edge-table shuffle per round and fails here."""
    from pyspark.sql import functions as F
    from osm_pg_etl_spark.operators.graph_algo import _iter_cache

    edges = (spark.range(0, 3000)
             .select((F.col("id") % 611).alias("src"),
                     (F.col("id") % 997).alias("dst")))
    with _iter_cache(edges.select(F.col("src").alias("a"),
                                  F.col("dst").alias("b")), "a") as e:
        # direct probe of the helper's contract: once the cache is
        # materialized (as it is after any round has run — AQE re-plans
        # later stages against the materialized partitioning), a keyed
        # aggregate over it must plan with zero ENSURE_REQUIREMENTS
        # exchanges (partial+final fused over the preserved partitioning)
        e.count()
        agg_plan = plan_of(e.groupBy("a").count())
        # join probe shaped like one relaxation round (frontier ⋈ edges on
        # the cache key, then a dst-keyed aggregate). Auto-broadcast is
        # disabled for the probe so the tiny test frontier takes the same
        # keyed-join path a real node-sized frontier takes; the cached edge
        # side must then be read IN PLACE — every exchange in the plan may
        # only target the frontier's key or the aggregate's dst key, never
        # re-shuffle e.
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            frontier = (spark.range(0, 40)
                        .select(F.col("id").alias("a"),
                                F.col("id").alias("lbl")))
            probe = e.join(frontier, "a").groupBy("b").count()
            join_plan = plan_of(probe)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           old_thresh)
    assert "ENSURE_REQUIREMENTS" not in agg_plan, agg_plan
    assert "InMemoryTableScan" in join_plan, join_plan
    # REPARTITION_BY_COL entries are the cache build shown inside the
    # expanded InMemoryRelation subtree (not re-executed at runtime);
    # runtime shuffles are the ENSURE_REQUIREMENTS ones: one frontier-side
    # exchange on a, one aggregate exchange on b — a SECOND a-keyed
    # ENSURE exchange = the cached edge table being re-shuffled
    ensures = re.findall(
        r"Exchange hashpartitioning\((\w+)#\d+[^)]*\), ENSURE_REQUIREMENTS",
        join_plan)
    assert ensures.count("a") <= 1, join_plan
    assert len(ensures) <= 2, join_plan


def test_merged_network_one_pass_exchanges(spark, osm):
    """The topological split is one per-way pass. Its initial plan shuffles
    on node_id once (the shared-node count window) and on way_id for the
    per-way aggregation and the two sides of the network semi-join; the
    assembly join moves the network table on edge_id. It caches nothing. A
    change that adds a stage exchange or a cache back fails here."""
    from collections import Counter

    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import merged_network

    plan = plan_of(merged_network(car_network(osm["ways"]),
                                  osm["way_nodes"]))
    assert "isFinalPlan=false" in plan
    keys = Counter(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"node_id": 1, "way_id": 3, "edge_id": 1}, plan
    assert "InMemoryRelation" not in plan
    assert "Exchange" not in plan.replace("Exchange hashpartitioning", "")


def test_merged_network_broadcasts_subset_merge_rows(spark, osm):
    """The nodes path broadcasts its merge rows exactly when a
    shared-node override marks a subset re-split: the analyzed plan of a
    subset re-split carries a broadcast hint, the full nodes path none."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import (
        merged_network, network_way_nodes, shared_nodes)

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    cn, wn, nodes = car_network(osm["ways"]), osm["way_nodes"], osm["nodes"]
    shared = shared_nodes(network_way_nodes(wn, cn))
    sub_cn = cn.filter(F.col("edge_id").isin(1, 4))
    subset = analyzed(merged_network(sub_cn, wn, nodes=nodes,
                                     shared_override=shared))
    full = analyzed(merged_network(cn, wn, nodes=nodes))
    assert "strategy=broadcast" in subset, subset
    assert "strategy=broadcast" not in full, full


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
