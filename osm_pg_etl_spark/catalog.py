"""SQL catalog surface: the reference's users talk to *named tables* in
psql (``graphs.car_network``, ``topology_summary.ways_merge_limits``, …,
created by CTAS chains in ``osm-road-graphs.sql``). This module registers
the same world as Spark temp views (schema dots become underscores) so the
whole pipeline is queryable with ``spark.sql`` exactly like the reference —
S2/S3's "CTAS ≡ registered DataFrame" made concrete.

Views are lazy plans; reused subtrees (the network filter, the restricted
way_nodes) are cached at registration, mirroring which tables the reference
materializes. At scale, swap ``materialize`` for ``write_table`` +
``saveAsTable`` to land them in a real metastore instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.graphs import directed_network, network_nodes
from .operators.network import car_network
from .operators.pois import pois_from_nodes
from .operators.topology import (
    merged_network,
    network_way_nodes,
    nodes_to_merge,
    shared_nodes,
    ways_length,
    ways_merge_limits,
    ways_split_nodes,
)
from .sources.io import materialize


def register_osm_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register the OSM base tables and every derived pipeline table under
    the reference's names (``graphs.x`` → ``x``, ``topology_summary.y`` →
    ``y``). Returns the name → DataFrame mapping."""
    from .plans.osm_derived import derive_osm

    d = derive_osm(spark, sf_dir)
    cn = materialize(car_network(d["ways"]), "car_network")
    wn_net = materialize(network_way_nodes(d["way_nodes"], cn),
                         "network_way_nodes")
    shared = shared_nodes(wn_net)
    lengths = ways_length(wn_net)
    splits = ways_split_nodes(wn_net)
    limits = ways_merge_limits(wn_net)
    merged = merged_network(cn, d["way_nodes"])

    views: dict[str, DataFrame] = {
        "nodes": d["nodes"],
        "ways": d["ways"],
        "way_nodes": d["way_nodes"],
        "car_network": cn,
        "network_way_nodes": wn_net,
        "ways_shared_nodes": shared,
        "ways_length": lengths,
        "ways_split_nodes": splits,
        "ways_merge_limits": limits,
        "nodes_to_merge": nodes_to_merge(wn_net, limits),
        "car_network_merged": merged,
        "car_graph_directed": directed_network(merged, minimal=True),
        "network_nodes": network_nodes(d["nodes"], merged),
        "pois": pois_from_nodes(d["nodes"]),
    }
    for name, df in views.items():
        if name not in ("car_network", "network_way_nodes"):  # already done
            df.createOrReplaceTempView(name)
    return views


def schema_info(spark: SparkSession) -> DataFrame:
    """The one-row ``schema_info`` table
    (``etl/pgsnapshot_schema_0.6.sql:18-21,84``)."""
    from .schema import PGSNAPSHOT_SCHEMA_VERSION, SCHEMA_INFO

    return spark.createDataFrame([(PGSNAPSHOT_SCHEMA_VERSION,)], SCHEMA_INFO)


def users_table(*entities: DataFrame) -> DataFrame:
    """The pgsnapshot ``users`` table
    (``etl/pgsnapshot_schema_0.6.sql:24-28``) recovered from loaded entity
    tables: the distinct ``user_id`` values across nodes/ways/relations.
    ``name`` is NULL unless a source carried it (the in-engine PBF reader
    decodes ``uid`` but not the string-table user names; Osmosis-converted
    parquet may include both). One map-side-combinable distinct."""
    from pyspark.sql import functions as F

    parts = [e.select(F.col("user_id").cast("int").alias("id"),
                      (F.col("user_name") if "user_name" in e.columns
                       else F.lit(None).cast("string")).alias("name"))
             for e in entities]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out.where(F.col("id").isNotNull())
            .groupBy("id").agg(F.max("name").alias("name")))


def register_tags_summary(spark: SparkSession, nodes: DataFrame,
                          ways: DataFrame,
                          relations: DataFrame | None = None,
                          ) -> dict[str, DataFrame]:
    """Register every ``tags_summary.*`` table of ``osm-explore.sql`` as a
    temp view (``tags_summary.highway_values`` →
    ``tags_summary_highway_values``, matching this module's dots→underscores
    convention). Returns the name → DataFrame mapping (short names)."""
    from .operators.tags import tags_summary_catalog

    cat = tags_summary_catalog(nodes, ways, relations)
    for name, df in cat.items():
        df.createOrReplaceTempView(f"tags_summary_{name}")
    return cat
