"""osm_pg_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``jorgegil/osm-pg-etl`` reference pipeline.

The reference is a SQL-scripted ETL running inside PostgreSQL/PostGIS
(see SURVEY.md). This package re-expresses every operator it uses as
idiomatic PySpark DataFrame transformations: Catalyst is the optimizer,
the DataFrame DAG is the plan, and geometry is modelled as plain
``struct<lon,lat>`` / ``array<struct<lon,lat>>`` columns so the whole
pipeline stays inside whole-stage codegen (no Python UDFs on hot paths).

Layout
------
- ``functions/``  scalar/array/map/geo column expressions (pure Column → Column)
- ``operators/``  table-level transformations (tags, stats, topology, graphs,
                  pois, dedup, similarity, text)
- ``sources/``    readers/writers for the OSM relational model and test data
- ``streaming/``  incremental maintenance of derived tables (actions feed)
- ``plans/``      the query registry consumed by ``__spark_entry__.py``
"""

__version__ = "0.1.0"
