"""Compare the Spark-side via-way parse vs the oracle's vwres/vwpat/vwexit
CTEs — isolates parse mismatch from routing mismatch.

Usage: python scripts/debug_viaway_oracle.py [sf_dir]
"""
import sys

sys.path.insert(0, ".")

import duckdb

from osm_pg_etl_spark.session import get_spark
from osm_pg_etl_spark.plans.osm_derived import (
    _sql_osm_turn_restricted_via_way, derive_osm, car_network,
    merged_network, directed_network, derive_via_way_restriction_relations)
from osm_pg_etl_spark.operators.relations import via_way_turn_restrictions

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

spark = get_spark()
d = derive_osm(spark, SF)
cn = car_network(d["ways"]).cache()
merged = merged_network(cn, d["way_nodes"])
directed = directed_network(merged).cache()
rels, members = derive_via_way_restriction_relations(directed)
vw = via_way_turn_restrictions(rels, members, directed)
print(f"spark: {len(vw)} resolved restrictions")
# canonical content key (independent of rid hashing): kind, node path,
# entry set, exit set
spark_set = {
    (r["kind"],
     tuple([r["chain"][0][0]] + [e[1] for e in r["chain"]]),
     tuple(sorted({u for u, _ in r["entries"]})),
     tuple(sorted(set(r["exits"]))))
    for r in vw}

con = duckdb.connect()
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
sql = _sql_osm_turn_restricted_via_way()
head = sql[:sql.index(",\ntsp0 AS")]
rows = con.execute(head + """
SELECT r.kind, r.path,
  (SELECT LIST(DISTINCT p.pat[1] ORDER BY p.pat[1]) FROM vwpat p
    WHERE p.rid = r.rid) AS entries,
  (SELECT LIST(DISTINCT e.x ORDER BY e.x) FROM vwexit e
    WHERE e.rid = r.rid) AS exits
FROM vwres r""").fetchall()
print(f"oracle: {len(rows)} resolved restrictions")
duck_set = {(k, tuple(p), tuple(es or ()), tuple(xs or ()))
            for k, p, es, xs in rows}

print("spark-only:", len(spark_set - duck_set))
for r in sorted(spark_set - duck_set)[:8]:
    print("  S", r)
print("oracle-only:", len(duck_set - spark_set))
for r in sorted(duck_set - spark_set)[:8]:
    print("  O", r)
spark.stop()
