"""Gate registry consistency, checked without a Spark session: every
``bench.py`` headline gate is registered with an oracle, each plan module
pairs its queries with oracles one to one, and no name is registered
twice."""

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import HEADLINE  # noqa: E402
from osm_pg_etl_spark.plans import datapipe, osm_derived, relational  # noqa: E402
from osm_pg_etl_spark.plans.registry import all_oracles, all_queries  # noqa: E402

MODULES = (relational, osm_derived, datapipe)


def test_registry_pairs_every_query_with_one_oracle():
    queries, oracles = all_queries(), all_oracles()
    missing = [n for n in HEADLINE if n not in queries or n not in oracles]
    assert not missing, f"headline gates not registered with an oracle: {missing}"
    for mod in MODULES:
        assert mod.QUERIES.keys() == mod.ORACLES.keys(), (
            mod.__name__,
            sorted(mod.QUERIES.keys() ^ mod.ORACLES.keys()))
    names = [n for mod in MODULES for n in mod.QUERIES]
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1)
    assert len(queries) == len(oracles) == len(names)
