"""Every graph operator leaves Spark's CacheManager as it found it.

The iterative operators in ``operators.graph_algo`` cache their static
per-round tables inside ``with`` scopes that unpersist on exit, also when
a round raises, and they materialize their result before the scope
closes. These tests write each operator's output and compare the
CacheManager entry count with the count before the call; they also check
that an output plan never reads a table whose cache was already released.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from osm_pg_etl_spark.operators import graph_algo as ga

SIDE = 5
# block size (_BLOCK_EDGES, _ARRAY_BLOCK_EDGES) that puts every graph here
# in one block
ONE_BLOCK = 10**12


def _node(r, c):
    return r * SIDE + c + 1


def _grid_edges():
    """A SIDE×SIDE grid with one diagonal per cell on the first row (so
    there are triangles), plus a pendant path 1-100-101 (so k_core peels
    something). Weights vary so shortest paths are not all unit hops."""
    out = []
    for r in range(SIDE):
        for c in range(SIDE):
            if c + 1 < SIDE:
                out.append((_node(r, c), _node(r, c + 1), 1.0 + (r + c) % 3))
            if r + 1 < SIDE:
                out.append((_node(r, c), _node(r + 1, c), 1.5 + c % 2))
            if r == 0 and c + 1 < SIDE:
                out.append((_node(r, c), _node(r + 1, c + 1), 2.5))
    out += [(1, 100, 1.0), (100, 101, 1.0)]
    return out


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(
        [(u, v, w, int(w * 10)) for u, v, w in _grid_edges()],
        "src long, dst long, w double, wl long")


@pytest.fixture(scope="module")
def directed(spark):
    both = [(u, v, w) for u, v, w in _grid_edges()]
    both += [(v, u, w) for u, v, w in _grid_edges()]
    return spark.createDataFrame(
        both, "start_node long, end_node long, length double")


# no straight-on from edge 1->2 along the chain 2->3 into node 4
_VIA_WAY = [{"rid": 1, "kind": "no_straight_on", "entries": [(1, 2)],
             "chain": [(2, 3)], "exits": [4]}]

OPERATORS = {
    "connected_components": lambda e, d: ga.connected_components(e),
    "shortest_paths": lambda e, d: ga.shortest_paths(e, 1, max_hops=4),
    "shortest_paths_weighted":
        lambda e, d: ga.shortest_paths_weighted(e, 1),
    "shortest_paths_radius":
        lambda e, d: ga.shortest_paths_radius(e, 1, delta=3.0),
    "turn_restricted_distances":
        lambda e, d: ga.turn_restricted_distances(d, 1),
    "turn_restricted_via_way":
        lambda e, d: ga.turn_restricted_distances(
            d, 1, via_way_restrictions=_VIA_WAY),
    "sigma_table": lambda e, d: ga.sigma_table(e, [1, 13], max_depth=3),
    "betweenness": lambda e, d: ga.betweenness(e, [1, 13], max_depth=3),
    "pagerank": lambda e, d: ga.pagerank(e, n_iter=3),
    "personalized_pagerank":
        lambda e, d: ga.personalized_pagerank(e, [1, 13], n_iter=3),
    "label_propagation": lambda e, d: ga.label_propagation(e, n_iter=2),
    "louvain": lambda e, d: ga.louvain(e, rounds=(3, 2)),
    "louvain_weighted":
        lambda e, d: ga.louvain(e, rounds=(3, 2), weight="wl"),
    "k_core": lambda e, d: ga.k_core(e, k=2),
    "triangle_counts": lambda e, d: ga.triangle_counts(e),
}


def _tagged(df, tag):
    """``df`` under a plan unique to ``tag``: the CacheManager does not add
    an entry for a plan it already holds, so an entry leaked by an earlier
    case would otherwise hide the same leak in a later one."""
    return df.withColumn("_case", F.lit(tag))


def _cache_entries(spark):
    return spark._jsparkSession.sharedState().cacheManager() \
        .numCachedEntries()


def _write(df):
    df.write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_releases_its_caches(spark, edges, directed, name):
    before = _cache_entries(spark)
    _write(OPERATORS[name](_tagged(edges, name), _tagged(directed, name)))
    assert _cache_entries(spark) == before


@pytest.mark.parametrize("target", ["_ckpt_observe", "_louvain_round"])
def test_scope_releases_cache_when_a_round_raises(spark, edges, monkeypatch,
                                                  target):
    """A round that raises still leaves the CacheManager as it was:
    weighted SSSP fails in its first relaxation round, louvain in the
    first round of its second level (after one contraction)."""
    real = getattr(ga, target)
    calls = []

    def failing(*args, **kwargs):
        calls.append(1)
        if target == "_ckpt_observe" or len(calls) > 3:
            raise RuntimeError("round failed")
        return real(*args, **kwargs)

    monkeypatch.setattr(ga, target, failing)
    edges = _tagged(edges, f"raises{target}")
    before = _cache_entries(spark)
    with pytest.raises(RuntimeError, match="round failed"):
        if target == "_ckpt_observe":
            ga.shortest_paths_weighted(edges, 1)
        else:
            ga.louvain(edges, rounds=(3, 2), early_stop=False)
    assert calls
    assert _cache_entries(spark) == before


def test_betweenness_output_reads_no_released_cache(spark, edges,
                                                    monkeypatch):
    """The output plan must not embed a table whose cache the operator
    already released (it would silently recompute it at the action).
    Every DataFrame the call caches is recorded; after the call the
    recorded plans are cached again, so any output subtree that still
    matches one would now plan as an InMemoryTableScan."""
    cached = []
    real_cache = DataFrame.cache

    def recording_cache(df):
        cached.append(df)
        return real_cache(df)

    monkeypatch.setattr(DataFrame, "cache", recording_cache)
    out = ga.betweenness(_tagged(edges, "plan"), [1, 13], max_depth=3)
    monkeypatch.undo()
    assert cached, "betweenness caches its per-level tables"
    recached = [real_cache(df) for df in cached]
    try:
        plan = (out.select("*")._jdf.queryExecution()
                .executedPlan().toString())
        assert "InMemoryTableScan" not in plan, plan
    finally:
        for df in recached:
            df.unpersist()
    got = {r["node"]: r["betweenness"] for r in out.collect()}
    assert got and all(v >= 0.0 for v in got.values())


def test_fixpoint_loops_persist_a_bounded_number_of_rdds(spark, tmp_path,
                                                        monkeypatch):
    """Every round of a fixpoint loop leaves its localCheckpoint RDD
    persisted until the JVM collects its DataFrame. Components and
    weighted SSSP on a 40-node path must leave a small number of them
    that does not grow with the path: the per-hop loop left one per hop.
    Pagerank, personalized pagerank and label propagation run all rounds
    in one step at one block, and at four blocks release each round's
    checkpoint once the next one is written, so they leave at most two,
    whatever ``n_iter``.
    Counted by RDD id, since the ContextCleaner may free an earlier
    test's RDDs meanwhile."""
    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    n = 40
    edges = spark.createDataFrame([(i, i + 1, 1.0) for i in range(n - 1)],
                                  "src long, dst long, w double")
    before = persisted_ids()
    ga.connected_components(edges).write.parquet(str(tmp_path / "cc"))
    ga.shortest_paths_weighted(edges, 0).write.parquet(str(tmp_path / "sp"))
    assert len(persisted_ids() - before) <= 6
    ranked = {
        "pagerank": lambda k: ga.pagerank(edges, n_iter=k),
        "personalized_pagerank":
            lambda k: ga.personalized_pagerank(edges, [0, 7], n_iter=k),
        "label_propagation": lambda k: ga.label_propagation(edges, n_iter=k),
    }
    # nine rounds: the Spark join loops these steps replaced left one
    # checkpoint per two (pagerank) or four (label propagation) rounds
    for block_edges, n_iter in ((ONE_BLOCK, 9), (10, 3)):
        monkeypatch.setattr(ga, "_ARRAY_BLOCK_EDGES", block_edges)
        for name, run in ranked.items():
            before = persisted_ids()
            run(n_iter).write.parquet(str(tmp_path / f"{name}{block_edges}"))
            assert len(persisted_ids() - before) <= 2, (name, block_edges)
