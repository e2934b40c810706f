"""The workloads: the CLI's product path split into timed calls.

Each workload prepares its untimed state, runs one pass through a
:class:`probe.Probe`, and checks the last pass's outputs against the
generator's ground truth. A pass writes its outputs under ``out`` exactly as
the CLI subcommands do (``osm_pg_etl_spark/__main__.py``).
"""

from __future__ import annotations

import hashlib
import heapq
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osm_pg_etl_spark.operators import graph_algo as ga
from osm_pg_etl_spark.operators import topology
from osm_pg_etl_spark.operators.graphs import directed_network
from osm_pg_etl_spark.operators.network import (
    car_network, complete_network, impute_speed_limit, with_mode_flags)
from osm_pg_etl_spark.operators.tags import tags_summary_catalog
from osm_pg_etl_spark.sources.io import read_osm
from osm_pg_etl_spark.sources.pbf import (
    assemble_linestrings, blob_index, read_pbf)

import gen


def _table(path: str, *columns: str):
    """A Spark output directory read with pyarrow: checks start no job."""
    return pq.read_table(path, columns=list(columns))


def _writer(path: str):
    return lambda df: df.write.mode("overwrite").parquet(path)


def _write_all(base: str):
    def sink(tables: dict) -> None:
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(f"{base}/{name}.parquet")
    return sink


def segment_hash(rows) -> str:
    """Value hash of merged-network rows keyed (edge_id, start_node,
    end_node, n_nodes, round(length, 4)), independent of row order."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def segment_rows(df):
    return df.select("edge_id", "start_node", "end_node",
                     F.size("nodes").alias("n_nodes"),
                     F.round("length", 4).alias("length4")).collect()


def dijkstra(edges, source: int) -> dict[int, float]:
    """Pure-Python weighted single-source distances over (u, v, w)."""
    adj: dict[int, list] = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist = {source: 0.0}
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj.get(u, ()):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


class Workload:
    """One workload over one generated extract."""

    name = ""
    size = "medium"

    def __init__(self, spark, data: str, out: str):
        self.spark, self.data, self.out = spark, data, out
        with open(os.path.join(data, "truth.json")) as f:
            self.truth = json.load(f)
        self.counts: dict[str, float] = {}   # per-layer counts of the run

    def prepare(self) -> None:
        """Untimed state every pass starts from."""

    def run_pass(self, p) -> None:
        raise NotImplementedError

    def rows(self) -> int:
        """Input rows one pass processes (the rows_per_s numerator)."""
        raise NotImplementedError

    def check(self, traced: bool) -> dict[str, list[str]]:
        """Mismatches of the last pass's outputs, by the call that made
        them. Also fills :attr:`counts` (those only the traced run reports
        when ``traced``)."""
        raise NotImplementedError


class IngestExplore(Workload):
    """``ingest`` then ``tags``: PBF decode, linestring assembly, parquet,
    and the tags_summary catalog."""

    name = "ingest_explore"
    size = "small"

    def prepare(self) -> None:
        self.pbf = os.path.join(self.data, "extract.osm.pbf")
        self.counts["pbf.blobs"] = sum(t == "OSMData"
                                       for t, _, _ in blob_index(self.pbf))
        self.counts["pbf.entities"] = self.rows()

    def rows(self) -> int:
        return self.truth["nodes"] + self.truth["ways"]

    def run_pass(self, p) -> None:
        s, osm = self.spark, f"{self.out}/osm"
        nodes = p.call("pbf.read_nodes", read_pbf, s, self.pbf, "nodes")
        ways = p.call("pbf.read_ways", read_pbf, s, self.pbf, "ways")
        way_nodes = p.call("pbf.read_way_nodes", read_pbf, s, self.pbf,
                           "way_nodes")
        ways = p.call("pbf.assemble", assemble_linestrings, ways, nodes)
        p.call("io.write", lambda: {"nodes": nodes, "ways": ways,
                                    "way_nodes": way_nodes},
               sink=_write_all(osm))
        d = p.call("io.read_osm", read_osm, s, osm, ("nodes", "ways"))
        # written as CTAS tables: ordered=False skips the presentation sorts
        p.call("tags.catalog", tags_summary_catalog, d["nodes"], d["ways"],
               ordered=False, sink=_write_all(f"{self.out}/tags"))

    def check(self, traced: bool) -> dict[str, list[str]]:
        t, bad = self.truth, {}
        d = read_osm(self.spark, f"{self.out}/osm")
        ref = read_osm(self.spark, self.data, ("nodes",))["nodes"]
        for name, call in (("nodes", "pbf.read_nodes"),
                           ("ways", "pbf.read_ways"),
                           ("way_nodes", "pbf.read_way_nodes")):
            n = d[name].count()
            if n != t[name]:
                bad.setdefault(call, []).append(f"{name}: {n} != {t[name]}")
        missing = d["ways"].filter(F.col("linestring").isNull()).count()
        if missing:
            bad.setdefault("pbf.assemble", []).append(
                f"{missing} ways without a linestring")
        cols = ("id", "lon", "lat")
        diff = (d["nodes"].select(*cols).exceptAll(ref.select(*cols)).count()
                + ref.select(*cols).exceptAll(d["nodes"].select(*cols))
                .count())
        if diff:
            bad.setdefault("io.write", []).append(
                f"{diff} node rows differ from the generated table")
        tags = f"{self.out}/tags"
        for table, want in (("highway_values", "highway_ways"),
                            ("highway_oneway_values", "highway_oneway_ways")):
            got = self.spark.read.parquet(f"{tags}/{table}.parquet") \
                .agg(F.sum("count")).collect()[0][0]
            if got != t[want]:
                bad.setdefault("tags.catalog", []).append(
                    f"{table}: {got} != {t[want]}")
        return bad


def _duckdb_segments(data: str) -> list[tuple]:
    """The DuckDB fragments of ``plans/osm_derived.py`` (``_TOPOLOGY_SQL``,
    ``_MERGED_SQL``) over the generated tables."""
    import duckdb

    from osm_pg_etl_spark.plans.osm_derived import (
        _MERGED_SQL, _TOPOLOGY_SQL, _WAYENDS_SQL, _WAYLEN_SQL, _cte)

    ways = pq.read_table(os.path.join(data, "ways.parquet"),
                         columns=["id", "tags"]).to_pylist()
    cn = [{"edge_id": w["id"], "highway": dict(w["tags"]).get("highway"),
           "oneway": dict(w["tags"]).get("oneway"),
           "speed_limit": gen.first_int(dict(w["tags"]).get("maxspeed"))}
          for w in ways if gen.is_car(dict(w["tags"]))]
    con = duckdb.connect()
    try:
        import pandas as pd
        con.register("cn", pd.DataFrame(cn))
        con.execute(f"CREATE VIEW wn AS SELECT way_id, node_id, sequence_id "
                    f"FROM '{data}/way_nodes.parquet'")
        con.execute(f"CREATE VIEW nodes_d AS SELECT id, lon, lat "
                    f"FROM '{data}/nodes.parquet'")
        sql = _cte(_WAYLEN_SQL, _WAYENDS_SQL, _TOPOLOGY_SQL, _MERGED_SQL) + \
            "SELECT edge_id, start_node, end_node, n_nodes, " \
            "ROUND(length, 4) FROM merged"
        return con.execute(sql).fetchall()
    finally:
        con.close()


class NetworkAnalyze(Workload):
    """``network`` (car and complete), ``export`` and ``analyze``: filter,
    impute, topological split, directed expansion, CSV edge list and the
    graph analyses of the directed car graph (:class:`Analyze`); then the
    :class:`ChangeBatch` update."""

    name = "network_analyze"

    def __init__(self, spark, data: str, out: str):
        super().__init__(spark, data, out)
        self.analyze = Analyze(spark, data, f"{out}/analyze")
        self.update = ChangeBatch(spark, data, f"{out}/update")
        self.update.counts = self.analyze.counts = self.counts

    def prepare(self) -> None:
        self.analyze.prepare()

    def rows(self) -> int:
        return (self.truth["way_nodes"] + self.analyze.rows()
                + self.update.rows())

    def run_pass(self, p) -> None:
        s, car_dir = self.spark, f"{self.out}/car"
        d = p.call("io.read_osm", read_osm, s, self.data,
                   ("nodes", "ways", "way_nodes"))
        net = p.call("network.car", lambda: impute_speed_limit(
            car_network(d["ways"]).cache()))
        merged = p.call("topology.merged_car", topology.merged_network, net,
                        d["way_nodes"],
                        sink=_writer(f"{car_dir}/merged.parquet"))
        p.call("graphs.directed", directed_network, merged,
               sink=_writer(f"{car_dir}/directed.parquet"))
        full = p.call("network.complete", lambda: with_mode_flags(
            complete_network(d["ways"]).cache(), tag=F.col))
        p.call("topology.merged_complete", topology.merged_network, full,
               d["way_nodes"],
               sink=_writer(f"{self.out}/complete/merged.parquet"))
        p.call("export.csv", self._export, f"{car_dir}/directed.parquet",
               sink=lambda df: df.write.mode("overwrite")
               .option("header", True).csv(f"{self.out}/edges.csv"))
        self.analyze.run_pass(p, f"{car_dir}/directed.parquet")
        if not self.update.ready:
            # built on the warm-up pass, once the network phase has compiled
            # the plans it shares: on a 4-core VM, 10 s cold, 2 s here
            self.update.prepare()
        self.update.run_pass(p)

    def _export(self, path: str):
        """``cmd_export``'s igraph edge-list projection."""
        directed = self.spark.read.parquet(path)
        cols = [c for c in ("start_node", "end_node", "length", "length_km",
                            "speed_limit") if c in directed.columns]
        return directed.select(*cols).coalesce(1)

    def check(self, traced: bool) -> dict[str, list[str]]:
        t, bad, s = self.truth, {}, self.spark
        merged = s.read.parquet(f"{self.out}/car/merged.parquet")
        rows = segment_rows(merged)
        if len(rows) != t["car_segments"]:
            bad.setdefault("topology.merged_car", []).append(
                f"segments {len(rows)} != {t['car_segments']}")
        length = sum(_table(f"{self.out}/car/merged.parquet", "length")
                     .column(0).to_pylist())
        if abs(length - t["car_length_km"]) > 1e-9 * t["car_length_km"]:
            bad.setdefault("topology.merged_car", []).append(
                f"car length {length} != {t['car_length_km']}")
        if segment_hash(rows) != segment_hash(_duckdb_segments(self.data)):
            bad.setdefault("topology.merged_car", []).append(
                "hash differs from the DuckDB topology fragments")
        edges = _table(f"{self.out}/car/directed.parquet").num_rows
        if edges != t["directed_edges"]:
            bad.setdefault("graphs.directed", []).append(
                f"directed edges {edges} != {t['directed_edges']}")
        full = _table(f"{self.out}/complete/merged.parquet").num_rows
        if full != t["complete_segments"]:
            bad.setdefault("topology.merged_complete", []).append(
                f"segments {full} != {t['complete_segments']}")
        csv_dir = f"{self.out}/edges.csv"
        parts = [os.path.join(csv_dir, f) for f in os.listdir(csv_dir)
                 if f.startswith("part-")]
        lines = 0
        for f in parts:
            with open(f) as fh:
                lines += sum(1 for _ in fh)
        if lines != t["directed_edges"] + len(parts):
            bad.setdefault("export.csv", []).append(
                f"CSV lines {lines} != {t['directed_edges']} + headers")
        self.counts.update({
            "topology.segments": len(rows), "graphs.edges": edges,
            "export.bytes": sum(os.path.getsize(f) for f in parts)})
        for call, msgs in self.analyze.check(traced).items():
            bad.setdefault(call, []).extend(msgs)
        for call, msgs in self.update.check(traced).items():
            bad.setdefault(call, []).extend(f"update: {m}" for m in msgs)
        return bad


class ChangeBatch(Workload):
    """The update phase of ``network_analyze``: a seeded change batch
    applied to the materialized car network through
    ``merged_network_incremental``, then ``directed_network``. Every pass
    starts from the same base state."""

    ready = False                        # base state built

    def prepare(self) -> None:
        base = read_osm(self.spark, self.data, ("ways", "way_nodes"))
        self.old_net = car_network(base["ways"]).localCheckpoint()
        self.old_wn = base["way_nodes"].localCheckpoint()
        self.old_merged = topology.merged_network(
            self.old_net, self.old_wn).localCheckpoint()
        self.old_counts = (topology.network_way_nodes(self.old_wn,
                                                      self.old_net)
                           .groupBy("node_id")
                           .agg(F.count(F.lit(1)).alias("count"))
                           .localCheckpoint())
        self.spark.catalog.clearCache()
        self.ready = True

    def rows(self) -> int:
        return self.truth["batch"]["changed_refs"]

    def _batch(self) -> dict:
        d = read_osm(self.spark, f"{self.data}/batch", ("ways", "way_nodes"))
        d["changed"] = self.spark.read.parquet(
            f"{self.data}/batch/changed.parquet")
        return d

    def _incremental(self, new_net, d, return_affected=False):
        return topology.merged_network_incremental(
            self.old_net, self.old_wn, self.old_merged, new_net,
            d["way_nodes"], d["changed"], old_node_counts=self.old_counts,
            return_affected=return_affected)

    def run_pass(self, p) -> None:
        split = topology.merged_network

        def traced_split(*args, **kwargs):
            return p.call("topology.merged_car", split, *args, **kwargs)

        topology.merged_network = traced_split
        try:
            d = p.call("io.read_osm", self._batch)
            net = p.call("network.car", car_network, d["ways"])
            p.call("topology.incremental", self._incremental, net, d,
                   sink=_writer(f"{self.out}/merged.parquet"))
            # the maintained table is the next batch's state: read it back
            merged = self.spark.read.parquet(f"{self.out}/merged.parquet")
            p.call("graphs.directed", directed_network, merged,
                   sink=_writer(f"{self.out}/directed.parquet"))
        finally:
            topology.merged_network = split

    def check(self, traced: bool) -> dict[str, list[str]]:
        t, bad, s = self.truth["batch"], {}, self.spark
        inc = segment_rows(s.read.parquet(f"{self.out}/merged.parquet"))
        d = self._batch()
        net = car_network(d["ways"])
        full = segment_rows(topology.merged_network(net, d["way_nodes"]))
        if segment_hash(inc) != segment_hash(full):
            bad.setdefault("topology.incremental", []).append(
                "incremental output differs from a full rebuild")
        if len(inc) != t["car_segments"]:
            bad.setdefault("topology.incremental", []).append(
                f"segments {len(inc)} != {t['car_segments']}")
        edges = _table(f"{self.out}/directed.parquet").num_rows
        if edges != t["directed_edges"]:
            bad.setdefault("graphs.directed", []).append(
                f"directed edges {edges} != {t['directed_edges']}")
        if traced:
            _, affected = self._incremental(net, d, return_affected=True)
            self.counts["topology.affected_ratio"] = (
                affected.count() / self.truth["car_ways"])
        return bad


class Analyze(Workload):
    """The analyze phase of ``network_analyze``: components, pagerank,
    communities and weighted sssp over the directed car graph the pass
    wrote, as ``cmd_analyze`` reads it."""

    iterations = 2                       # the CLI's --iterations

    def prepare(self) -> None:
        tbl = pq.read_table(f"{self.data}/directed.parquet",
                            columns=["start_node", "end_node", "length"])
        self.truth_edges = list(zip(*(tbl.column(c).to_pylist()
                                      for c in tbl.column_names)))
        self.source = min(u for u, _, _ in self.truth_edges)
        self.nodes = len({n for u, v, _ in self.truth_edges for n in (u, v)})

    def rows(self) -> int:
        return self.truth["directed_edges"]

    def run_pass(self, p, path: str) -> None:
        o, n = self.out, self.iterations
        directed = self.spark.read.parquet(path)
        edges = directed.select(F.col("start_node").alias("src"),
                                F.col("end_node").alias("dst"))
        p.call("graph_algo.components", ga.connected_components, edges,
               sink=_writer(f"{o}/components.parquet"))
        p.call("graph_algo.pagerank", ga.pagerank, edges, n_iter=n,
               sink=_writer(f"{o}/pagerank.parquet"))
        p.call("graph_algo.communities", ga.label_propagation, edges,
               n_iter=n, sink=_writer(f"{o}/communities.parquet"))
        p.call("graph_algo.sssp", ga.shortest_paths_weighted, directed,
               self.source, src="start_node", dst="end_node",
               weight="length", sink=_writer(f"{o}/sssp.parquet"))

    def check(self, traced: bool) -> dict[str, list[str]]:
        t, bad, o, nodes = self.truth, {}, self.out, self.nodes
        comps = _table(f"{o}/components.parquet", "component").column(0)
        n_comp = len(set(comps.to_pylist()))
        if n_comp != t["components"] or len(comps) != nodes:
            bad.setdefault("graph_algo.components", []).append(
                f"components {n_comp} != {t['components']}")
        pr = _table(f"{o}/pagerank.parquet", "pagerank").column(0)
        mass = sum(pr.to_pylist())
        if len(pr) != nodes or abs(mass - 1.0) > 1e-6:
            bad.setdefault("graph_algo.pagerank", []).append(
                f"pagerank rows {len(pr)} (want {nodes}), mass {mass}")
        labels = _table(f"{o}/communities.parquet").num_rows
        if labels != nodes:
            bad.setdefault("graph_algo.communities", []).append(
                f"labelled nodes {labels} != {nodes}")
        want = dijkstra(self.truth_edges, self.source)
        sssp = _table(f"{o}/sssp.parquet", "node", "dist")
        got = dict(zip(*(c.to_pylist() for c in sssp.columns)))
        off = [n for n in want
               if n not in got or abs(got[n] - want[n]) > 1e-9 * (1 + want[n])]
        if len(got) != len(want) or off:
            bad.setdefault("graph_algo.sssp", []).append(
                f"reached {len(got)} (want {len(want)}), "
                f"{len(off)} distances differ")
        return bad


WORKLOADS = {w.name: w for w in (IngestExplore, NetworkAnalyze)}
