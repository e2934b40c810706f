"""Topological way-splitting — the reference's crown jewel
(``osm-road-graphs.sql:64-165``, generic form ``osm-road-graphs-fix.sql:17-75,
134-182``; SURVEY §2.3 J7-J10, §2.4 A7-A10, §2.5 W1).

OSM ways do not break at intersections; the pipeline reconstructs proper
graph edges by splitting each way at nodes shared with other ways
("Approach 2" in the reference — ``osm-road-graphs-fix.sql:14``: "Node based
reconstruction is topological and therefore more precise and robust"). This
is the approach that scales: it is pure joins/windows/aggregations with no
spatial machinery, unlike the O(n²) geometric split the reference itself
flags as "Does not work with large maps" (``osm-road-graphs-fix.sql:91``).

The split is one per-way pass (:func:`_way_limits` holds its boundary
rules): a count window over ``node_id`` flags the shared way_nodes rows,
one ``groupBy(way_id)`` collects each way's length and shared positions,
and array functions turn them into [bottom, top] segment ranges (W1, J10,
J2/J3). :func:`merged_network` then assembles the segments one of two
ways, chosen by its input alone:

- without ``nodes``, a segment is a slice of its way's own
  ``nodes``/``geom`` arrays, joined to the network table once; unsplit
  ways pass through as one whole-way slice (A7/A8, J6, J4);
- with ``nodes``, every way (an unsplit one as the whole-way range
  [0, max seq]) is rebuilt from way_nodes ⋈ nodes, and only
  (edge_id, tags, attrs) is read from the network table. A given
  ``shared_override`` marks a subset re-split, whose merge rows are
  broadcast into the nodes join.

The reference's ``topology_summary.*`` tables stay available under their
names: ``shared_nodes`` and ``ways_length`` are plain aggregations,
``ways_split_nodes`` and ``ways_merge_limits`` explode the same per-way
arrays, and ``nodes_to_merge`` is the way_nodes × limits range join (J7)
of the nodes path.

Scale notes: one ``node_id`` and one ``way_id`` exchange plus the joins
with the network table, and no cache. AQE handles the mild skew (a handful
of mega-ways). Slicing each way's own arrays avoids the way_nodes×nodes
join, the single biggest shuffle of the reference pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import array_first, array_last
from ..functions.geo import linestring_length_km

# attribute columns carried through the split by default (the car-network
# set, osm-road-graphs.sql:149-159); complete_network_merged passes the wider
# mode-flag set (osm-complete-graphs-fix.sql:167-188)
DEFAULT_MERGE_ATTRS = ("speed_limit", "highway", "oneway")

def unnest_way_nodes(ways: DataFrame) -> DataFrame:
    """``unnest_bbox_way_nodes`` (U6, ``etl/pgsnapshot_schema_0.6.sql:
    122-136``): the plpgsql loop that unnests ``ways.nodes`` into
    (way_id, node_id, sequence_id) rows is a single posexplode."""
    return ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("nodes").alias("sequence_id", "node_id"),
    ).select("way_id", "node_id", F.col("sequence_id").cast("int").alias("sequence_id"))


def network_way_nodes(way_nodes: DataFrame, network: DataFrame) -> DataFrame:
    """way_nodes restricted to network ways — the ``way_id IN (SELECT
    edge_id ...)`` semi-join used by every stage (``osm-road-graphs.sql:72,
    82,91``). Computed once and cached by the pipeline driver."""
    ids = network.select(F.col("edge_id").alias("way_id"))
    return way_nodes.join(ids, "way_id", "left_semi")


def shared_nodes(wn_net: DataFrame) -> DataFrame:
    """``topology_summary.ways_shared_nodes`` (``osm-road-graphs.sql:66-76``)."""
    return (wn_net.groupBy("node_id")
            .agg(F.count(F.lit(1)).alias("count"))
            .filter(F.col("count") > 1))


def ways_length(wn_net: DataFrame) -> DataFrame:
    """``topology_summary.ways_length`` (``osm-road-graphs.sql:78-85``):
    DISTINCT ON (way_id) ... ORDER BY sequence_id DESC ≡ max_by. The
    ``sequence_id > 1`` filter is reference-observable behavior (2-node ways
    drop out) and is preserved."""
    f = wn_net.filter(F.col("sequence_id") > 1)
    return f.groupBy("way_id").agg(
        F.max("sequence_id").alias("length"),
        F.max_by("node_id", "sequence_id").alias("node_id"))


def _way_limits(wn_net: DataFrame,
                shared: DataFrame | None = None) -> DataFrame:
    """The one implementation of the split's boundary rules
    (``osm-road-graphs.sql:66-115``): one row per way with

    - ``length``: max sequence_id;
    - ``_sh``: its shared-node positions with seq > 0, as sorted
      (sequence_id, node_id) structs, and ``_tops`` their sequence_ids;
    - ``_lims``: its [bottom_limit, top_limit] segment ranges, or null when
      the way is not split.

    A node is shared when it occurs more than once among the network's
    way_nodes rows (occurrences, not distinct ways: a closed ring's repeated
    endpoint counts twice). That is a count window over ``node_id``, the
    plan's one node-keyed exchange; ``shared`` replaces it with a given
    (node_id) table. A way splits only if a shared position lies strictly
    inside (0, length), which also rules out ways of length ≤ 1 (the
    reference's ``sequence_id > 1`` filter). Its boundaries are then *all*
    shared positions, a shared final node included, with bottom = lag(seq,
    1, default 0), plus a closing [last, length] range for a dead-end tail.
    """
    if shared is None:
        flagged = wn_net.withColumn(
            "_shared",
            F.count(F.lit(1)).over(Window.partitionBy("node_id")) > 1)
    else:
        flags = (shared.select("node_id", F.lit(True).alias("_shared"))
                 .dropDuplicates(["node_id"]))
        flagged = (wn_net.join(flags, "node_id", "left")
                   .fillna(False, subset=["_shared"]))
    ways = flagged.groupBy("way_id").agg(
        F.max("sequence_id").alias("length"),
        F.sort_array(F.collect_list(F.when(
            F.col("_shared") & (F.col("sequence_id") > 0),
            F.struct("sequence_id", "node_id")))).alias("_sh")) \
        .withColumn("_tops", F.transform("_sh", lambda s: s["sequence_id"]))

    length, tops = F.col("length"), F.col("_tops")
    bottoms = F.slice(F.concat(F.array(F.lit(0)), tops), 1, F.size(tops))
    last = F.element_at(tops, -1)
    segs = F.zip_with(bottoms, tops, lambda b, t: F.struct(
        b.alias("bottom_limit"), t.alias("top_limit")))
    tail = F.filter(F.array(F.struct(last.alias("bottom_limit"),
                                     length.alias("top_limit"))),
                    lambda r: r["bottom_limit"] < r["top_limit"])
    splits = F.exists(tops, lambda t: t < length)
    return ways.withColumn("_lims", F.when(splits, F.concat(segs, tail)))


def _limit_rows(ways: DataFrame, lims="_lims") -> DataFrame:
    """(way_id, bottom_limit, top_limit) rows of a per-way limit array."""
    return (ways.select("way_id", F.explode(lims).alias("_l"))
            .select("way_id", "_l.bottom_limit", "_l.top_limit"))


def ways_split_nodes(wn_net: DataFrame) -> DataFrame:
    """``topology_summary.ways_split_nodes`` (``osm-road-graphs.sql:87-95``):
    shared nodes strictly interior to a way (0 < seq < length)."""
    interior = F.filter("_sh", lambda s: s["sequence_id"] < F.col("length"))
    return (_way_limits(wn_net)
            .select("way_id", F.explode(interior).alias("_s"))
            .select("way_id", "_s.node_id", "_s.sequence_id"))


def ways_merge_limits(wn_net: DataFrame) -> DataFrame:
    """``topology_summary.ways_merge_limits`` (``osm-road-graphs.sql:97-115``):
    the [bottom, top] sequence ranges of every split way's segments, dead-end
    closing ranges included (see :func:`_way_limits`)."""
    return _limit_rows(_way_limits(wn_net))


def nodes_to_merge(wn_net: DataFrame, limits: DataFrame) -> DataFrame:
    """``topology_summary.nodes_to_merge`` (``osm-road-graphs.sql:119-127``):
    assign every way_node row to its segment(s). Range join (J7): equi on
    way_id + BETWEEN residual. Boundary nodes fall in two ranges and are
    correctly duplicated (segment N's end is segment N+1's start)."""
    return (wn_net.join(limits, "way_id", "inner")
            .filter((F.col("sequence_id") >= F.col("bottom_limit"))
                    & (F.col("sequence_id") <= F.col("top_limit")))
            .select("way_id", F.col("top_limit").alias("group_id"),
                    "sequence_id", "node_id"))


def _assemble_from_way_arrays(ways: DataFrame, network: DataFrame,
                              attrs: tuple[str, ...] = DEFAULT_MERGE_ATTRS) -> DataFrame:
    """Segment assembly from the ways' own arrays: because segment ranges
    are contiguous in sequence order and ``ways.nodes``/``linestring`` are
    already ordered by sequence_id, segment node lists and geometries are
    array *slices* of the parent way's own columns — no way_nodes×nodes
    join, no collect_list. Equivalent to the reference's group-by
    reassembly (``osm-road-graphs.sql:143-148``); proven against the nodes
    path in tests/test_topology.py.

    Single pass over ``network``: the per-way limit arrays of the split ways
    are left-joined once, and ways without limits fall back to one whole-way
    range — this fuses the reference's INSERT + UPDATE backfill + anti-join
    append (``osm-road-graphs.sql:143-165``) into one join, so the (huge)
    ways table is scanned exactly once."""
    lims = ways.filter(F.col("_lims").isNotNull()).select("way_id", "_lims")
    whole_way = F.array(F.struct(
        F.lit(0).alias("bottom_limit"),
        (F.size("nodes") - 1).alias("top_limit")))
    seg_len = F.col("_lim.top_limit") - F.col("_lim.bottom_limit") + 1
    return (network
            .join(lims, network["edge_id"] == lims["way_id"], "left")
            .withColumn("_lim", F.explode(F.coalesce("_lims", whole_way)))
            .select(
                network["edge_id"],
                F.slice(network["nodes"], F.col("_lim.bottom_limit") + 1,
                        seg_len).alias("nodes"),
                F.slice(network["geom"], F.col("_lim.bottom_limit") + 1,
                        seg_len).alias("geom"),
                network["tags"], *[network[a] for a in attrs],
            ))


def _assemble_from_nodes(merge_rows: DataFrame, nodes: DataFrame,
                         broadcast_rows: bool = False) -> DataFrame:
    """Segment assembly from the nodes table (``osm-road-graphs.sql:
    143-148``): join the per-segment node rows to the nodes table for
    coordinates, then rebuild ordered arrays with
    sort_array(collect_list(struct(seq, ...))) — the deterministic
    replacement for ``array_agg(... ORDER BY sequence_id)`` (SURVEY §2.4
    A7/A8).

    ``broadcast_rows=True`` hints ``merge_rows`` as the broadcast side of
    the coordinate join: a subset re-split has blast-radius-sized merge
    rows against a planet-sized nodes table, and the hint turns the nodes
    side's full shuffle into a stationary scan (guide §3.1 — the big side
    is not shuffled at all; an inner join is side-symmetric so the result
    is unchanged). Leave it off when merge_rows is the full corpus."""
    rows = F.broadcast(merge_rows) if broadcast_rows else merge_rows
    pts = rows.join(
        nodes.select(F.col("id").alias("node_id"), "lon", "lat"),
        "node_id", "inner")
    collected = (pts.groupBy(F.col("way_id").alias("edge_id"), "group_id")
                 .agg(F.sort_array(F.collect_list(F.struct(
                     F.col("sequence_id").alias("seq"),
                     F.col("node_id").alias("node_id"),
                     F.struct(F.col("lon").alias("lon"),
                              F.col("lat").alias("lat")).alias("pt"),
                 ))).alias("s")))
    return collected.select(
        "edge_id", "group_id",
        F.transform("s", lambda r: r["node_id"]).alias("nodes"),
        F.transform("s", lambda r: r["pt"]).alias("geom"))


def _with_segment_columns(segs: DataFrame,
                          attrs: tuple[str, ...]) -> DataFrame:
    """Merged-table columns of assembled segments: endpoints promoted from
    the segment's node array and its geodesic-km length."""
    return segs.select(
        array_first("nodes").alias("start_node"),
        array_last("nodes").alias("end_node"),
        "edge_id", "tags", "nodes",
        linestring_length_km("geom").alias("length"),
        *attrs, "geom")


def merged_network(network: DataFrame, way_nodes: DataFrame,
                   nodes: DataFrame | None = None,
                   attrs: tuple[str, ...] = DEFAULT_MERGE_ATTRS,
                   shared_override: DataFrame | None = None) -> DataFrame:
    """``graphs.car_network_merged`` (``osm-road-graphs.sql:129-165``): the
    split-and-reassembled edge table.

    - Segment rows get attributes from the parent way (the UPDATE…FROM
      backfill at ``:149-159``), with start/end promoted from the new node
      arrays and geodesic-km length.
    - Ways with no split pass through as one whole-way segment (the
      anti-join append at ``:161-165``).
    - ``attrs`` selects which parent-way columns ride through the split;
      the complete-network variant passes the mode-flag set
      (service/access/car/pedestrian/bicycle,
      ``osm-complete-graphs-fix.sql:167-188``).
    - ``nodes``: when given, segments are rebuilt from way_nodes ⋈ nodes
      and ``network`` only needs (edge_id, tags, *attrs); when omitted,
      they are slices of ``network``'s own ``nodes``/``geom`` arrays.
    - ``shared_override``: callers that re-split only a SUBSET of ways (the
      incremental path) must supply the GLOBAL shared-node table — shared
      status depends on every network way using a node, and recomputing it
      from the subset's way_nodes would miss cross-way sharing. When it is
      given, the merge rows are broadcast into the nodes join.

    Input contract: the ``nodes`` table covers every id in ``ways.nodes``,
    and every network way has its way_nodes rows (both hold for a
    consistent snapshot, where node ids are foreign keys). On truncated OSM
    extracts, pre-filter ways to those fully inside the extract before
    splitting.
    """
    wn_net = network_way_nodes(way_nodes, network)
    ways = _way_limits(wn_net, shared_override)
    if nodes is None:
        return _with_segment_columns(
            _assemble_from_way_arrays(ways, network, attrs), attrs)
    # max sequence_id = size(nodes) - 1: sequence ids are the dense
    # array positions
    whole_way = F.array(F.struct(F.lit(0).alias("bottom_limit"),
                                 F.col("length").alias("top_limit")))
    limits = _limit_rows(ways, F.coalesce("_lims", whole_way))
    segs = _assemble_from_nodes(nodes_to_merge(wn_net, limits), nodes,
                                broadcast_rows=shared_override is not None)
    return _with_segment_columns(
        segs.join(network.select("edge_id", "tags", *attrs), "edge_id"),
        attrs)


def merged_network_incremental(old_network: DataFrame,
                               old_way_nodes: DataFrame,
                               old_merged: DataFrame,
                               new_network: DataFrame,
                               new_way_nodes: DataFrame,
                               changed_way_ids: DataFrame,
                               attrs: tuple[str, ...] = DEFAULT_MERGE_ATTRS,
                               old_node_counts: DataFrame | None = None,
                               return_affected: bool = False,
                               nodes: DataFrame | None = None):
    """Incremental maintenance of the merged network under a way-level
    change batch — the ``osmosisUpdate()`` scenario (apply a minutely
    diff, refresh the derived road graph; ``etl/pgsnapshot_schema_0.6.
    sql:139-143``) without re-splitting the whole planet: at 100 TB the
    full topology pipeline over an unchanged continent to absorb a
    thousand-way diff is the dominant waste, and this touches only the
    blast radius of the batch.

    Exact dependency analysis: a way's segments depend on (a) its own
    node list and attributes, and (b) the SHARED status (used by ≥ 2
    network-way occurrences) of each of its interior nodes. A change
    batch therefore invalidates exactly: the changed ways, plus every
    way using a node whose shared status FLIPPED. Node-use counts are
    maintained incrementally — delta = counts over the changed ways'
    new rows minus counts over their old rows, touching only those
    nodes; unchanged ways never rescan. The affected subset is re-split
    by one ordinary :func:`merged_network` call with the updated GLOBAL
    shared table injected (``shared_override`` — recomputing shared
    from the subset alone would miss cross-way sharing), and the result
    is ``old_merged`` minus affected segments plus the recomputation:
    segments of unaffected ways are byte-identical to a full rebuild
    because their inputs (own rows + shared status of their nodes) are
    untouched — the property gate ``osm_merged_incremental``
    hash-checks against a full-recompute oracle.

    ``changed_way_ids`` is a (way_id) DataFrame covering every created,
    modified, or deleted way in the batch (at the RAW-way level — a tag
    edit that moves a way in or out of the network filter counts).
    ``old_merged`` is the previously-materialized merged table (the IVM
    state, alongside the old inputs), and ``old_node_counts`` the
    maintained (node_id, count) table of network-way-node occurrences —
    pass it to keep the maintenance step free of any full-table
    aggregation (it is recomputed from the old inputs when omitted,
    which is correct but pays one old-table scan). Cost with state
    supplied: the changed ways' rows, one node-keyed count merge over
    touched nodes, one broadcast-semi scan of the new way_nodes for
    flip membership (narrow — no shuffle; an inverted node→way index
    turns even that into a lookup), and the split/merge pipeline over
    the affected subset only.

    ``nodes`` selects the re-split's assembly exactly as in
    :func:`merged_network`: given, the affected subset's segments are
    rebuilt from (way_nodes ∩ affected) ⋈ nodes, with the merge rows
    broadcast, and ``new_network`` only needs (edge_id, tags, *attrs):
    at 100 TB this removes the LAST full-corpus array assembly from the
    IVM path (maintaining a planet-wide ways-with-arrays snapshot per
    batch just so ~0.01 % of it can be sliced), leaving only per-table
    maintained state plus blast-radius work. The input contract of
    :func:`merged_network` applies to the affected ways; segment values
    are identical to the arrays mode's because sequence_id is the dense
    array position and the way arrays were themselves assembled from
    the same nodes table (pinned by
    test_incremental_nodes_path_equals_arrays_path).

    Nothing is cached; two tables are local-checkpointed, each once. The
    count merge, kept to the nodes shared before or after the batch, is
    read by the flip test and as the re-split's shared table; without the
    checkpoint the old counts (a full-table aggregation when
    ``old_node_counts`` is omitted) would be computed for each. The blast
    radius' way ids (``affected``) are read three times (sub_net, sub_wn
    and the kept anti-join). Both checkpoints are eager, and their RDDs
    stay persisted after the call, until the returned DataFrame is
    garbage-collected.
    """
    ch = changed_way_ids.select("way_id").distinct()
    new_wn = network_way_nodes(new_way_nodes, new_network)
    # restrict to the changed ways FIRST so the network semi-join and
    # count aggregation below touch only the batch's rows
    old_ch = network_way_nodes(
        old_way_nodes.join(ch, "way_id", "left_semi"), old_network)
    new_ch = new_wn.join(ch, "way_id", "left_semi")

    old_counts = old_node_counts
    if old_counts is None:
        # maintained state in production; derived here from old inputs
        old_counts = (network_way_nodes(old_way_nodes, old_network)
                      .groupBy("node_id")
                      .agg(F.count(F.lit(1)).alias("count")))
    delta = (new_ch.groupBy("node_id").agg(F.count(F.lit(1)).alias("_d"))
             .unionByName(old_ch.groupBy("node_id")
                          .agg((-F.count(F.lit(1))).alias("_d")))
             .groupBy("node_id").agg(F.sum("_d").alias("_d")))
    # only nodes shared before or after the batch: new_shared and flipped
    # both lie among them
    merged_counts = (old_counts.join(delta, "node_id", "full")
                     .select("node_id",
                             F.coalesce("count", F.lit(0)).alias("_oc"),
                             (F.coalesce("count", F.lit(0))
                              + F.coalesce("_d", F.lit(0))).alias("_nc"))
                     .filter((F.col("_oc") > 1) | (F.col("_nc") > 1))
                     .localCheckpoint())
    new_shared = (merged_counts.filter(F.col("_nc") > 1)
                  .select("node_id", F.col("_nc").alias("count")))
    flipped = (merged_counts
               .filter((F.col("_oc") > 1) != (F.col("_nc") > 1))
               .select("node_id"))

    affected = (ch.unionByName(
        new_wn.join(flipped, "node_id", "left_semi")
        .select("way_id")).distinct().localCheckpoint())
    affected_edges = affected.select(F.col("way_id").alias("edge_id"))

    sub_net = new_network.join(affected_edges, "edge_id", "left_semi")
    # way_nodes for the re-split subset, read from the network-restricted
    # new_wn rather than raw new_way_nodes: identical input to
    # merged_network because its own network_way_nodes(sub_wn, sub_net)
    # re-restricts to sub_net's ways, and sub_net ⊆ new_network — the
    # network restriction is idempotent, so pre-restricted rows are the
    # same rows (network_way_nodes is a left-semi join that keeps the
    # way_nodes schema unchanged)
    sub_wn = new_wn.join(affected, "way_id", "left_semi")
    recomputed = merged_network(sub_net, sub_wn, nodes=nodes, attrs=attrs,
                                shared_override=new_shared)
    kept = old_merged.join(affected_edges, "edge_id", "left_anti")
    # old_merged may be the geometry-free meta projection of the merged
    # table (n_nodes in place of the nodes/geom arrays — what
    # _shared_network caches); align the recomputed side by computing
    # the same size. Any other column mismatch still fails loudly.
    rec_cols = [F.size("nodes").alias("n_nodes")
                if c == "n_nodes" and "n_nodes" not in recomputed.columns
                else F.col(c)
                for c in kept.columns]
    out = kept.unionByName(recomputed.select(*rec_cols))
    # return_affected: the blast-radius table, for telemetry — the
    # fraction of ways re-split IS the scale claim (wall clock on a
    # local job floor is barrier-bound either way)
    return (out, affected) if return_affected else out
