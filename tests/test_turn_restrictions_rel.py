"""Real OSM turn-restriction parsing (operators.relations.
turn_restrictions_from_relations) on a hand-built graph with a known
forced detour — the ``type=restriction`` relations the reference's schema
carries (etl/pgsnapshot_schema_0.6.sql:57-80) and pgrouting consumes.

Graph (all lengths 1.0):

        101        102
    1 ------> 2 ------> 3 ------> 5   (105)
              |         ^
          103 |         | 104
              v         |
              4 --------+

Unrestricted dist(1→3) = 2.0 via node 2; banning the 2→3 turn forces the
detour 1→2→4→3 = 3.0.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_pg_etl_spark.operators.graph_algo import turn_restricted_distances
from osm_pg_etl_spark.operators.relations import (
    turn_restrictions_from_relations,
)

EDGES = [
    (101, 1, 2, 1.0),
    (102, 2, 3, 1.0),
    (103, 2, 4, 1.0),
    (104, 4, 3, 1.0),
    (105, 3, 5, 1.0),
]


@pytest.fixture(scope="module")
def directed(spark):
    return spark.createDataFrame(
        EDGES, "edge_id long, start_node long, end_node long, length double"
    ).cache()


def _relation(spark, rel_id, kind, from_way, via_node, to_way):
    rels = spark.createDataFrame(
        [(rel_id, {"type": "restriction", "restriction": kind})],
        "id long, tags map<string,string>")
    members = spark.createDataFrame(
        [(rel_id, from_way, "W", "from", 0),
         (rel_id, via_node, "N", "via", 1),
         (rel_id, to_way, "W", "to", 2)],
        "relation_id long, member_id long, member_type string, "
        "member_role string, sequence_id int")
    return rels, members


def _dists(directed, restr):
    sp = turn_restricted_distances(directed, 1, restrictions=restr)
    return {r["node"]: r["dist"] for r in sp.collect()}


def test_no_turn_forces_detour(spark, directed):
    rels, members = _relation(spark, 9001, "no_left_turn", 101, 2, 102)
    restr = turn_restrictions_from_relations(rels, members, directed)
    assert [tuple(r) for r in restr.collect()] == [(1, 2, 3)]
    d = _dists(directed, restr)
    assert d[3] == pytest.approx(3.0)   # 1→2→4→3, direct turn banned
    assert d[4] == pytest.approx(2.0)   # unaffected
    assert d[5] == pytest.approx(4.0)   # detour propagates


def test_only_turn_bans_all_other_exits(spark, directed):
    # only_straight_on 101→(via 2)→103: arriving from 1 at 2 may ONLY
    # continue to 4; exit 2→3 is banned — same detour as the no_* case.
    rels, members = _relation(spark, 9002, "only_straight_on", 101, 2, 103)
    restr = turn_restrictions_from_relations(rels, members, directed)
    assert [tuple(r) for r in restr.collect()] == [(1, 2, 3)]
    d = _dists(directed, restr)
    assert d[3] == pytest.approx(3.0)
    assert d[4] == pytest.approx(2.0)


def test_unrestricted_baseline(spark, directed):
    d = _dists(directed, None)
    assert d[3] == pytest.approx(2.0)
    assert d[5] == pytest.approx(3.0)


def test_non_restriction_and_via_way_ignored(spark, directed):
    # A route relation and a via-WAY restriction both parse to zero bans.
    route_rels = spark.createDataFrame(
        [(1, {"type": "route", "route": "bus"})],
        "id long, tags map<string,string>")
    via_way_rels = spark.createDataFrame(
        [(2, {"type": "restriction", "restriction": "no_u_turn"})],
        "id long, tags map<string,string>")
    members = spark.createDataFrame(
        [(1, 101, "W", "from", 0), (1, 2, "N", "via", 1),
         (1, 102, "W", "to", 2),
         # via member is a WAY -> dropped (node-keyed line graph)
         (2, 101, "W", "from", 0), (2, 103, "W", "via", 1),
         (2, 104, "W", "to", 2)],
        "relation_id long, member_id long, member_type string, "
        "member_role string, sequence_id int")
    restr = turn_restrictions_from_relations(
        route_rels.unionByName(via_way_rels), members, directed)
    assert restr.count() == 0


def test_multi_from_no_entry(spark, directed):
    # no_entry with TWO from members (101 and 104 both arrive somewhere):
    # ban entering way 105 (3→5) from BOTH ways arriving at 3.
    rels = spark.createDataFrame(
        [(3, {"type": "restriction", "restriction": "no_entry"})],
        "id long, tags map<string,string>")
    members = spark.createDataFrame(
        [(3, 102, "W", "from", 0), (3, 104, "W", "from", 1),
         (3, 3, "N", "via", 2), (3, 105, "W", "to", 3)],
        "relation_id long, member_id long, member_type string, "
        "member_role string, sequence_id int")
    restr = turn_restrictions_from_relations(rels, members, directed)
    got = sorted(tuple(r) for r in restr.collect())
    assert got == [(2, 3, 5), (4, 3, 5)]
    d = _dists(directed, restr)
    assert 5 not in d  # node 5 only reachable via way 105: now unreachable


def test_gate_query_runs_and_restricts(spark):
    """The registered gate at sf0.001: parses a nonempty restriction set
    and at least one node's distance strictly exceeds (or disappears vs)
    the unrestricted SSSP — restrictions actually bite."""
    from osm_pg_etl_spark.plans.osm_derived import (
        derive_osm, derive_restriction_relations, q_osm_turn_restricted_rel)
    from osm_pg_etl_spark.operators.network import car_network
    from osm_pg_etl_spark.operators.topology import merged_network
    from osm_pg_etl_spark.operators.graphs import directed_network

    sf = "/root/testdata/sf0.001"
    d = derive_osm(spark, sf)
    cn = car_network(d["ways"])
    merged = merged_network(cn, d["way_nodes"])
    directed = directed_network(merged).cache()
    rels, members = derive_restriction_relations(directed)
    n_rels = rels.count()
    assert n_rels > 0
    assert members.count() == 3 * n_rels

    restricted = {r["node"]: r["dist_km"]
                  for r in q_osm_turn_restricted_rel(spark, sf).collect()}
    source = directed.agg(F.min("start_node")).collect()[0][0]
    base_sp = turn_restricted_distances(directed, int(source))
    base = {r["node"]: r["dist"] for r in base_sp.collect()}
    assert set(restricted) <= set(base)
    assert all(restricted[n] >= round(base[n], 6) - 1e-9 for n in restricted)
    assert (set(base) - set(restricted)) or any(
        restricted[n] > round(base[n], 6) + 1e-9 for n in restricted)


def test_only_with_unresolvable_to_way_drops_not_severs(spark, directed):
    """r9 ADVICE: an only_* restriction whose to_way resolves to NO
    departing edge at the via node (to_way outside the graph, or a
    oneway pointing the wrong way) must be DROPPED — pgrouting's
    behavior — not ban every exit at the via node."""
    # to_way 999 does not exist in the graph at all
    rels, members = _relation(spark, 9100, "only_right_turn", 101, 2, 999)
    restr = turn_restrictions_from_relations(rels, members, directed)
    # pre-fix this produced (1,2,3) AND (1,2,4) — severing node 2
    assert restr.count() == 0, restr.collect()
    d = _dists(directed, restr)
    assert d[3] == pytest.approx(2.0)   # routing through via 2 unaffected
    assert d[4] == pytest.approx(2.0)

    # to_way 101 exists but is a oneway ARRIVING at via 2 (edge 1->2):
    # no departing edge -> same drop semantics
    rels2, members2 = _relation(spark, 9101, "only_straight_on", 102, 3, 102)
    restr2 = turn_restrictions_from_relations(rels2, members2, directed)
    assert restr2.count() == 0, restr2.collect()

    # a mixed batch: the unresolvable relation must not suppress the
    # resolvable one (per-relation semantics, not global)
    rels3 = rels.unionByName(
        _relation(spark, 9002, "only_straight_on", 101, 2, 103)[0])
    members3 = members.unionByName(
        _relation(spark, 9002, "only_straight_on", 101, 2, 103)[1])
    restr3 = turn_restrictions_from_relations(rels3, members3, directed)
    assert [tuple(r) for r in restr3.collect()] == [(1, 2, 3)]


VIA_WAY_EDGES = [
    # trunk route 1 -> 2 -> 3 -> 4, with via WAY 200 covering 2..3
    (101, 1, 2, 1.0),
    (300, 3, 4, 1.0),
    (400, 3, 5, 1.0),
    # bypass around the via way: 2 -> 6 -> 3
    (500, 2, 6, 1.0),
    (501, 6, 3, 1.0),
]


def _via_way_world(spark, chain_nodes, kind="no_left_turn", to_way=300):
    """Directed graph + one via-WAY restriction: from 101, via way 200
    spanning ``chain_nodes``, to ``to_way``. Multi-edge chains add a
    divergence path 7 -> 8 -> 3 so a partial traversal can escape."""
    edges = list(VIA_WAY_EDGES)
    for a, b in zip(chain_nodes, chain_nodes[1:]):
        edges.append((200, a, b, 1.0))
    if len(chain_nodes) > 2:
        edges += [(502, 7, 8, 1.0), (503, 8, 3, 1.0)]
    directed = spark.createDataFrame(
        edges, "edge_id long, start_node long, end_node long, length double")
    rels = spark.createDataFrame(
        [(9500, {"type": "restriction", "restriction": kind})],
        "id long, tags map<string,string>")
    members = spark.createDataFrame(
        [(9500, 101, "W", "from", 0), (9500, 200, "W", "via", 1),
         (9500, to_way, "W", "to", 2)],
        "relation_id long, member_id long, member_type string, "
        "member_role string, sequence_id int")
    return directed, rels, members


def test_via_way_parse_resolves_chain_entries_exits(spark):
    from osm_pg_etl_spark.operators.relations import via_way_turn_restrictions

    directed, rels, members = _via_way_world(spark, [2, 7, 3])
    (r,) = via_way_turn_restrictions(rels, members, directed)
    assert r["kind"] == "no_left_turn"
    assert r["entries"] == [(1, 2)]
    assert r["chain"] == [(2, 7), (7, 3)]
    assert r["exits"] == [4]

    # to_way outside the graph -> unresolvable -> dropped (not severed)
    directed2, rels2, members2 = _via_way_world(spark, [2, 7, 3],
                                                to_way=999)
    assert via_way_turn_restrictions(rels2, members2, directed2) == []


def test_via_way_no_turn_bans_only_full_chain_traversals(spark):
    """no_* via a single-edge via WAY: 1->2->3->4 is banned (full chain
    2->3 traversed after way 101), the bypass 1->2->6->3->4 is not
    (node 3 reached OUTSIDE the chain), and the chain exit to 5 is
    unaffected."""
    from osm_pg_etl_spark.operators.graph_algo import (
        turn_restricted_distances)
    from osm_pg_etl_spark.operators.relations import via_way_turn_restrictions

    directed, rels, members = _via_way_world(spark, [2, 3])
    vw = via_way_turn_restrictions(rels, members, directed)
    base = {r["node"]: r["dist"]
            for r in turn_restricted_distances(directed, 1).collect()}
    assert base[4] == pytest.approx(3.0)
    got = {r["node"]: r["dist"] for r in turn_restricted_distances(
        directed, 1, via_way_restrictions=vw).collect()}
    assert got[4] == pytest.approx(4.0)   # forced onto 1->2->6->3->4
    assert got[5] == pytest.approx(3.0)   # chain exit to 5 still fine
    assert got[3] == pytest.approx(2.0)


def test_via_way_multi_edge_chain_partial_traversal_escapes(spark):
    """A 2-edge via chain (2->7->3): the ban bites only after BOTH chain
    edges; diverging at 7 (7->8->3) re-enters 3 in normal state and may
    exit to 4."""
    from osm_pg_etl_spark.operators.graph_algo import (
        turn_restricted_distances)
    from osm_pg_etl_spark.operators.relations import via_way_turn_restrictions

    directed, rels, members = _via_way_world(spark, [2, 7, 3])
    vw = via_way_turn_restrictions(rels, members, directed)
    got = {r["node"]: r["dist"] for r in turn_restricted_distances(
        directed, 1, via_way_restrictions=vw).collect()}
    # full chain 1->2->7->3->4 (len 4) banned; best legal:
    # bypass 1->2->6->3->4 = 4 (divergence 1->2->7->8->3->4 = 5)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(4.0)   # 1->2->7->3->5 unbanned (4 edges)
    assert got[8] == pytest.approx(3.0)   # divergence 1->2->7->8 usable


def test_via_way_only_mandates_exit_after_full_chain(spark):
    """only_* via way 200 to way 400 (exit 3->5): completing the chain
    forbids every exit except 5; reaching 3 outside the chain is free."""
    from osm_pg_etl_spark.operators.graph_algo import (
        turn_restricted_distances)
    from osm_pg_etl_spark.operators.relations import via_way_turn_restrictions

    directed, rels, members = _via_way_world(spark, [2, 3],
                                             kind="only_straight_on",
                                             to_way=400)
    vw = via_way_turn_restrictions(rels, members, directed)
    got = {r["node"]: r["dist"] for r in turn_restricted_distances(
        directed, 1, via_way_restrictions=vw).collect()}
    assert got[5] == pytest.approx(3.0)   # the mandated exit
    assert got[4] == pytest.approx(4.0)   # others must take the bypass


def test_multi_via_relation_does_not_cross_contaminate(spark, directed):
    """r8 review: a (malformed-but-real) restriction relation carrying
    TWO via-node members must resolve each from/to pair at ITS OWN via —
    a departure resolved at via B must never produce a ban at via A."""
    # no_entry with vias 2 and 3: from 101 (arrives at 2), to 105
    # (departs at 3). At via 2 there is no departing way-105 edge; at
    # via 3 there is no arriving way-101 edge. Correct parse = NO ban
    # that mixes them: the only legitimate readings are per-via.
    rels = spark.createDataFrame(
        [(7, {"type": "restriction", "restriction": "no_entry"})],
        "id long, tags map<string,string>")
    members = spark.createDataFrame(
        [(7, 101, "W", "from", 0), (7, 2, "N", "via", 1),
         (7, 3, "N", "via", 2), (7, 105, "W", "to", 3)],
        "relation_id long, member_id long, member_type string, "
        "member_role string, sequence_id int")
    restr = turn_restrictions_from_relations(rels, members, directed)
    # the pre-fix join on relation_id alone produced (1, 2, 5): arrival
    # at via 2 paired with the departure resolved at via 3
    assert restr.count() == 0, restr.collect()
