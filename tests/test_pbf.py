"""Round-trip tests for the in-engine PBF reader (SURVEY §2.1 S1).

``write_pbf`` produces a spec-valid ``.osm.pbf`` (DenseNodes, zlib blobs,
delta-packed columns), so the distributed reader is exercised end-to-end
against known entities with no network or pyosmium dependency — the same
strategy the reference's Osmosis path would need a live extract for
(``etl/osm-load.sh:29``)."""

from __future__ import annotations

import datetime as dt

import pytest

from osm_pg_etl_spark.sources import pbf

TS = dt.datetime(2020, 5, 17, 12, 30, 45)

NODES = [
    {"id": 1, "lat": 45.5000001, "lon": -73.6000002, "version": 3,
     "user_id": 42, "changeset_id": 1001, "tstamp": TS,
     "tags": {"amenity": "cafe", "name": "Corner"}},
    {"id": 5, "lat": 45.6, "lon": -73.7, "version": 1, "user_id": 42,
     "changeset_id": 1002, "tstamp": TS + dt.timedelta(hours=1), "tags": {}},
    {"id": 9, "lat": -12.25, "lon": 130.875, "version": 2, "user_id": 7,
     "changeset_id": 900, "tstamp": TS - dt.timedelta(days=400),
     "tags": {"shop": "bakery"}},
]

WAYS = [
    {"id": 101, "nodes": [1, 5, 9], "version": 2, "user_id": 42,
     "changeset_id": 1003, "tstamp": TS,
     "tags": {"highway": "residential", "maxspeed": "50"}},
    {"id": 102, "nodes": [9, 5], "version": 1, "user_id": 7,
     "changeset_id": 1004, "tstamp": TS, "tags": {"highway": "footway"}},
]

RELATIONS = [
    {"id": 201, "version": 1, "user_id": 7, "changeset_id": 1005,
     "tstamp": TS, "tags": {"type": "route", "route": "bus"},
     "members": [(101, "W", "forward"), (1, "N", "stop"),
                 (201, "R", "")]},
]


@pytest.fixture(scope="module")
def pbf_file(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf")
    pbf.write_pbf(p, nodes=NODES, ways=WAYS, relations=RELATIONS,
                  entities_per_block=2)  # force multiple blobs
    return p


def test_blob_index_frames(pbf_file):
    idx = pbf.blob_index(pbf_file)
    assert idx[0][0] == "OSMHeader"
    # 3 nodes @2/block -> 2 blobs, 2 ways -> 1, 1 relation -> 1
    assert [t for t, _, _ in idx].count("OSMData") == 4
    # spans tile the file exactly
    import os
    last_type, off, sz = idx[-1]
    assert off + sz == os.path.getsize(pbf_file)


def test_nodes_roundtrip(spark, pbf_file):
    rows = {r["id"]: r.asDict()
            for r in pbf.read_pbf(spark, pbf_file, "nodes").collect()}
    assert set(rows) == {1, 5, 9}
    for exp in NODES:
        got = rows[exp["id"]]
        assert got["lat"] == pytest.approx(exp["lat"], abs=1e-7)
        assert got["lon"] == pytest.approx(exp["lon"], abs=1e-7)
        assert got["version"] == exp["version"]
        assert got["user_id"] == exp["user_id"]
        assert got["changeset_id"] == exp["changeset_id"]
        assert got["tstamp"] == exp["tstamp"]
        assert dict(got["tags"] or {}) == exp["tags"]


def test_ways_and_way_nodes(spark, pbf_file):
    ways = {r["id"]: r.asDict()
            for r in pbf.read_pbf(spark, pbf_file, "ways").collect()}
    assert set(ways) == {101, 102}
    assert ways[101]["nodes"] == [1, 5, 9]
    assert ways[102]["nodes"] == [9, 5]
    assert dict(ways[101]["tags"]) == WAYS[0]["tags"]
    assert ways[101]["linestring"] is None  # assembled separately
    assert ways[101]["tstamp"] == TS

    wn = sorted(
        (r["way_id"], r["sequence_id"], r["node_id"])
        for r in pbf.read_pbf(spark, pbf_file, "way_nodes").collect())
    assert wn == [(101, 0, 1), (101, 1, 5), (101, 2, 9),
                  (102, 0, 9), (102, 1, 5)]


def test_relations_and_members(spark, pbf_file):
    rels = {r["id"]: r.asDict()
            for r in pbf.read_pbf(spark, pbf_file, "relations").collect()}
    assert set(rels) == {201}
    assert dict(rels[201]["tags"]) == RELATIONS[0]["tags"]

    mem = sorted(
        (r["relation_id"], r["sequence_id"], r["member_id"],
         r["member_type"], r["member_role"])
        for r in pbf.read_pbf(spark, pbf_file, "relation_members").collect())
    assert mem == [(201, 0, 101, "W", "forward"),
                   (201, 1, 1, "N", "stop"),
                   (201, 2, 201, "R", "")]


def test_linestring_assembly(spark, pbf_file):
    ways = pbf.read_pbf(spark, pbf_file, "ways")
    nodes = pbf.read_pbf(spark, pbf_file, "nodes")
    out = {r["id"]: r["linestring"]
           for r in pbf.assemble_linestrings(ways, nodes).collect()}
    line = out[101]
    assert [p["lon"] for p in line] == [
        pytest.approx(n["lon"], abs=1e-7) for n in (NODES[0], NODES[1],
                                                    NODES[2])]
    assert [p["lat"] for p in line] == [
        pytest.approx(n["lat"], abs=1e-7) for n in (NODES[0], NODES[1],
                                                    NODES[2])]


def test_linestring_null_on_missing_node(spark, pbf_file):
    ways = pbf.read_pbf(spark, pbf_file, "ways")
    # drop node 5 from the extract: both ways reference it -> NULL lines
    nodes = pbf.read_pbf(spark, pbf_file, "nodes").filter("id <> 5")
    out = {r["id"]: r["linestring"]
           for r in pbf.assemble_linestrings(ways, nodes).collect()}
    assert out[101] is None and out[102] is None


def test_uncompressed_blobs(spark, tmp_path):
    p = str(tmp_path / "raw.osm.pbf")
    pbf.write_pbf(p, nodes=NODES, compress=False)
    got = {r["id"] for r in pbf.read_pbf(spark, p, "nodes").collect()}
    assert got == {1, 5, 9}


def test_non_dense_node_group(spark):
    """Real extracts use DenseNodes, but plain Node messages are legal —
    hand-frame one and decode it."""
    st = pbf._StringTable()
    body = (pbf._field(1, 0) + pbf._varint(pbf._zigzag(77))   # sint64 id
            + pbf._packed(2, [st.add("highway")])
            + pbf._packed(3, [st.add("crossing")])
            + pbf._field(8, 0) + pbf._varint(pbf._zigzag(455000000))
            + pbf._field(9, 0) + pbf._varint(pbf._zigzag(-736000000)))
    group = pbf._bytes_field(1, body)
    block = pbf._bytes_field(1, st.encode()) + pbf._bytes_field(2, group)
    out = pbf.decode_block(block, "nodes")
    assert out["id"].tolist() == [77]
    assert out["lat"].iloc[0] == pytest.approx(45.5)
    assert out["lon"].iloc[0] == pytest.approx(-73.6)
    assert out["tags"].iloc[0] == {"highway": "crossing"}


def test_packed_varint_vectorization():
    rng = [0, 1, 127, 128, 300, 2**21 - 3, 2**35 + 11, 2**63 - 1]
    buf = b"".join(pbf._varint(v) for v in rng)
    assert pbf._decode_packed_uint(buf).tolist() == rng
    signed = [0, -1, 1, -64, 64, -(2**40), 2**40, -(2**62)]
    zz = b"".join(pbf._varint(pbf._zigzag(v)) for v in signed)
    assert pbf._decode_packed_sint(zz).tolist() == signed


def test_empty_file(spark, tmp_path):
    p = str(tmp_path / "empty.osm.pbf")
    pbf.write_pbf(p)  # header only
    df = pbf.read_pbf(spark, p, "nodes")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        f.name for f in pbf.S.OSM_SCHEMAS["nodes"].fields]


def test_users_roundtrip(spark, tmp_path):
    p = str(tmp_path / "users.osm.pbf")
    named = [dict(n, user_name=f"user{n['user_id']}") for n in NODES]
    ways = [dict(WAYS[0], user_name="mapper42"), dict(WAYS[1])]  # 1 unnamed
    pbf.write_pbf(p, nodes=named, ways=ways, relations=RELATIONS,
                  entities_per_block=2)
    got = {r["id"]: r["name"]
           for r in pbf.read_pbf(spark, p, "users").collect()}
    # uid 42: named via nodes (user42) and ways (mapper42) -> max() wins;
    # uid 7: named user7 via nodes; relation's uid 7 has no name
    assert got[42] == "user42"
    assert got[7] == "user7"
    assert set(got) == {42, 7}


def test_users_without_names(spark, pbf_file):
    # the module fixture writes no user_name fields: uids survive with
    # NULL names (pgsnapshot users.name is NOT NULL only when loaded by
    # Osmosis with user data present)
    got = {r["id"]: r["name"]
           for r in pbf.read_pbf(spark, pbf_file, "users").collect()}
    assert set(got) == {42, 7}
    assert all(v is None for v in got.values())


def test_chunk_split_packed_fields():
    """A protobuf writer may legally split a packed repeated field across
    several chunks with the same tag. Hand-frame a DenseNodes group whose
    id/lat/lon and DenseInfo uid fields are all split into two chunks each
    and verify the decoder stitches them back together."""
    st = pbf._StringTable()
    zz = pbf._zigzag
    ids = [10, 11, 12, 13]
    lats = [455000000, 455000001, 455000002, 455000003]
    lons = [-736000000, -736000001, -736000002, -736000003]
    uids = [42, 42, 7, 7]

    def split_packed(num, values, at):
        d = pbf._delta(values)
        return (pbf._packed(num, [zz(v) for v in d[:at]])
                + pbf._packed(num, [zz(v) for v in d[at:]]))

    dense_info = (pbf._packed(1, [1] * 4)                       # version
                  + split_packed(2, [0, 0, 0, 0], 2)            # timestamp
                  + split_packed(3, [0, 0, 0, 0], 2)            # changeset
                  + split_packed(4, uids, 2))                   # uid
    dense = (split_packed(1, ids, 2)
             + pbf._bytes_field(5, dense_info)
             + split_packed(8, lats, 2)
             + split_packed(9, lons, 2))
    group = pbf._bytes_field(2, dense)
    block = pbf._bytes_field(1, st.encode()) + pbf._bytes_field(2, group)

    out = pbf.decode_block(block, "nodes")
    assert out["id"].tolist() == ids
    assert out["user_id"].tolist() == uids
    assert [round(v, 7) for v in out["lat"]] == [
        pytest.approx(x / 1e7) for x in lats]
    assert [round(v, 7) for v in out["lon"]] == [
        pytest.approx(x / 1e7) for x in lons]

    users = pbf.decode_block(block, "users")
    assert users["id"].tolist() == [7, 42]
