"""Property-based tests (hypothesis): invariants that hold for arbitrary
inputs, complementing the golden/oracle checks."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_pg_etl_spark.operators.spatial import (
    _pair_intersection_points,
    _segments_intersect,
    _split_polyline,
)


def _weighted_median_reference(pairs):
    """Direct re-implementation of general-functions.sql:52-75 semantics."""
    pairs = sorted(pairs, key=lambda p: p[0])
    weights = [0.0 if w is None else w for _, w in pairs]
    total = sum(weights)
    half = total / 2
    run, hits = 0.0, []
    for (x, _), w in zip(pairs, weights):
        prev = run
        run += w
        if prev <= half <= run:
            hits.append(x)
    return sum(hits) / len(hits) if hits else None


@st.composite
def xw_pairs(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    xs = draw(st.lists(st.integers(-50, 50), min_size=n, max_size=n,
                       unique=True))
    ws = draw(st.lists(st.integers(0, 20), min_size=n, max_size=n))
    return [(float(x), float(w)) for x, w in zip(xs, ws)]


class TestWeightedMedianProperty:
    """One Spark session per class run; data-driven via hypothesis."""

    @pytest.fixture(autouse=True)
    def _spark(self, spark):
        self.spark = spark

    @settings(max_examples=12, deadline=None)
    @given(pairs=xw_pairs())
    def test_matches_reference_semantics(self, pairs):
        from osm_pg_etl_spark.operators.stats import weighted_median

        df = self.spark.createDataFrame(pairs, "x double, w double")
        got = weighted_median(df, "x", "w").collect()[0]["weighted_median"]
        want = _weighted_median_reference(pairs)
        # distinct integer xs: ties at the midpoint average identically
        assert got == pytest.approx(want)


coord = st.integers(-5, 5).map(float)


@settings(max_examples=200, deadline=None)
@given(st.tuples(coord, coord, coord, coord),
       st.tuples(coord, coord, coord, coord))
def test_intersection_predicate_symmetric(a, b):
    ax = np.array([a[0], a[2]]); ay = np.array([a[1], a[3]])
    bx = np.array([b[0], b[2]]); by = np.array([b[1], b[3]])
    assert _segments_intersect(ax, ay, bx, by) \
        == _segments_intersect(bx, by, ax, ay)


@settings(max_examples=200, deadline=None)
@given(st.tuples(coord, coord, coord, coord),
       st.tuples(coord, coord, coord, coord))
def test_intersection_points_lie_on_both_bboxes(a, b):
    ax = np.array([a[0], a[2]]); ay = np.array([a[1], a[3]])
    bx = np.array([b[0], b[2]]); by = np.array([b[1], b[3]])
    eps = 1e-9
    for px, py in _pair_intersection_points(ax, ay, bx, by):
        assert min(ax) - eps <= px <= max(ax) + eps
        assert min(bx) - eps <= px <= max(bx) + eps
        assert min(ay) - eps <= py <= max(ay) + eps
        assert min(by) - eps <= py <= max(by) + eps


@st.composite
def polyline(draw):
    n = draw(st.integers(min_value=2, max_value=6))
    pts = draw(st.lists(st.tuples(coord, coord), min_size=n, max_size=n))
    # drop consecutive duplicates (zero-length segments)
    out = [pts[0]]
    for p in pts[1:]:
        if p != out[-1]:
            out.append(p)
    if len(out) < 2:
        out.append((out[0][0] + 1.0, out[0][1]))
    return out


def _length(parts):
    return sum(
        math.dist(part[i], part[i + 1])
        for part in parts for i in range(len(part) - 1))


@settings(max_examples=150, deadline=None)
@given(line=polyline(), cuts=st.lists(st.tuples(coord, coord), max_size=4))
def test_split_preserves_total_length(line, cuts):
    xs = np.array([p[0] for p in line])
    ys = np.array([p[1] for p in line])
    parts = _split_polyline(xs, ys, cuts)
    assert _length(parts) == pytest.approx(_length([line]), abs=1e-9)
    for part in parts:
        assert len(part) >= 2
    # parts chain: each part starts where the previous ended
    for prev, nxt in zip(parts, parts[1:]):
        assert prev[-1] == nxt[0]


def test_unnest_way_nodes_roundtrip(spark, osm):
    from osm_pg_etl_spark.operators.topology import unnest_way_nodes

    got = sorted((r["way_id"], r["node_id"], r["sequence_id"]) for r in
                 unnest_way_nodes(osm["ways"]).collect())
    want = sorted((r["way_id"], r["node_id"], r["sequence_id"]) for r in
                  osm["way_nodes"].collect())
    assert got == want


# --- deterministic bucket / Morton-code invariants (round 3) -----------------

@given(st.lists(st.integers(-10**9, 10**9), min_size=0, max_size=60),
       st.integers(-10**9, 10**9),
       st.integers(-10**9, 10**9))
@settings(max_examples=200, deadline=None)
def test_bucket_of_monotone_for_any_boundaries(bounds, k1, k2):
    """bucket_of must be monotone in the key for ANY boundary list — the
    property the distributed prefix sums rely on. Pure-python mirror of
    the Column expression (count of boundaries strictly below the key)."""
    bounds = sorted(set(bounds))

    def bucket(k):
        return sum(1 for b in bounds if k > b)

    lo, hi = min(k1, k2), max(k1, k2)
    assert bucket(lo) <= bucket(hi)
    assert 0 <= bucket(k1) <= len(bounds)


@given(st.integers(0, 2**15 - 1), st.integers(0, 2**15 - 1),
       st.integers(0, 2**15 - 1), st.integers(0, 2**15 - 1))
@settings(max_examples=200, deadline=None)
def test_morton_code_order_preserving_per_axis(a1, b1, a2, b2):
    """Morton codes preserve dominance: if a1<=a2 and b1<=b2 then
    z(a1,b1) <= z(a2,b2) — the property that makes Z-order ranges prune
    rectangles. Also: codes are injective."""
    def z(a, b, bits=15):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    if a1 <= a2 and b1 <= b2:
        assert z(a1, b1) <= z(a2, b2)
    if (a1, b1) != (a2, b2):
        assert z(a1, b1) != z(a2, b2)


@given(st.lists(st.tuples(st.integers(1, 10**6), st.text("ab", min_size=0,
                                                         max_size=3)),
                min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_bloom_membership_pure_python_no_false_negatives(items):
    """Pure-python mirror of bloom_build/bloom_might_contain bit math: any
    inserted value must probe true for any (bits_log2, num_hashes)."""
    import hashlib

    m, k = 1 << 10, 3
    words: dict[int, int] = {}
    vals = [f"{i}|{t}" for i, t in items]
    for v in vals:
        for s in range(1, k + 1):
            pos = int(hashlib.md5(f"{s}|{v}".encode()).hexdigest()[:8],
                      16) % m
            words[pos // 32] = words.get(pos // 32, 0) | (1 << (pos % 32))
    for v in vals:
        for s in range(1, k + 1):
            pos = int(hashlib.md5(f"{s}|{v}".encode()).hexdigest()[:8],
                      16) % m
            mask = 1 << (pos % 32)
            assert words.get(pos // 32, 0) & mask == mask


@given(st.integers(-10**6, 10**6), st.integers(-10**6, 10**6),
       st.integers(1, 64), st.integers(-10**7, 10**7))
def test_stride_predicates_partition_every_value(lower, upper, n, v):
    """Every integer matches exactly one stride predicate — no row lost or
    duplicated regardless of bounds, partition count, or out-of-range
    values (the property a JDBC parallel read depends on)."""
    from osm_pg_etl_spark.sources.jdbc import stride_predicates

    preds = stride_predicates("id", lower, upper, n)

    def matches(pred: str, val: int) -> bool:
        # evaluate the SQL predicate in Python (id <op> literal forms only)
        clauses = pred.split(" OR ")
        ok = False
        for c in clauses:
            c = c.strip()
            if c == "id IS NULL":
                continue
            if c == "id IS NOT NULL":
                ok = True
            elif " AND " in c:
                lo_s, hi_s = c.split(" AND ")
                ok = ok or (val >= int(lo_s.split(">= ")[1])
                            and val < int(hi_s.split("< ")[1]))
            elif c.startswith("id >= "):
                ok = ok or val >= int(c.split(">= ")[1])
            elif c.startswith("id < "):
                ok = ok or val < int(c.split("< ")[1])
        return ok

    assert sum(matches(p, v) for p in preds) == 1


def _lpa_reference(edge_list: list, n_iter: int) -> dict:
    """Plain-Python synchronous LPA oracle: most-frequent neighbour label,
    ties broken to the smallest label."""
    adj: dict[int, list[int]] = {}
    for u, v in edge_list:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {x: x for x in adj}
    for _ in range(n_iter):
        nxt = {}
        for x, ns in adj.items():
            freq: dict[int, int] = {}
            for nb in ns:
                freq[labels[nb]] = freq.get(labels[nb], 0) + 1
            best = max(freq.values())
            nxt[x] = min(l for l, c in freq.items() if c == best)
        labels = nxt
    return labels


@given(st.lists(st.tuples(st.integers(0, 500), st.integers(0, 500)),
                min_size=1, max_size=40),
       st.integers(1, 5))
def test_lpa_reference_oracle_self_consistent(edge_list, n_iter):
    """The plain-Python LPA oracle is total and deterministic on arbitrary
    random graphs (labels defined for every node, drawn from node ids) —
    the Spark parity test below reuses it on seeded fixed graphs."""
    edge_list = [(u, v) for u, v in edge_list if u != v]
    if not edge_list:
        return
    labels = _lpa_reference(edge_list, n_iter)
    nodes = {x for e in edge_list for x in e}
    assert set(labels) == nodes
    assert set(labels.values()) <= nodes


def test_lpa_reference_parity_spark_batch(spark):
    """Run seeded random graphs through the real operator in one Spark
    session (per-case sessions would be minutes of overhead). Cases are
    generated locally with a fixed seed — self-contained under -k
    selection and pytest-xdist, unlike harvesting hypothesis cases from
    another test in the same process."""
    import random

    from osm_pg_etl_spark.operators.graph_algo import label_propagation

    rng = random.Random(42)
    cases = []
    for i in range(8):
        n_nodes = rng.randint(2, 30)
        n_edges = rng.randint(1, 40)
        raw = [(rng.randint(0, n_nodes), rng.randint(0, n_nodes))
               for _ in range(n_edges)]
        # label_propagation works on the deduplicated undirected edge set
        # (symmetric_edges applies distinct()); canonicalize so the
        # multiplicity-counting Python oracle sees the same graph
        edge_list = sorted({(min(u, v), max(u, v))
                            for u, v in raw if u != v}) or [(0, 1)]
        n_iter = rng.randint(1, 5)
        cases.append((edge_list, n_iter, _lpa_reference(edge_list, n_iter)))
    for edge_list, n_iter, want in cases:
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["node"]: r["community"]
               for r in label_propagation(edges, n_iter=n_iter).collect()}
        assert got == want, (edge_list, n_iter)
