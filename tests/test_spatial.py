"""Grid-blocked spatial join (SURVEY §2.3 J8): exact predicate cases and
blocking soundness."""

import numpy as np

from osm_pg_etl_spark.operators.spatial import (
    _segments_intersect,
    intersecting_way_pairs,
)


def seg(*pts):
    xs = np.array([p[0] for p in pts], dtype=float)
    ys = np.array([p[1] for p in pts], dtype=float)
    return xs, ys


def test_predicate_crossing():
    a, b = seg((0, 0), (2, 2)), seg((0, 2), (2, 0))
    assert _segments_intersect(*a, *b)


def test_predicate_endpoint_touch():
    a, b = seg((0, 0), (1, 0)), seg((1, 0), (2, 5))
    assert _segments_intersect(*a, *b)


def test_predicate_t_touch_midsegment():
    a, b = seg((0, 0), (2, 0)), seg((1, 0), (1, 3))
    assert _segments_intersect(*a, *b)


def test_predicate_parallel_disjoint():
    a, b = seg((0, 0), (1, 0)), seg((0, 1), (1, 1))
    assert not _segments_intersect(*a, *b)


def test_predicate_collinear_overlap():
    a, b = seg((0, 0), (2, 0)), seg((1, 0), (3, 0))
    assert _segments_intersect(*a, *b)


def test_predicate_collinear_disjoint():
    a, b = seg((0, 0), (1, 0)), seg((2, 0), (3, 0))
    assert not _segments_intersect(*a, *b)


def test_intersecting_way_pairs(spark):
    ways = spark.createDataFrame([
        (1, [(0.0, 0.0), (2.0, 2.0)]),
        (2, [(0.0, 2.0), (2.0, 0.0)]),        # crosses 1 at (1,1)
        (3, [(2.0, 2.0), (3.0, 0.0)]),        # touches 1 at its endpoint
        (4, [(10.0, 10.0), (11.0, 11.0)]),    # far away (pruned by blocking)
        (5, [(1.5, 0.1), (1.8, 0.1)]),        # near 1 but disjoint: same cell,
                                              # must be rejected by verify
    ], "id long, linestring array<struct<lon:double,lat:double>>")
    got = sorted((r["id_a"], r["id_b"]) for r in
                 intersecting_way_pairs(ways, cell_deg=1.0).collect())
    assert got == [(1, 2), (1, 3)]


def test_pair_relation_classification():
    import numpy as np

    from osm_pg_etl_spark.operators.spatial import _pair_relation

    def rel(a, b):
        ax, ay = np.array([p[0] for p in a], float), np.array([p[1] for p in a], float)
        bx, by = np.array([p[0] for p in b], float), np.array([p[1] for p in b], float)
        return _pair_relation(ax, ay, bx, by)

    # X shape: proper interior crossing
    assert rel([(0, 0), (2, 2)], [(0, 2), (2, 0)]) == "crosses"
    # T shape: b's endpoint on a's interior -> touches (endpoint is
    # boundary of b, so int(a)∩int(b) is empty)
    assert rel([(0, 0), (2, 0)], [(1, 0), (1, 1)]) == "touches"
    # shared endpoint only
    assert rel([(0, 0), (1, 0)], [(1, 0), (2, 1)]) == "touches"
    # collinear positive-length overlap
    assert rel([(0, 0), (2, 0)], [(1, 0), (3, 0)]) == "overlap"
    # collinear, meeting at a single point -> touches, not overlap
    assert rel([(0, 0), (1, 0)], [(1, 0), (2, 0)]) == "touches"
    # vertical collinear overlap (x-range is a point, y-range positive)
    assert rel([(0, 0), (0, 2)], [(0, 1), (0, 3)]) == "overlap"
    # disjoint
    assert rel([(0, 0), (1, 0)], [(0, 1), (1, 1)]) is None
    # crossing at an interior VERTEX of a (vertex is still interior)
    assert rel([(0, 0), (1, 0), (2, 0)], [(1, -1), (1, 1)]) == "crosses"
    # mid-segment pass-through of b across a's interior, plus a shared
    # boundary endpoint elsewhere: crosses wins (int∩int nonempty)
    assert rel([(0, 0), (4, 0)], [(0, 0), (2, -1), (2, 1)]) == "crosses"


def test_nearest_neighbor_join_picks_closest_with_tiebreak(spark):
    from osm_pg_etl_spark.operators.spatial import nearest_neighbor_join

    pts = spark.createDataFrame(
        [(1, 0.000, 0.000), (2, 0.030, 0.000), (3, 5.0, 5.0)],
        "pid long, lon double, lat double")
    # targets: 10 exactly at origin-adjacent ring; 20/21 equidistant from
    # point 2 -> tie broken by smaller id; nothing near point 3
    tg = spark.createDataFrame(
        [(10, 0.001, 0.000), (20, 0.020, 0.000), (21, 0.040, 0.000)],
        "tid long, lon double, lat double")
    got = {r["pid"]: (r["nearest_id"], r["dist_km"])
           for r in nearest_neighbor_join(
               pts, tg, cell_deg=0.05, id_col="pid", tid_col="tid")
           .collect()}
    assert got[1][0] == 10
    assert got[2][0] == 20          # 0.01 deg either way -> min id wins
    assert 3 not in got             # no target within the 3x3 cells
    assert got[1][1] < got[2][1]
