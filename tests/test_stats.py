"""Median / weighted-median parity with the reference's own inline smoke
tests (general-functions.sql:110-129), with exact expected values."""

import pytest

from osm_pg_etl_spark.operators.stats import median, weighted_median

# temp_table from general-functions.sql:111-118
ROWS = [(0.0, 325.0), (1.0, -100.0), (5.0, 50.0),
        (3.0, None), (2.7, 1153.0), (2.0, 98.0)]


@pytest.fixture(scope="module")
def temp_table(spark):
    return spark.createDataFrame(ROWS, "k double, v double")


def test_median_even_count(spark, temp_table):
    # 6 non-null k values -> avg of the two middle (2, 2.7) = 2.35
    got = temp_table.agg(median("k").alias("m")).collect()[0]["m"]
    assert got == pytest.approx(2.35)


def test_median_excludes_nulls(spark, temp_table):
    # v has one NULL -> 5 values {-100,50,98,325,1153} -> middle = 98
    got = temp_table.agg(median("v").alias("m")).collect()[0]["m"]
    assert got == pytest.approx(98.0)


def test_weighted_median(spark, temp_table):
    # NULL weight counts as 0 (coalesce at general-functions.sql:65-67).
    # total = 1526, half = 763; running sums by k order put the midpoint
    # inside k=2.7's [prev, run] interval only.
    got = weighted_median(temp_table, "k", "v").collect()[0]["weighted_median"]
    assert got == pytest.approx(2.7)


def test_weighted_median_zero_weights(spark):
    # temp_table2 (general-functions.sql:121-129): all-zero weights -> the
    # midpoint filter matches every row -> average of all x.
    df = spark.createDataFrame(
        [(k, 0.0) for k, _ in ROWS], "k double, v double")
    got = weighted_median(df, "k", "v").collect()[0]["weighted_median"]
    assert got == pytest.approx(sum(k for k, _ in ROWS) / len(ROWS))


def test_weighted_median_by_group(spark):
    # two groups with hand-computed answers: trivial single-row group and an
    # exact-midpoint straddle (avg of the two straddling x values)
    df = spark.createDataFrame(
        [("a", 10.0, 1.0),
         ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0)],
        "g string, x double, w double")
    got = {r["g"]: r["wm"] for r in
           weighted_median(df, "x", "w", group_cols=["g"], alias="wm").collect()}
    assert got["a"] == pytest.approx(10.0)
    # total=4, half=2: x=2 has [1,2], x=3 has [2,3] -> avg(2,3) = 2.5
    assert got["b"] == pytest.approx(2.5)


def test_weighted_median_pandas_equals_window_path(spark):
    from osm_pg_etl_spark.operators.stats import weighted_median_pandas

    df = spark.createDataFrame(
        [("a", 10.0, 1.0),
         ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0),
         ("c", 5.0, 3.0), ("c", 7.0, 1.0), ("c", 9.0, None)],
        "g string, x double, w double")
    win = {r["g"]: r["wm"] for r in
           weighted_median(df, "x", "w", group_cols=["g"], alias="wm").collect()}
    pdn = {r["g"]: r["wm"] for r in
           weighted_median_pandas(df, "x", "w", ["g"], alias="wm").collect()}
    assert set(win) == set(pdn) == {"a", "b", "c"}
    for g in win:
        assert pdn[g] == pytest.approx(win[g]), g


def test_median_by_group_matches_percentile_cont(spark):
    # PERCENTILE_CONT(0.5) semantics (osm-complete-graphs.sql:33-38)
    df = spark.createDataFrame(
        [("r", 20.0), ("r", 30.0), ("r", 50.0), ("m", 100.0), ("m", 110.0)],
        "highway string, speed double")
    got = {r["highway"]: r["med"] for r in
           df.groupBy("highway").agg(median("speed").alias("med")).collect()}
    assert got["r"] == pytest.approx(30.0)
    assert got["m"] == pytest.approx(105.0)


def test_weighted_median_reference_quirks_mode(spark):
    """reference_quirks=True reproduces the LIVE PostgreSQL outputs of
    general-functions.sql's weighted_median family (literals measured in
    r6 through tests/test_pg_reference_parity.py, pinned here so the
    contract holds without a server): first-row NULL-prevsum exclusion
    and the grouped max-over-straddle convention."""
    from osm_pg_etl_spark.operators.stats import weighted_median

    zero = spark.createDataFrame(
        [(0.0, 0), (1.0, 0), (5.0, 0), (3.0, 0), (2.7, 0), (2.0, 0)],
        "x double, w int")
    # reference live: avg of rows 2..n = 2.74 (row x=0 never straddles)
    assert abs(weighted_median(zero, "x", "w", reference_quirks=True)
               .collect()[0][0] - 2.74) < 1e-9
    # repaired default averages ALL rows
    assert abs(weighted_median(zero, "x", "w").collect()[0][0]
               - 13.7 / 6) < 1e-9

    mn = spark.createDataFrame([(1.0, 10), (2.0, 1), (3.0, 1)],
                               "x double, w int")
    # reference live: NULL (the minimum can never be the hit row)
    assert weighted_median(mn, "x", "w",
                           reference_quirks=True).collect()[0][0] is None
    assert weighted_median(mn, "x", "w").collect()[0][0] == 1.0

    dg = spark.createDataFrame(
        [("a", 1.0, 2), ("a", 2.0, 2), ("a", 3.0, 4)],
        "g string, x double, w int")
    # exact straddle: reference grouped takes the UPPER value (3.0),
    # repaired default interpolates (2.5)
    assert weighted_median(dg, "x", "w", group_cols=["g"],
                           reference_quirks=True).collect()[0][1] == 3.0
    assert weighted_median(dg, "x", "w",
                           group_cols=["g"]).collect()[0][1] == 2.5
