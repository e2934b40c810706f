"""HyperLogLog with engine-exact md5 registers (operators/sketch.py)."""

import pytest
from pyspark.sql import functions as F

from osm_pg_etl_spark.operators.sketch import hll_distinct, hll_registers


def test_hll_accuracy_large(spark):
    df = spark.range(0, 10_000).select(F.col("id").alias("v"))
    est = hll_distinct(df, "v").collect()[0]["hll_estimate"]
    assert abs(est - 10_000) / 10_000 < 0.1   # σ ≈ 1.04/√1024 ≈ 3.3%


def test_hll_small_range_correction(spark):
    df = spark.range(0, 50).select(F.col("id").alias("v"))
    est = hll_distinct(df, "v").collect()[0]["hll_estimate"]
    assert abs(est - 50) <= 2                  # linear counting regime


def test_hll_duplicates_ignored(spark):
    df = spark.range(0, 3000).select((F.col("id") % 100).alias("v"))
    est = hll_distinct(df, "v").collect()[0]["hll_estimate"]
    assert abs(est - 100) <= 5


def test_hll_grouped_and_merge(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v"))
    ests = {r["g"]: r["hll_estimate"]
            for r in hll_distinct(df, "v", ["g"]).collect()}
    assert set(ests) == {0, 1}
    assert all(abs(e - 1000) / 1000 < 0.15 for e in ests.values())
    # mergeable-sketch property: shard registers max-merge to the global ones
    half_a = hll_registers(df.filter("v < 1000"), "v")
    half_b = hll_registers(df.filter("v >= 1000"), "v")
    merged = (half_a.unionByName(half_b).groupBy("_reg")
              .agg(F.max("_rank").alias("_rank")))
    whole = hll_registers(df, "v")
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, whole.collect()))


def test_hll_p_validation(spark):
    df = spark.range(1).select(F.col("id").alias("v"))
    with pytest.raises(ValueError):
        hll_registers(df, "v", p=2)


def test_bloom_no_false_negatives_and_merge(spark):
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.sketch import (
        bloom_build, bloom_might_contain)

    ref = spark.createDataFrame([(f"doc {i}",) for i in range(200)],
                                "text string")
    bloom = bloom_build(ref, "text", bits_log2=12, num_hashes=4)
    probe = spark.createDataFrame(
        [(f"doc {i}",) for i in range(300)], "text string")
    got = {r["text"]: r["might_contain"]
           for r in bloom_might_contain(probe, "text", bloom,
                                        bits_log2=12, num_hashes=4).collect()}
    # every member flags true — the Bloom guarantee
    assert all(got[f"doc {i}"] for i in range(200))
    # at 4096 bits / 800 set hashes some non-members must stay false
    assert not all(got[f"doc {i}"] for i in range(200, 300))

    # shard merge: bit_or of two half-corpus tables == whole-corpus table
    h1 = bloom_build(ref.limit(100), "text", bits_log2=12, num_hashes=4)
    h2 = bloom_build(ref.subtract(ref.limit(100)), "text",
                     bits_log2=12, num_hashes=4)
    merged = (h1.unionByName(h2).groupBy("word")
              .agg(F.bit_or("bits").alias("bits")))
    whole = {(r["word"], r["bits"]) for r in bloom.collect()}
    assert {(r["word"], r["bits"]) for r in merged.collect()} == whole


def test_bloom_deterministic_across_partitionings(spark):
    from osm_pg_etl_spark.operators.sketch import (
        bloom_build, bloom_might_contain)

    ref = spark.createDataFrame([(f"v{i}",) for i in range(50)], "text string")
    probe = spark.createDataFrame([(f"v{i}",) for i in range(80)],
                                  "text string")
    bloom = bloom_build(ref, "text", bits_log2=10, num_hashes=3)
    a = sorted((r["text"], r["might_contain"]) for r in bloom_might_contain(
        probe, "text", bloom, bits_log2=10, num_hashes=3).collect())
    b = sorted((r["text"], r["might_contain"]) for r in bloom_might_contain(
        probe.repartition(7), "text", bloom,
        bits_log2=10, num_hashes=3).collect())
    assert a == b


def test_hll_intersect_estimate_merge_law_and_accuracy(spark):
    """The union sketch must equal the sketch of the concatenated input
    (the HLL merge law, register-exact), and the inclusion–exclusion
    intersection estimate must land within HLL tolerance of the true
    overlap (sets of 600/600 with 200 shared -> ~5% rel error at
    m=1024 per term)."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.sketch import (
        hll_distinct, hll_intersect_estimate, hll_registers)

    a = spark.range(0, 600).select(F.col("id").alias("v"))          # 0..599
    b = spark.range(400, 1000).select(F.col("id").alias("v"))       # 400..999
    # merge law: max-merged registers == registers of A ++ B
    ra, rb = hll_registers(a, "v"), hll_registers(b, "v")
    merged = sorted(map(tuple, ra.unionByName(rb).groupBy("_reg")
                        .agg(F.max("_rank").alias("_rank")).collect()))
    direct = sorted(map(tuple,
                        hll_registers(a.unionByName(b), "v").collect()))
    assert merged == direct
    row = hll_intersect_estimate(a, b, "v").collect()[0]
    exact_u = hll_distinct(a.unionByName(b), "v").collect()[0]["hll_estimate"]
    assert row["est_union"] == round(exact_u, 6)
    assert abs(row["est_intersection"] - 200) / 200 < 0.25
    assert abs(row["est_a"] - 600) / 600 < 0.1


def test_theta_small_sets_are_exact(spark):
    """Sets smaller than k carry theta = full hash space: every estimate
    is EXACT (the sketch holds all distinct hashes)."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.sketch import theta_set_ops

    a = spark.range(0, 100).select(F.col("id").alias("v"))
    b = spark.range(60, 180).select(F.col("id").alias("v"))
    row = theta_set_ops(a, b, "v", k=256).collect()[0]
    assert row["est_a"] == 100.0
    assert row["est_b"] == 120.0
    assert row["est_intersection"] == 40.0   # 60..99
    assert row["est_diff_ab"] == 60.0        # 0..59


def test_theta_sampled_sets_error_bound_and_determinism(spark):
    """Sampled regime (|A|,|B| >> k): relative error within the
    ~3/sqrt(k) band for intersection/difference of half-overlapping
    sets, and the result is a pure function of the data — identical
    under repartitioning and a different salt count."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.sketch import theta_entries, theta_set_ops

    a = spark.range(0, 20_000).select(F.col("id").alias("v"))
    b = spark.range(10_000, 30_000).select(F.col("id").alias("v"))
    k = 256
    row = theta_set_ops(a, b, "v", k=k).collect()[0]
    tol = 3.0 / (k ** 0.5)    # ~0.19
    assert abs(row["est_a"] - 20_000) / 20_000 < tol
    assert abs(row["est_b"] - 20_000) / 20_000 < tol
    assert abs(row["est_intersection"] - 10_000) / 10_000 < 2 * tol
    assert abs(row["est_diff_ab"] - 10_000) / 10_000 < 2 * tol

    again = theta_set_ops(a.repartition(13), b.repartition(7),
                          "v", k=k).collect()[0]
    assert again == row
    # salt invariance of the sketch itself
    e1 = sorted(r["h"] for r in theta_entries(a, "v", k=k).collect())
    e2 = sorted(r["h"] for r in theta_entries(
        a.repartition(5), "v", k=k, salt_parts=3).collect())
    assert e1 == e2 and len(e1) == k


def test_theta_merge_law(spark):
    """Bottom-k of a union == bottom-k of the parts' bottom-k entries —
    the mergeable-sketch property shards rely on."""
    from pyspark.sql import functions as F

    from osm_pg_etl_spark.operators.sketch import theta_entries

    a = spark.range(0, 5_000).select(F.col("id").alias("v"))
    b = spark.range(3_000, 9_000).select(F.col("id").alias("v"))
    k = 64
    direct = [r["h"] for r in theta_entries(
        a.unionByName(b), "v", k=k).collect()]
    ea = theta_entries(a, "v", k=k).select("h")
    eb = theta_entries(b, "v", k=k).select("h")
    merged = sorted(r["h"] for r in ea.unionByName(eb).distinct()
                    .orderBy("h").limit(k).collect())
    assert sorted(direct) == merged
