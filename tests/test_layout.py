"""Z-order layout (functions.layout): Morton codes + file-pruning benefit."""

from __future__ import annotations

import glob
import os


def _py_z(a: int, b: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_reference(spark):
    from osm_pg_etl_spark.functions.layout import z_value

    rows = [(a, b) for a in range(8) for b in range(8)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {(r["a"], r["b"]): r["z"] for r in df.select(
        "a", "b", z_value(["a", "b"], bits=3).alias("z")).collect()}
    for (a, b), z in got.items():
        assert z == _py_z(a, b, 3)
    # Morton codes of distinct points are distinct
    assert len(set(got.values())) == 64


def test_zorder_sort_improves_file_ranges(spark, tmp_path):
    """After Z-ordering on (x, y), per-file min/max ranges of BOTH columns
    must shrink versus a single-column sort — the footer-pruning win."""
    import pyarrow.parquet as pq

    from osm_pg_etl_spark.functions.layout import zorder_sort

    n_files = 8
    rows = [(i, (i * 7919) % 1000, (i * 104729) % 1000)
            for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    def avg_span(path, col):
        spans = []
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.read_metadata(f)
            lo = min(md.row_group(i).column(md.schema.names.index(col))
                     .statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(md.schema.names.index(col))
                     .statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    p_x = str(tmp_path / "xsort")
    (df.repartitionByRange(n_files, "x").sortWithinPartitions("x")
       .write.parquet(p_x))
    p_z = str(tmp_path / "zsort")
    zorder_sort(df, ["x", "y"], bits=10,
                num_partitions=n_files).write.parquet(p_z)

    # single-column sort clusters x perfectly but leaves y unclustered
    assert avg_span(p_x, "y") > 900
    # z-order clusters BOTH: each file covers a fraction of each range
    assert avg_span(p_z, "x") < 600
    assert avg_span(p_z, "y") < 600


def test_zorder_sort_null_and_constant_columns(spark):
    from osm_pg_etl_spark.functions.layout import zorder_sort

    df = spark.createDataFrame(
        [(1, None, 5), (2, 3, 5), (3, 9, 5)], "id long, x long, y long")
    got = sorted(r["id"] for r in zorder_sort(df, ["x", "y"]).collect())
    assert got == [1, 2, 3]  # nulls and zero-span columns survive
