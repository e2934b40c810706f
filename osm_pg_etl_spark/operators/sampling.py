"""Deterministic per-group sampling.

All randomness is md5-derived (:mod:`..functions.hashing`) rather than
``rand()``: picks are a pure function of the row key and a seed, so they
are stable across runs, retries, engines (DuckDB oracles re-derive them
exactly), and cluster re-partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

# 2^32 — md5_long's range; dividing maps it onto a uniform double in [0,1).
_HASH_RANGE = float(2**32)


def hash_uniform(c: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform double in ``[0, 1)`` from ``md5(seed|x)``.

    Portable: ``('0x' || substr(md5(seed || x), 1, 8))::bigint /
    4294967296.0`` in ANSI-ish SQL computes the identical value.
    """
    return md5_long(c, seed).cast("double") / F.lit(_HASH_RANGE)


def per_group_sample(df: DataFrame, k: int, group_col: str = "lang",
                     id_col: str = "doc_id", seed: int = 11) -> DataFrame:
    """Exactly ``min(k, |group|)`` rows per group, chosen by hashed-id rank
    — a *deterministic reservoir*: membership depends only on (id, seed)
    order within the group, so re-runs, repartitions, and appends of other
    groups never change a group's picks (appending to the SAME group can —
    that is inherent to exact-k semantics).

    One shuffle on the group key; the rank window's sort is per-group.
    Skewed giant groups: rank's per-partition sort handles millions of rows
    per group; for pathological single-group corpora pre-aggregate a
    hash-bucket top-k first (same trick as functions.skew).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    w = (Window.partitionBy(group_col)
         .orderBy(hash_uniform(id_col, seed), F.col(id_col)))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn"))


