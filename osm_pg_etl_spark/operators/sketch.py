"""Sketch operators with engine-exact determinism.

Three mergeable sketches over the md5 hash family, each a pure function of
the value bytes (never of partitioning/row order/engine), so the DuckDB
oracles re-derive *identical* structures and even the approximations are
value-checked:

- **HyperLogLog** — approximate distinct counts (below).
- **Bloom filter** — set membership with no false negatives: build a
  fixed-size bit table from a reference corpus, probe any candidate set
  with a broadcast join. The 100 TB pattern: dedup a new crawl against an
  existing corpus without joining the corpora (the bit table for 10⁹ keys
  at 1% FP is ~1.2 GB — partition-sized, or shard by key range).
- **Theta / KMV** — bottom-k distinct hashes, for set expressions
  (union, intersection, difference) at scale.

HyperLogLog (Flajolet et al. 2007) over the md5 hash family
(:mod:`..functions.hashing`): because the register construction is a pure
function of the value bytes — not of partitioning, row order, or engine —
the DuckDB oracle re-derives the *identical* sketch, giving an approximate
distinct-count operator with a hard value-equality correctness gate
(approximate in cardinality, deterministic in computation).

Numeric portability: the register harmonic sum is kept in scaled integer
form — ``Σ 2^(maxbits+1−r)`` is a BIGINT (every term is a power of two, the
total fits 2^32 per group) — so the only floating-point steps are one final
literal/total division, which is IEEE-identical on both engines, and the
small-range ``m·ln(m/V)`` correction (rounded to 6 decimals in gates).

Scale shape: one narrow map (hash → register index/rank), one shuffle to
``(groups, register)``, one re-aggregation to ``groups`` — the same
two-level shape as a count-distinct, but with a fixed 2^p-per-group
intermediate instead of the full value set, which is the point of a sketch
at 100 TB. Register tables from disjoint corpus shards merge by
``max(rank)``: the standard mergeable-sketch property.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_registers(df: DataFrame, value_col: str,
                  group_cols: Sequence[str] = (), p: int = 10) -> DataFrame:
    """Per-group HLL register table: ``(group_cols…, _reg, _rank)`` with
    ``_reg`` the first ``p`` hash bits and ``_rank`` the max leading-zero
    rank of the remaining ``32−p`` bits. Mergeable across shards with
    ``groupBy(_reg).agg(max(_rank))``."""
    if not 4 <= p <= 20:
        raise ValueError(f"p must be in [4, 20], got {p}")
    maxbits = 32 - p
    h = md5_long(value_col)
    base = df.select(*group_cols, h.alias("_h"))
    idx = F.expr(f"_h div {1 << maxbits}").alias("_reg")
    w = F.col("_h") % (1 << maxbits)
    # bit_length(w) == length(bin(w)) for w > 0 — exact on both engines
    rank = F.when(w == 0, F.lit(maxbits + 1)) \
            .otherwise(F.lit(maxbits + 1) - F.length(F.bin(w)))
    return (base.select(*group_cols, idx, rank.alias("_r"))
            .groupBy(*group_cols, "_reg").agg(F.max("_r").alias("_rank")))


def hll_estimate_from_registers(regs: DataFrame,
                                group_cols: Sequence[str] = (),
                                p: int = 10) -> DataFrame:
    """Estimate from an (already merged) register table — the
    merge-then-estimate path: shards/streams union their register tables,
    ``groupBy(_reg).agg(max(_rank))``, then this. Same small-range
    linear-counting correction as :func:`hll_distinct` (which delegates
    here)."""
    m = 1 << p
    maxbits = 32 - p
    scale = 1 << (maxbits + 1)
    # Σ 2^(maxbits+1-rank): exact integer harmonic sum (rank ≤ maxbits+1)
    term = F.pow(F.lit(2.0), F.lit(maxbits + 1) - F.col("_rank")) \
            .cast("long")
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("hll_used"),
        F.sum(term).alias("_s"))
    numer = _alpha(m) * m * m * scale  # exact python double literal
    total = F.col("_s") + (F.lit(m) - F.col("hll_used")) * F.lit(scale)
    raw = F.lit(numer) / total.cast("double")
    v = F.lit(m) - F.col("hll_used")  # empty registers
    est = F.when((raw <= 2.5 * m) & (v > 0),
                 m * F.log(F.lit(float(m)) / v)).otherwise(raw)
    return agg.select(*group_cols, "hll_used", est.alias("hll_estimate"))


def hll_distinct(df: DataFrame, value_col: str,
                 group_cols: Sequence[str] = (), p: int = 10) -> DataFrame:
    """Approximate COUNT(DISTINCT value) per group via HyperLogLog, with
    the standard small-range linear-counting correction. Returns
    ``(group_cols…, hll_used, hll_estimate)`` where ``hll_used`` is the
    number of touched registers."""
    regs = hll_registers(df, value_col, group_cols, p)
    return hll_estimate_from_registers(regs, group_cols, p)


def hll_intersect_estimate(a: DataFrame, b: DataFrame, value_col: str,
                           p: int = 10) -> DataFrame:
    """|A∩B| by inclusion–exclusion over MERGEABLE HLL sketches:
    est(A) + est(B) − est(A∪B), where the union sketch is the
    per-register MAX of the two register tables (the HLL merge law) —
    no rescan of either input, which is the whole point at scale: two
    100 TB event slices intersect via two m-register tables and one
    m-row merge. Returns one row (est_a, est_b, est_union,
    est_intersection). Error: each term carries the standard
    ~1.04/√m relative error, and the DIFFERENCE inflates the relative
    error of a small intersection (classic inclusion–exclusion caveat —
    for tiny overlaps use an exact semi-join instead; this operator is
    for dashboard-grade overlap of large sets). Deterministic: register
    math is integer-exact, estimates are fixed-order double ops, so the
    result is engine-identical and oracle-checkable.

    Plan shape: the two inputs are TAGGED and unioned so the
    register build is ONE keyed aggregation ``groupBy(side, reg)``
    (its exchange is reused by the union-sketch merge), and the three
    estimates come out of one grouped aggregate that pivots to a
    single row — no per-estimate scalar crossJoin broadcasts. The earlier
    plan ran two register aggs, three 1-row estimate aggs and two
    broadcast joins: identical values, ~3x the AQE job count, which at
    sub-second scale IS the runtime (the scheduler-floor effect
    FLOOR_MODEL_r15.json quantifies)."""
    ta = (a.select(F.col(value_col).alias("_v"))
          .withColumn("_side", F.lit("a")))
    tb = (b.select(F.col(value_col).alias("_v"))
          .withColumn("_side", F.lit("b")))
    regs = hll_registers(ta.unionByName(tb), "_v", ("_side",), p)
    ru = (regs.groupBy("_reg").agg(F.max("_rank").alias("_rank"))
          .select(F.lit("u").alias("_side"), "_reg", "_rank"))
    est = hll_estimate_from_registers(
        regs.unionByName(ru.select(*regs.columns)), ("_side",), p)

    def pick(side: str):
        return F.max(F.when(F.col("_side") == side,
                            F.col("hll_estimate")))

    piv = est.groupBy().agg(pick("a").alias("est_a"),
                            pick("b").alias("est_b"),
                            pick("u").alias("est_union"))
    return piv.select(F.round("est_a", 6).alias("est_a"),
                      F.round("est_b", 6).alias("est_b"),
                      F.round("est_union", 6).alias("est_union"),
                      F.round(F.col("est_a") + F.col("est_b")
                              - F.col("est_union"), 6)
                      .alias("est_intersection"))


def hll_sql(value_expr: str, group_by: str = "", p: int = 10,
            table: str = "events") -> str:
    """The DuckDB re-derivation of :func:`hll_distinct` (identical register
    math), for oracle construction."""
    m, maxbits = 1 << p, 32 - p
    scale = 1 << (maxbits + 1)
    numer = _alpha(m) * m * m * scale
    gsel = f"{group_by}, " if group_by else ""
    ggrp = f"GROUP BY {group_by}" if group_by else ""
    return f"""
regs AS (
  SELECT {gsel}reg, MAX(r) AS rank
  FROM (
    SELECT {gsel}h // {1 << maxbits} AS reg,
           CASE WHEN h % {1 << maxbits} = 0 THEN {maxbits + 1}
                ELSE {maxbits + 1} - length(bin(h % {1 << maxbits}))
           END AS r
    FROM (SELECT {gsel}('0x' || substr(md5({value_expr}), 1, 8))::BIGINT AS h
          FROM {table}))
  GROUP BY {gsel}reg),
hagg AS (
  SELECT {gsel}CAST(COUNT(*) AS BIGINT) AS hll_used,
         SUM(CAST(pow(2, {maxbits + 1} - rank) AS BIGINT)) AS s
  FROM regs {ggrp}),
hest AS (
  SELECT {gsel}hll_used,
         {numer!r} / CAST(s + ({m} - hll_used) * {scale} AS DOUBLE) AS raw,
         {m} - hll_used AS v
  FROM hagg)
"""


# ---------------------------------------------------------------------------
# Bloom filter (mergeable via bit_or; no false negatives)
# ---------------------------------------------------------------------------

def bloom_build(df: DataFrame, value_col: str, bits_log2: int = 20,
                num_hashes: int = 4) -> DataFrame:
    """Bloom bit table ``(word, bits)`` over 2^bits_log2 bits packed 32 per
    word (32, not 64, so no shift ever touches the sign bit — keeps the
    bit arithmetic portable across engines): for each value, hash seeds
    ``1..k`` each set one bit. One narrow explode + one
    map-side-combinable ``bit_or`` shuffle whose output is at most
    2^(bits_log2-5) rows regardless of input size. Shards merge with
    ``groupBy(word).agg(bit_or(bits))``."""
    if not 5 <= bits_log2 <= 34:
        raise ValueError(f"bits_log2 must be in [5, 34], got {bits_log2}")
    m = 1 << bits_log2
    pos = [(md5_long(value_col, seed=i) % m).alias(f"_p{i}")
           for i in range(1, num_hashes + 1)]
    exploded = (df.select(F.explode(F.array(*pos)).alias("_pos")))
    return (exploded
            .select(F.expr("_pos div 32").alias("word"),
                    F.expr("shiftleft(1L, cast(_pos % 32 as int))")
                    .alias("_bit"))
            .groupBy("word").agg(F.bit_or("_bit").alias("bits")))


def bloom_might_contain(df: DataFrame, value_col: str, bloom: DataFrame,
                        bits_log2: int = 20, num_hashes: int = 4,
                        result_col: str = "might_contain") -> DataFrame:
    """Probe a Bloom bit table: appends ``result_col`` (true ⇔ all k bits
    set — no false negatives, deterministic false-positive set). Scale
    shape: ``num_hashes`` sequential broadcast joins of the
    (≤2^(bits_log2-5))-row bit table against per-row word columns — the
    candidate corpus is never shuffled and no synthetic row id is needed
    (a ``monotonically_increasing_id`` join would be nondeterministic
    across subtree re-evaluations)."""
    m = 1 << bits_log2
    out = df
    flags = []
    for i in range(1, num_hashes + 1):
        out = out.withColumn(f"_p{i}", md5_long(value_col, seed=i) % m)
        b = bloom.select(F.col("word").alias(f"_w{i}"),
                         F.col("bits").alias(f"_b{i}"))
        out = out.join(F.broadcast(b),
                       F.expr(f"_p{i} div 32") == F.col(f"_w{i}"), "left")
        mask = F.expr(f"shiftleft(1L, cast(_p{i} % 32 as int))")
        flags.append(
            F.coalesce(F.col(f"_b{i}"), F.lit(0)).bitwiseAND(mask) == mask)
    ok = flags[0]
    for f in flags[1:]:
        ok = ok & f
    drop = [c for i in range(1, num_hashes + 1)
            for c in (f"_p{i}", f"_w{i}", f"_b{i}")]
    return out.withColumn(result_col, ok).drop(*drop)


def bloom_sql(build_expr: str, build_from: str, bits_log2: int = 20,
              num_hashes: int = 4) -> str:
    """DuckDB CTE re-deriving :func:`bloom_build` bit-for-bit (``bloom``
    with columns word/bits). md5 positions, 32-per-word packing, BIT_OR."""
    m = 1 << bits_log2
    hashes = " UNION ALL ".join(
        f"SELECT ('0x' || substr(md5('{i}|' || {build_expr}), 1, 8))::BIGINT "
        f"% {m} AS pos FROM {build_from}"
        for i in range(1, num_hashes + 1))
    return f"""
bloom AS (
  SELECT pos // 32 AS word, BIT_OR(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM ({hashes})
  GROUP BY pos // 32)
"""


# ---------------------------------------------------------------------------
# Theta / KMV sketch (bottom-k distinct hashes) — set EXPRESSIONS at scale
# ---------------------------------------------------------------------------

_THETA_SPACE = 1 << 48  # 48-bit md5-derived hash space


def _md5_long48(c) -> F.Column:
    """48-bit md5-derived hash as a long — the theta-sketch hash space
    (32 bits collide too readily for order statistics). Portable SQL:
    ``('0x' || substr(md5(x), 1, 12))::BIGINT``."""
    col = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12),
                  16, 10).cast("long")


def theta_entries(df: DataFrame, value_col: str, k: int = 256,
                  salt_parts: int = 32) -> DataFrame:
    """KMV/theta sketch of a set (Bar-Yossef et al. 2002; the Apache
    DataSketches theta family): the ``k`` smallest DISTINCT 48-bit
    hashes of the values, one row per retained hash. HLL answers
    distinct counts and (by inclusion–exclusion) unions; theta entries
    additionally support INTERSECTION and DIFFERENCE cardinalities
    directly (:func:`theta_set_ops`) because entries below the combined
    threshold are a uniform sample of each set.

    Deterministic and mergeable: bottom-k of a fixed hash is a pure
    function of the value set (merge = bottom-k of the union), so the
    DuckDB oracle recomputes the identical sketch. Scale shape: one
    distinct shuffle on the hash, then the same salted two-phase
    bottom-k as ``stats.quantile_sketch_by_group`` — phase 1 ranks
    within ``salt_parts`` hash partitions (skew-free, spillable),
    phase 2 ranks only the ≤ salt_parts·k candidates; the salt provably
    cannot change the result."""
    from pyspark.sql import Window  # noqa: PLC0415

    hs = (df.select(_md5_long48(value_col).alias("_h"))
          .where(F.col("_h").isNotNull())
          .distinct()
          .withColumn("_salt", F.pmod(F.xxhash64("_h"),
                                      F.lit(salt_parts))))
    w1 = Window.partitionBy("_salt").orderBy("_h")
    cand = (hs.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= k).select("_h"))
    w2 = Window.partitionBy(F.lit(1)).orderBy("_h")
    # phase-2 window: single partition of <= salt_parts*k rows (bounded)
    return (cand.withColumn("theta_rank", F.row_number().over(w2))
            .filter(F.col("theta_rank") <= k)
            .select(F.col("_h").alias("h"), "theta_rank"))


def _theta_stats(entries: DataFrame, k: int) -> DataFrame:
    """One row (n, theta): theta = the k-th smallest hash when the set
    was sampled, or the full hash space when the sketch holds the whole
    set (n < k ⇒ every distinct hash is present ⇒ counts are exact)."""
    return (entries.agg(F.count("h").alias("n"), F.max("h").alias("_mx"))
            .select("n",
                    F.when(F.col("n") < k,
                           F.lit(_THETA_SPACE).cast("long"))
                    .otherwise(F.col("_mx")).alias("theta")))


def theta_set_ops(a: DataFrame, b: DataFrame, value_col: str,
                  k: int = 256) -> DataFrame:
    """Set-expression cardinalities from two theta sketches: one row
    (est_a, est_b, est_intersection, est_diff_ab, n_candidates).

    Estimators (standard theta-sketch): per-set cardinality is the
    unbiased KMV (k−1)/(θ_own/U); intersection and A∖B count the
    sketch entries strictly below θ = min(θ_A, θ_B) — a uniform
    θ/U-rate sample of each set — and scale by U/θ. Sets smaller than
    ``k`` carry θ = U, so two small sets produce EXACT answers and the
    oracle's value-hash gate pins the whole construction either way.
    Relative error ~1/√(k·θ-fraction); like hll_intersect_estimate this
    is for dashboard-grade overlap of large sets, not tiny-overlap
    precision. Everything is 1-row-frame algebra + one equi-join of two
    ≤k-row entry tables — no rescan of either input."""
    ea = theta_entries(a, value_col, k)
    eb = theta_entries(b, value_col, k)
    sa = _theta_stats(ea, k).select(F.col("n").alias("n_a"),
                                    F.col("theta").alias("th_a"))
    sb = _theta_stats(eb, k).select(F.col("n").alias("n_b"),
                                    F.col("theta").alias("th_b"))
    st = (sa.crossJoin(sb)
          .select("n_a", "n_b", "th_a", "th_b",
                  F.least("th_a", "th_b").alias("th")))
    u = float(_THETA_SPACE)

    def est_own(n, th):
        frac = F.col(th).cast("double") / F.lit(u)
        return F.when(F.col(th) == _THETA_SPACE,
                      F.col(n).cast("double")) \
            .otherwise(F.lit(float(k - 1)) / frac)

    below_a = (ea.crossJoin(F.broadcast(st.select("th")))
               .filter(F.col("h") < F.col("th"))
               .agg(F.count("h").alias("na_c")))
    inter = (ea.join(eb.select("h"), "h", "left_semi")
             .crossJoin(F.broadcast(st.select("th")))
             .filter(F.col("h") < F.col("th"))
             .agg(F.count("h").alias("ni_c")))
    out = st.crossJoin(below_a).crossJoin(inter)
    frac = F.col("th").cast("double") / F.lit(u)
    scale = F.when(F.col("th") == _THETA_SPACE, F.lit(1.0)) \
        .otherwise(F.lit(1.0) / frac)
    return out.select(
        F.round(est_own("n_a", "th_a"), 4).alias("est_a"),
        F.round(est_own("n_b", "th_b"), 4).alias("est_b"),
        F.round(F.col("ni_c").cast("double") * scale, 4)
        .alias("est_intersection"),
        F.round((F.col("na_c") - F.col("ni_c")).cast("double") * scale, 4)
        .alias("est_diff_ab"),
        (F.col("n_a") + F.col("n_b")).cast("long").alias("n_candidates"))


def theta_sql(a_expr: str, a_from: str, b_expr: str, b_from: str,
              k: int = 256) -> str:
    """DuckDB re-derivation of :func:`theta_set_ops` — identical bottom-k
    sketches (single-node, so one plain ROW_NUMBER replaces the salted
    phases; the salt provably never changes the result) and the same
    fixed-order estimator arithmetic."""
    u = float(_THETA_SPACE)
    return f"""
WITH ha AS (SELECT DISTINCT ('0x' || substr(md5({a_expr}), 1, 12))::BIGINT AS h
            FROM {a_from}),
hb AS (SELECT DISTINCT ('0x' || substr(md5({b_expr}), 1, 12))::BIGINT AS h
       FROM {b_from}),
sa AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ha)
       WHERE rn <= {k}),
sb AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hb)
       WHERE rn <= {k}),
sta AS (SELECT COUNT(*) AS n_a,
               CASE WHEN COUNT(*) < {k} THEN {_THETA_SPACE} ELSE MAX(h) END AS th_a
        FROM sa),
stb AS (SELECT COUNT(*) AS n_b,
               CASE WHEN COUNT(*) < {k} THEN {_THETA_SPACE} ELSE MAX(h) END AS th_b
        FROM sb),
st AS (SELECT n_a, n_b, th_a, th_b, LEAST(th_a, th_b) AS th FROM sta, stb),
belowa AS (SELECT COUNT(*) AS na_c FROM sa, st WHERE sa.h < st.th),
inter AS (SELECT COUNT(*) AS ni_c
          FROM sa, st WHERE sa.h < st.th AND sa.h IN (SELECT h FROM sb))
SELECT
  ROUND(CASE WHEN th_a = {_THETA_SPACE} THEN CAST(n_a AS DOUBLE)
        ELSE {float(k - 1)!r} / (CAST(th_a AS DOUBLE) / {u!r}) END, 4) AS est_a,
  ROUND(CASE WHEN th_b = {_THETA_SPACE} THEN CAST(n_b AS DOUBLE)
        ELSE {float(k - 1)!r} / (CAST(th_b AS DOUBLE) / {u!r}) END, 4) AS est_b,
  ROUND(CAST(ni_c AS DOUBLE) * (CASE WHEN th = {_THETA_SPACE} THEN 1.0
        ELSE 1.0 / (CAST(th AS DOUBLE) / {u!r}) END), 4) AS est_intersection,
  ROUND(CAST(na_c - ni_c AS DOUBLE) * (CASE WHEN th = {_THETA_SPACE} THEN 1.0
        ELSE 1.0 / (CAST(th AS DOUBLE) / {u!r}) END), 4) AS est_diff_ab,
  CAST(n_a + n_b AS BIGINT) AS n_candidates
FROM st, belowa, inter
"""
