"""Similarity search over embedding columns (``array<float>``).

Extensions beyond the reference surface (BASELINE.json north star):

- **brute-force cosine top-k** — the exact baseline: a narrow map computing
  the score (zip_with dot product, JVM-side) + a TakeOrderedAndProject.
  Linear scan; at 100 TB it parallelizes perfectly but reads everything.
- **random-hyperplane LSH buckets** — the scale path: deterministic
  (seeded) hyperplanes embedded as literals, per-row sign-bit signature
  (narrow), candidates searched only within the query's bucket(s).
  Multi-probe (flipping one bit) trades recall for fan-out.
- **embedding near-dup pairs** — cosine over LSH-bucketed candidates.

- **IVF (inverted-file) top-k** — the coarse-quantizer scale path: a small
  centroid set partitions the vectors into cells (narrow argmax over
  broadcast centroid literals, no shuffle); a query probes only its
  ``nprobe`` nearest cells. Cell assignment is the natural partition /
  cluster key for a persisted index at 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _lit_double_array(values) -> Column:
    """A literal array<double> built from ONE SQL-parsed expression
    instead of one py4j round-trip per element (guide §7.3
    planning-time class): ``F.array(*[F.lit(x) ...])`` costs ~0.6 ms of
    driver py4j chatter per element — a 64-dim hyperplane × 12 tables
    × 4 planes query spent ~3 s just BUILDING its filter expression.
    ``repr(float)`` is the shortest round-tripping decimal form and
    Java's ``Double.parseDouble`` is correctly rounded, so every element
    is bit-identical to the per-element literal (A/B checked incl.
    subnormals, -0.0, 2^1023). Falls back to per-element literals for
    non-finite values, which SQL text cannot carry."""
    xs = [float(x) for x in values]
    if not xs or not all(math.isfinite(x) for x in xs):
        return F.array(*[F.lit(x) for x in xs])
    return F.expr("array(" + ",".join(repr(x) + "D" for x in xs) + ")")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, computed JVM-side."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _bucket_cosines(pdf, id_name: str, vec_name: str):
    """Shared Arrow-kernel core for the per-bucket scorers (knn_join and
    embedding_near_duplicates): the bucket's (ids, pairwise-cosine
    matrix), or None for sub-2-row buckets. Accumulation is loop-ordered
    over dimensions (``acc += outer(col, col)`` for each dim) — the same
    left-fold sum the Column-expression path and DuckDB's sequential
    list_dot_product produce, so every cosine is bit-identical per pair
    and hash-oracle-safe."""
    import numpy as np  # noqa: PLC0415

    n = len(pdf)
    if n < 2:
        return None
    ids = pdf[id_name].to_numpy()   # any orderable id type
    mat = np.stack(pdf[vec_name].to_numpy()).astype(np.float64)
    acc = np.zeros((n, n))
    sq = np.zeros(n)
    for i in range(mat.shape[1]):
        col = mat[:, i]
        acc += np.outer(col, col)
        sq += col * col
    norm = np.sqrt(sq)
    den = np.outer(norm, norm)
    with np.errstate(divide="ignore", invalid="ignore"):
        return ids, np.where(den > 0, acc / den, 0.0)


def brute_force_topk(embeddings: DataFrame, query: list[float], k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine against a literal query vector. The ORDER BY +
    LIMIT compiles to TakeOrderedAndProject — per-partition top-k then a
    single driver merge, no global sort shuffle."""
    q = _lit_double_array(query)
    return (embeddings
            .select(F.col(id_col),
                    F.round(cosine(_as_double_array(F.col(vec_col)), q), 6)
                    .alias("cosine_sim"))
            .orderBy(F.desc("cosine_sim"), id_col)
            .limit(k))


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG so the
    signature is stable across numpy versions)."""
    state = seed
    out = []
    for _ in range(planes):
        vec = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            vec.append(((state >> 33) / float(1 << 31)) - 1.0)
        norm = math.sqrt(sum(x * x for x in vec)) or 1.0
        out.append([x / norm for x in vec])
    return out


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit p set iff dot(vec, plane_p) >= 0. Narrow."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lit_plane = _lit_double_array(plane)
        sig = sig + F.when(dot(vec, lit_plane) >= 0,
                           F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_index(embeddings: DataFrame, num_planes: int = 8, dim: int = 64,
              vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """Attach an LSH bucket id to every row (narrow map). Persist this and
    partition by bucket for repeated query workloads."""
    planes = _hyperplanes(dim, num_planes, seed)
    return embeddings.withColumn(
        "lsh_bucket", hyperplane_signature(_as_double_array(F.col(vec_col)), planes))


def _query_probe_buckets(query: list[float], planes: list[list[float]],
                         multi_probe: int) -> list[int]:
    """The query's signature bucket plus its first ``multi_probe``
    one-bit-flip neighbors under ``planes``."""
    qsig = 0
    for p, plane in enumerate(planes):
        if sum(q * w for q, w in zip(query, plane)) >= 0:
            qsig |= 1 << p
    if multi_probe == 0:
        return [qsig]
    return [qsig] + [qsig ^ (1 << p)
                     for p in range(len(planes))][:multi_probe]


def lsh_topk(embeddings: DataFrame, query: list[float], k: int = 10,
             num_planes: int = 8, vec_col: str = "embedding",
             id_col: str = "vec_id", seed: int = 42,
             multi_probe: int = 1, num_tables: int = 1) -> DataFrame:
    """Approximate top-k: hash the query with the same hyperplanes, scan
    only rows in the query's bucket (plus ``multi_probe`` one-bit-flip
    neighbor buckets). With b planes this reads ~(1+probes)/2^b of the data.

    ``num_tables`` > 1 is the classic Indyk–Motwani recall lever: L
    INDEPENDENT hyperplane families (seeds ``seed``..``seed+L−1``; table
    0 is bit-identical to the single-table layout), a candidate matching
    in ANY table. Recall ≈ 1 − (1 − p^b)^L per true neighbor while each
    table still prunes to ~(1+probes)/2^b of the corpus — measured by the
    hash-gated `ann_recall` on the sf0.01 slice (probe=2): b=8, L=1 →
    0.05; b=4, L=12 → 1.00 (SCALING.md ANN table — the gate is the
    source of truth for these numbers).
    All tables evaluate in ONE narrow scan (a single OR-of-membership
    filter — no unions, no dedup join, no extra exchange)."""
    dim = len(query)
    vec = _as_double_array(F.col(vec_col))
    cond = F.lit(False)
    for tbl in range(num_tables):
        planes = _hyperplanes(dim, num_planes, seed + tbl)
        probes = _query_probe_buckets(query, planes, multi_probe)
        cond = cond | hyperplane_signature(vec, planes).isin(probes)
    q = _lit_double_array(query)
    return (embeddings.filter(cond)
            .select(F.col(id_col),
                    F.round(cosine(vec, q), 6)
                    .alias("cosine_sim"))
            .orderBy(F.desc("cosine_sim"), id_col)
            .limit(k))


def knn_join(embeddings: DataFrame, k: int = 5, num_planes: int = 8,
             dim: int = 64, vec_col: str = "embedding",
             id_col: str = "vec_id", seed: int = 42,
             exact: bool = False, num_tables: int = 1) -> DataFrame:
    """Self-KNN join: for EVERY vector its k most-cosine-similar other
    vectors — the graph-construction primitive behind embedding-space
    dedup, diversity sampling, and semantic-cluster seeding (every
    "build a similarity graph then cluster/prune" recipe starts here;
    the per-query :func:`lsh_topk` answers one query, this materializes
    all of them at once).

    Default path is LSH-bucketed: candidate pairs are vectors sharing a
    hyperplane-signature bucket — ONE equi-join on the bucket key, so
    quadratic work is confined per bucket (b planes ⇒ expected bucket
    fraction 2^-b of the corpus; raise ``num_planes`` as the corpus
    grows to cap bucket width, the SCALING.md no-all-pairs contract),
    then exact cosine on candidates and one degree-bounded per-vector
    window for the top-k. Rank order (cosine DESC, neighbor id ASC) is
    deterministic, so the whole operator is oracle-checkable.
    Vectors sharing a bucket with fewer than k others return fewer
    rows — approximate-by-construction, like every LSH index.

    ``exact=True`` is the all-pairs O(n²) baseline (explicit opt-in,
    never a default path — gate it to a slice). Returns
    (id_col, neighbor_id, cosine_sim, rank).

    ``num_tables`` L > 1 unions candidates from L independent hyperplane
    families (seeds ``seed``..``seed+L−1``) — the multi-table recall
    lever (see :func:`lsh_topk`): all L signatures come from ONE
    projection + ``posexplode`` (a single scan), the per-bucket kernel
    runs per (table, bucket), and cross-table duplicate pairs collapse
    in the same exchange that feeds the ranking window (cosine values
    are bit-identical across tables). Candidate work is
    L·Σ|bucket|² — still no all-pairs; recall measured by the hash-gated
    `ann_recall` at sf0.01: b=6, L=1 → 0.13; b=3, L=8 → 0.70
    (SCALING.md ANN table — the gate is the source of truth).

    The LSH path scores candidates with an Arrow-batched
    ``applyInPandas`` PER BUCKET rather than a bucket self-join of the
    array columns: the self-join materializes both 64-float vectors
    into every candidate row (~1 KB × pairs through the exchange —
    measured 6.4 s at sf0.1's 463 k pairs, 25× DuckDB's in-process
    loop), while the grouped kernel ships each vector across Arrow
    ONCE, computes the bucket's pairwise cosines vectorized, and
    returns only skinny (id, id, cosine) rows (~11 MB; measured
    ~1.0 s steady-state — 6× the expression path, and the hash oracle
    still matches at sf0.001/0.01). Accumulation is loop-ordered over
    dimensions
    (``acc += A[:,i]·B[:,i]`` for i = 0…d−1), NOT BLAS matmul, so
    every float is the same left-fold sum DuckDB's sequential
    list_dot_product (and the Column-expression path) produces —
    vectorized across pairs, bit-identical per pair, hash-oracle-safe.
    Rounding and the top-k rank stay Spark-side so tie-break semantics
    are engine-checked.
    """
    from pyspark.sql import Window

    if exact:
        a = embeddings.select(F.col(id_col).alias("_ida"),
                              _as_double_array(F.col(vec_col)).alias("_va"))
        b = embeddings.select(F.col(id_col).alias("_idb"),
                              _as_double_array(F.col(vec_col)).alias("_vb"))
        pairs = a.crossJoin(b).filter(F.col("_ida") != F.col("_idb"))
        sims = pairs.select(
            "_ida", "_idb",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6)
            .alias("cosine_sim"))
    else:
        import pandas as pd  # noqa: PLC0415 — Arrow batch path
        import numpy as np  # noqa: PLC0415

        if num_tables > 1:
            vec = _as_double_array(F.col(vec_col))
            sigs = F.array(*[
                hyperplane_signature(vec,
                                     _hyperplanes(dim, num_planes, seed + t))
                for t in range(num_tables)])
            idx = embeddings.select(
                F.col(id_col), F.col(vec_col),
                F.posexplode(sigs).alias("_table", "_sig")) \
                .withColumn("lsh_bucket",
                            F.col("_table") * (1 << num_planes)
                            + F.col("_sig"))
        else:
            idx = lsh_index(embeddings, num_planes, dim, vec_col, seed)

        id_type = embeddings.schema[id_col].dataType.simpleString()

        def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            scored = _bucket_cosines(pdf, "_id", "_vec")
            if scored is None:
                return pd.DataFrame({"_ida": pdf["_id"].iloc[:0],
                                     "_idb": pdf["_id"].iloc[:0],
                                     "_raw": np.empty(0, np.float64)})
            ids, cos = scored
            n = len(ids)
            # In-kernel top-k pre-prune: the ranking window only ever
            # keeps each vector's k best (rounded, id-tiebroken), and a
            # vector's global top-k is within its per-bucket top-k — so
            # emit only rows within 1e-6 of the k-th best per vector.
            # round(·, 6) is monotone and moves a value < 5e-7, so any
            # candidate more than 1e-6 below the k-th raw value rounds
            # strictly below it and can neither enter the top-k nor tie
            # it. Shrinks the pair exchange from Σ|bucket|² rows to
            # ~n·k (+ ties) — the volume term that matters at scale.
            masked = cos.copy()
            np.fill_diagonal(masked, -np.inf)
            if n - 1 > k:
                # ascending position n-k = k-th largest candidate (the
                # -inf diagonal is always the row minimum)
                kth = np.partition(masked, n - k, axis=1)[:, n - k]
                keep = masked >= (kth - 1e-6)[:, None]
            else:
                keep = ~np.eye(n, dtype=bool)
            ia, ib = np.where(keep)
            return pd.DataFrame({"_ida": ids[ia], "_idb": ids[ib],
                                 "_raw": cos[ia, ib]})

        sims = (idx.select(F.col(id_col).alias("_id"),
                           F.col(vec_col).alias("_vec"), "lsh_bucket")
                .groupBy("lsh_bucket")
                .applyInPandas(bucket_pairs,
                               f"_ida {id_type}, _idb {id_type}, "
                               f"_raw double")
                .select("_ida", "_idb",
                        F.round("_raw", 6).alias("cosine_sim")))
        if num_tables > 1:
            # a pair sharing buckets in several tables appears once per
            # table with a bit-identical cosine — collapse before ranking
            sims = sims.distinct()
    w = Window.partitionBy("_ida").orderBy(F.desc("cosine_sim"),
                                           F.col("_idb"))
    return (sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("_ida").alias(id_col),
                    F.col("_idb").alias("neighbor_id"), "cosine_sim",
                    "rank"))


def ivf_centroids(embeddings: DataFrame, num_centroids: int = 16,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Coarse-quantizer "training": deterministically sample the
    ``num_centroids`` lowest-id vectors as cell centroids.

    A Lloyd/k-means refinement would be a separate offline job writing a
    centroid table; the cell-assignment / probe skeleton downstream is
    identical, so the sampled variant keeps the whole index deterministic
    (and therefore oracle-checkable) without changing the architecture.
    """
    rows = (embeddings.orderBy(id_col).limit(num_centroids)
            .select(F.col(id_col), _as_double_array(F.col(vec_col)).alias("v"))
            .collect())
    return [(int(r[0]), [float(x) for x in r["v"]]) for r in rows]


def ivf_refine(embeddings: DataFrame,
               centroids: list[tuple[int, list[float]]],
               iters: int = 1,
               vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Lloyd k-means refinement — the offline "training" job the sampled
    :func:`ivf_centroids` deliberately defers. Each iteration is one
    distributed pass: assign every vector to its nearest centroid
    (:func:`ivf_assign`, narrow) and recompute each cell's mean
    (posexplode → groupBy(cell, dim) — a map-side-combinable agg whose
    output is only ``cells × dim`` rows, collected to the driver like any
    centroid table).

    Deterministic by construction: per-dimension sums are exact
    ``decimal(38,18)`` (associative — immune to partition/summation order),
    and the mean is one correctly-rounded double division, so refined
    centroids are a pure function of the data and remain oracle-checkable.
    Lloyd monotonically lowers quantization cost; empty cells keep their
    centroid. Returns the same ``(cid, vector)`` shape as
    :func:`ivf_centroids`.
    """
    dim = len(centroids[0][1]) if centroids else 0
    for _ in range(iters):
        assigned = ivf_assign(embeddings, centroids, vec_col)
        rows = (assigned
                .select("ivf_cell",
                        F.posexplode(_as_double_array(F.col(vec_col)))
                        .alias("pos", "x"))
                .groupBy("ivf_cell", "pos")
                .agg(F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .collect())
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(int(r["ivf_cell"]), {})[int(r["pos"])] = \
                float(r["s"]) / int(r["n"])
        centroids = [
            (cid, [means[cid][p] for p in range(dim)]) if cid in means
            else (cid, cv)
            for cid, cv in centroids]
    return centroids


def ivf_quantization_cost(embeddings: DataFrame,
                          centroids: list[tuple[int, list[float]]],
                          vec_col: str = "embedding") -> float:
    """Mean (1 - cosine(vector, its centroid)) — the quantity Lloyd
    iterations monotonically reduce; used by tests to prove refinement
    helped."""
    v = _as_double_array(F.col(vec_col))
    best = F.array_max(F.array(*[
        F.struct(cosine(v, _lit_double_array(cv)).alias("s"),
                 F.lit(-cid).cast("long").alias("nc"))
        for cid, cv in centroids]))
    row = (embeddings.select((1.0 - best["s"]).alias("c"))
           .agg(F.avg("c").alias("cost")).first())
    return float(row["cost"])


def ivf_assign(embeddings: DataFrame,
               centroids: list[tuple[int, list[float]]],
               vec_col: str = "embedding") -> DataFrame:
    """Attach the nearest-centroid cell id (``ivf_cell``) to every row.

    Pure narrow map: centroids ride along as literals (the broadcast-side of
    an IVF index is always tiny), the argmax is an ``array_max`` over
    (cosine, -centroid_id) structs — ties break to the lowest centroid id.
    No shuffle; at scale, persist partitioned by ``ivf_cell`` so probes prune
    whole files.
    """
    v = _as_double_array(F.col(vec_col))
    best = F.array_max(F.array(*[
        F.struct(
            cosine(v, _lit_double_array(cv)).alias("s"),
            F.lit(-cid).cast("long").alias("nc"))
        for cid, cv in centroids]))
    return embeddings.withColumn("ivf_cell", (-best["nc"]).cast("long"))


def ivf_topk(embeddings: DataFrame, query: list[float], k: int = 10,
             num_centroids: int = 16, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id",
             refine_iters: int = 0) -> DataFrame:
    """Approximate top-k via inverted-file probing: score the query against
    the centroid set driver-side, scan only rows whose cell is among the
    ``nprobe`` nearest centroids, brute-force cosine within. Reads ~nprobe/C
    of the data; the candidate scan stays a narrow filter + per-partition
    top-k (TakeOrderedAndProject). ``refine_iters`` Lloyd passes
    (:func:`ivf_refine`) improve the coarse quantizer before probing."""
    centroids = ivf_centroids(embeddings, num_centroids, vec_col, id_col)
    if refine_iters > 0:
        centroids = ivf_refine(embeddings, centroids, refine_iters, vec_col)
    nq = math.sqrt(sum(x * x for x in query))
    scored = []
    for cid, cv in centroids:
        denom = nq * math.sqrt(sum(x * x for x in cv))
        c = (sum(a * b for a, b in zip(query, cv)) / denom) if denom > 0 else 0.0
        scored.append((c, cid))
    probe = [cid for c, cid in sorted(scored, key=lambda t: (-t[0], t[1]))[:nprobe]]

    assigned = ivf_assign(embeddings, centroids, vec_col)
    candidates = assigned.filter(F.col("ivf_cell").isin(probe))
    q = _lit_double_array(query)
    return (candidates
            .select(F.col(id_col),
                    F.round(cosine(_as_double_array(F.col(vec_col)), q), 6)
                    .alias("cosine_sim"))
            .orderBy(F.desc("cosine_sim"), id_col)
            .limit(k))


def embedding_near_duplicates(embeddings: DataFrame, threshold: float = 0.95,
                              vec_col: str = "embedding", id_col: str = "vec_id",
                              num_planes: int = 8, seed: int = 42,
                              exact: bool = False,
                              num_tables: int = 1) -> DataFrame:
    """Near-duplicate vector pairs by cosine. ``exact=True`` does the full
    self-join (oracle/verification path, quadratic); default buckets by LSH
    signature first so only same-bucket pairs are scored — the all-pairs
    shuffle shrinks by ~2^planes at a small recall cost.

    The default path scores each bucket inside the same Arrow-batched
    ``applyInPandas`` kernel as :func:`knn_join` (where the bucket
    self-join of the array columns was measured at 6.4 s vs ~1.0 s for
    the kernel at sf0.1): each vector crosses Arrow ONCE with its bucket,
    the kernel computes the bucket's pairwise cosines vectorized in the
    same left-fold dimension order as the Column-expression path
    (bit-identical per pair), pre-prunes to raw cosine ≥ threshold−1e-6
    (round(·,6) moves a value < 5e-7, so nothing below that bound can
    pass the final filter), and emits only skinny (id_a, id_b, raw)
    rows — the candidate exchange never carries a vector and never
    carries Σ|bucket|² rows. Rounding + the threshold filter stay
    Spark-side so the acceptance semantics are engine-checked.

    ``num_tables`` L > 1 is the same Indyk–Motwani recall lever as
    :func:`knn_join`: at the 0.95-cosine near-dup threshold the
    per-plane agreement is p ≈ 0.90, so b=8 single-table capture is
    p^8 ≈ 0.43 while L=8 lifts it to 1−(1−p^8)^8 ≈ 0.99 — all L
    signatures from one projection + ``posexplode``; a pair sharing
    buckets in several tables emits once per table with a bit-identical
    cosine and collapses in one ``distinct``."""
    e = embeddings.select(F.col(id_col),
                          _as_double_array(F.col(vec_col)).alias("_v"))
    if exact:
        a = e.select(F.col(id_col).alias("id_a"), F.col("_v").alias("va"))
        b = e.select(F.col(id_col).alias("id_b"), F.col("_v").alias("vb"))
        pairs = a.crossJoin(broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
        return (pairs
                .select("id_a", "id_b",
                        F.round(cosine(F.col("va"), F.col("vb")), 6)
                        .alias("cosine_sim"))
                .filter(F.col("cosine_sim") >= threshold)
                .distinct())

    import pandas as pd  # noqa: PLC0415 — Arrow batch path
    import numpy as np  # noqa: PLC0415

    dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
    if num_tables > 1:
        sigs = F.array(*[
            hyperplane_signature(
                F.col("_v"),
                _hyperplanes(dim_row["d"], num_planes, seed + tb))
            for tb in range(num_tables)])
        sig = e.select(F.col(id_col), F.col("_v"),
                       F.posexplode(sigs).alias("_t", "_s")) \
            .withColumn("_b", F.col("_t") * (1 << num_planes)
                        + F.col("_s"))
    else:
        planes = _hyperplanes(dim_row["d"], num_planes, seed)
        sig = e.withColumn("_b",
                           hyperplane_signature(F.col("_v"), planes))

    thr = threshold - 1e-6
    id_type = embeddings.schema[id_col].dataType.simpleString()

    def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        scored = _bucket_cosines(pdf, "_id", "_v")
        if scored is None:
            return pd.DataFrame({"id_a": pdf["_id"].iloc[:0],
                                 "id_b": pdf["_id"].iloc[:0],
                                 "_raw": np.empty(0, np.float64)})
        ids, cos = scored
        ia, ib = np.where((cos >= thr)
                          & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib],
                             "_raw": cos[ia, ib]})

    out = (sig.select(F.col(id_col).alias("_id"), "_v", "_b")
           .groupBy("_b")
           .applyInPandas(bucket_pairs,
                          f"id_a {id_type}, id_b {id_type}, _raw double")
           .select("id_a", "id_b",
                   F.round("_raw", 6).alias("cosine_sim"))
           .filter(F.col("cosine_sim") >= threshold))
    # distinct unconditionally (the pre-kernel semantics): multi-table
    # runs emit one bit-identical row per shared bucket, and a repeated
    # id in the input pairs each copy — both collapse here, on rows
    # already pruned to the qualifying near-dups
    return out.distinct()


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.8,
                   num_centroids: int = 16, refine_iters: int = 1,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public):
    semantic deduplication by clustering. Vectors are partitioned into
    IVF cells (deterministic sampled centroids + ``refine_iters`` Lloyd
    passes, the same quantizer as :func:`ivf_topk`); within each cell a
    vector is DROPPED when an EARLIER (lower-id) cell-mate has cosine
    ≥ ``threshold`` — the keep-earliest greedy the paper's released
    pipeline uses. Cross-cell near-dups are deliberately not compared:
    that recall/cost trade *is* the method.

    Returns (id_col, ivf_cell, kept) for every input row.

    Scale shape: assignment is a narrow map (centroids are literals);
    the only data exchange groups each cell for the same Arrow pairwise
    kernel as :func:`embedding_near_duplicates`, emitting skinny
    (dropped-id, raw-cosine) rows. The kernel is O(|cell|²), so
    ``num_centroids`` is the knob that bounds cell size — production
    SemDeDup runs k in the tens of thousands precisely so |cell| stays
    ~constant as the corpus grows; rounding + the threshold filter stay
    Spark-side so acceptance semantics are engine-checked."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    centroids = ivf_centroids(embeddings, num_centroids, vec_col, id_col)
    if refine_iters > 0:
        centroids = ivf_refine(embeddings, centroids, refine_iters, vec_col)
    asn = (ivf_assign(embeddings.select(id_col, vec_col), centroids,
                      vec_col)
           .select(F.col(id_col).alias("_id"),
                   _as_double_array(F.col(vec_col)).alias("_v"),
                   "ivf_cell"))
    thr = threshold - 1e-6
    id_type = embeddings.schema[id_col].dataType.simpleString()

    def cell_drops(pdf: "pd.DataFrame") -> "pd.DataFrame":
        scored = _bucket_cosines(pdf, "_id", "_v")
        if scored is None:
            return pd.DataFrame({"_vid": pdf["_id"].iloc[:0],
                                 "_raw": np.empty(0, np.float64)})
        ids, cos = scored
        ia, ib = np.where((cos >= thr)
                          & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"_vid": ids[ib], "_raw": cos[ia, ib]})

    drops = (asn.groupBy("ivf_cell")
             .applyInPandas(cell_drops, f"_vid {id_type}, _raw double")
             .filter(F.round("_raw", 6) >= threshold)
             .select("_vid").distinct())
    return (asn.join(drops, asn["_id"] == drops["_vid"], "left")
            .select(F.col("_id").alias(id_col), "ivf_cell",
                    F.col("_vid").isNull().alias("kept")))


# ---------------------------------------------------------------------------
# int8 scalar quantization — the storage/bandwidth lever for 100 TB ANN
# ---------------------------------------------------------------------------

def quantize_embeddings(embeddings: DataFrame, vec_col: str = "embedding",
                        out_col: str = "qvec") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q_i = floor(x_i * s + 0.5)``
    with ``s = 127 / max|x|`` (zero vectors quantize to zeros). A float32
    corpus shrinks 4× — at 100 TB that is the difference between an ANN
    scan being bandwidth-bound or not — and cosine needs no dequantization
    at all: the per-vector scales cancel, so scoring is integer dot
    products. floor(x*s + 0.5) is deterministic and engine-portable
    (no round-half-to-even ambiguity). Appends ``out_col``
    (``array<int>``)."""
    v = _as_double_array(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    s = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x * s + F.lit(0.5)).cast("int"))
    return embeddings.withColumn(out_col, q)


def _quantize_query(query: list[float]) -> list[int]:
    import math  # noqa: PLC0415

    amax = max((abs(x) for x in query), default=0.0)
    if amax <= 0:
        return [0] * len(query)
    s = 127.0 / amax
    return [int(math.floor(x * s + 0.5)) for x in query]


def quantized_topk(embeddings: DataFrame, query: list[float], k: int = 10,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Top-k by cosine over int8-quantized vectors: integer dot products
    (exact, associative — no float-order nondeterminism until the final
    division), per-partition top-k via TakeOrderedAndProject. Returns
    (id, qcosine_sim): the quantized cosine, within O(1/127) of the exact
    one — the standard recall/bandwidth trade, verified in tests."""
    qq = _quantize_query(query)
    qlit = F.array(*[F.lit(int(x)) for x in qq])
    quant = quantize_embeddings(embeddings, vec_col)
    qv = F.transform(F.col("qvec"), lambda x: x.cast("long"))
    ql = F.transform(qlit, lambda x: x.cast("long"))
    dotqq = F.aggregate(F.zip_with(qv, ql, lambda a, b: a * b),
                        F.lit(0).cast("long"), lambda acc, x: acc + x)
    nq = F.aggregate(F.transform(qv, lambda x: x * x),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    nl = F.aggregate(F.transform(ql, lambda x: x * x),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    denom = F.sqrt(nq.cast("double")) * F.sqrt(nl.cast("double"))
    sim = F.when(denom > 0, dotqq.cast("double") / denom).otherwise(F.lit(0.0))
    return (quant
            .select(F.col(id_col), F.round(sim, 6).alias("qcosine_sim"))
            .orderBy(F.desc("qcosine_sim"), id_col)
            .limit(k))
