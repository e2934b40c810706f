"""Training-data-pipeline queries (dedup / similarity / text) with DuckDB
oracles.

Hashing is md5-based on both sides (see functions.hashing), so even the
MinHash-LSH pipeline is oracle-checked end to end: DuckDB recomputes
shingles, signatures, band buckets, candidate pairs, and exact Jaccard with
list lambdas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, similarity, text
from ..sources.io import spread
from .common import t


def docs_t(spark, sf_dir):
    """documents table spread to cluster parallelism: the synthetic file is
    a single row group, which would serialize the per-row text ops that
    follow; at real scale spread() is the identity (see sources.io)."""
    return spread(t(spark, sf_dir, "documents"))


# DuckDB md5-derived 32-bit int, matching functions.hashing.md5_long
def _sql_md5int(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


_TOKS_SQL = r"""
toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\s+'),
                                    t -> t <> ''), t -> lower(t)) AS w
  FROM documents)
"""

_SHINGLES_SQL = r"""
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))
           ELSE [array_to_string(w, ' ')] END) AS sh
  FROM toks)
"""


# --- exact dedup --------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_t(spark, sf_dir)
    return dedup.exact_duplicates(docs)


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS count,
       MIN(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


# --- fingerprint clustering ------------------------------------------------------

def q_fingerprint_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_t(spark, sf_dir)
    return (docs.select(text.fingerprint("text").alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("count"), F.min("doc_id").alias("keep_id"))
            .filter(F.col("count") > 1))


SQL_FINGERPRINT_DUPES = r"""
WITH f AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           list_transform(list_filter(string_split_regex(text, '\s+'),
                                      t -> t <> ''), t -> lower(t)))), ' ')) AS fp
  FROM documents)
SELECT fp, CAST(COUNT(*) AS BIGINT) AS count, MIN(doc_id) AS keep_id
FROM f GROUP BY fp HAVING COUNT(*) > 1
"""


# --- MinHash + LSH near-duplicate pairs (full oracle) ------------------------------

_MH_HASHES, _MH_BANDS = 8, 4  # 2 rows per band


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(
        docs, n=3, num_hashes=_MH_HASHES, bands=_MH_BANDS, threshold=0.5)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard_sim", 6).alias("jaccard_sim"))


def _minhash_bucket_ctes() -> str:
    """CTE chain ending in ``buckets(doc_id, sh, bucket)`` — the MinHash
    banding shared by the pair/cluster oracles and the cross-corpus
    dedup oracle."""
    from ..operators.dedup import MINHASH_P, minhash_coefficients

    rpb = _MH_HASHES // _MH_BANDS
    coeffs = minhash_coefficients(_MH_HASHES)
    sigs = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P})) AS h{i}"
        for i, (a, b) in enumerate(coeffs))
    band_keys = ", ".join(
        "md5('{b}|' || {parts})".format(
            b=b, parts=" || ',' || ".join(
                f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb)))
        for b in range(_MH_BANDS))
    return f"""{_TOKS_SQL.strip()},
{_SHINGLES_SQL.strip()},
base AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_sql_md5int('s')}) AS hs
  FROM sh),
sig AS (
  SELECT doc_id, sh,
         {sigs}
  FROM base),
buckets AS (
  SELECT doc_id, sh, unnest([{band_keys}]) AS bucket FROM sig)"""


def _minhash_ctes() -> str:
    """The shared CTE chain ending in ``mh_pairs`` (near-dup pair list) —
    consumed by both the pair oracle and the clustering oracle."""
    return f"""{_minhash_bucket_ctes()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
  FROM buckets a JOIN buckets b
    ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
mh_pairs AS (
  SELECT DISTINCT id_a, id_b, ROUND(j, 6) AS jaccard_sim
  FROM cand WHERE j >= 0.5)"""


def _sql_minhash() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT id_a, id_b, jaccard_sim FROM mh_pairs
"""


# --- SimHash fingerprints (16-bit, full oracle) --------------------------------------

_SIMHASH_BITS = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_t(spark, sf_dir)
    return docs.select("doc_id",
                       dedup.simhash("text", bits=_SIMHASH_BITS).alias("simhash"))


def _simhash_terms(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {b}) & 1) = 1)) "
        f"- len(hs) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits))


def _sql_simhash() -> str:
    return f"""
WITH {_TOKS_SQL.strip()},
h AS (SELECT doc_id,
             list_transform(w, t -> {_sql_md5int('t')}) AS hs
      FROM toks)
SELECT doc_id, CAST({_simhash_terms(_SIMHASH_BITS)} AS BIGINT) AS simhash FROM h
"""


# --- SimHash near-dup pairs (banded hamming join, full oracle) -------------------------

def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(docs, bits=32, bands=4, max_hamming=3)


def _sql_simhash_neardup(bits: int = 32, bands: int = 4,
                         max_hamming: int = 3) -> str:
    chunk = bits // bands
    mask = (1 << chunk) - 1
    # floor() mirrors Spark's double-division + cast(long) truncation
    # (sims are non-negative, so truncation == floor)
    keys = ", ".join(
        f"'{b}|' || CAST(CAST(floor(sim / {float(1 << (b * chunk))}) AS BIGINT) "
        f"% {mask + 1} AS VARCHAR)"
        for b in range(bands))
    return f"""
WITH {_TOKS_SQL.strip()},
h AS (SELECT doc_id, list_transform(w, t -> {_sql_md5int('t')}) AS hs FROM toks),
s AS (SELECT doc_id, CAST({_simhash_terms(bits)} AS BIGINT) AS sim FROM h),
b AS (SELECT doc_id, sim, unnest([{keys}]) AS bucket FROM s)
SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b,
       CAST(bit_count(xor(a.sim, x.sim)) AS INT) AS hamming
FROM b a JOIN b x ON a.bucket = x.bucket AND a.doc_id < x.doc_id
WHERE bit_count(xor(a.sim, x.sim)) <= {max_hamming}
"""


# --- n-gram Jaccard exact pairs (full oracle) ---------------------------------------------

def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard_sim", 6).alias("jaccard_sim"))


SQL_NGRAM_JACCARD = f"""
WITH {_TOKS_SQL.strip()},
{_SHINGLES_SQL.strip()},
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) AS jaccard_sim
FROM common
JOIN sizes na ON common.id_a = na.doc_id
JOIN sizes nb ON common.id_b = nb.doc_id
WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5
"""


# --- embedding similarity ----------------------------------------------------------------

_COS_SQL = ("CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)) > 0 "
            "THEN list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) "
            "* sqrt(list_dot_product(qv, qv))) ELSE 0.0 END")


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    return similarity.brute_force_topk(emb, query, k=20)


SQL_SIMILARITY_TOPK = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, ROUND({_COS_SQL}, 6) AS cosine_sim
FROM e, q
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates(emb, threshold=0.9, exact=True)


_COS_AB_SQL = ("CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0 "
               "THEN list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
               "* sqrt(list_dot_product(b.v, b.v))) ELSE 0.0 END")

SQL_EMBEDDING_NEARDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_COS_AB_SQL}, 6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND({_COS_AB_SQL}, 6) >= 0.9
"""


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN. Deterministic given the fixed hyperplane family, so
    the bucketing + probe + scoring is fully oracle-checkable."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    return similarity.lsh_topk(emb, query, k=20, num_planes=8, multi_probe=2)


def _sig_sql(col: str, dim: int, num_planes: int, seed: int) -> str:
    """Hyperplane-signature SQL over a DOUBLE[] column — mirrors
    operators.similarity.hyperplane_signature for table ``seed``."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, num_planes, seed=seed)
    return " + ".join(
        f"(CASE WHEN list_dot_product({col}, "
        f"[{', '.join(repr(x) for x in p)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))


def _sql_lsh_topk(dim: int = 64, num_planes: int = 8, k: int = 20,
                  multi_probe: int = 2, num_tables: int = 1) -> str:
    qcols = ", ".join(
        f"CAST({_sig_sql('qv', dim, num_planes, 42 + t)} AS BIGINT) AS qs{t}"
        for t in range(num_tables))
    conds = " OR ".join(
        "CAST({s} AS BIGINT) IN ({probes})".format(
            s=_sig_sql("v", dim, num_planes, 42 + t),
            probes=", ".join([f"qs{t}"] + [f"xor(qs{t}, {1 << p})"
                                           for p in range(multi_probe)]))
        for t in range(num_tables))
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {qcols}, qv FROM q),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS (SELECT vec_id, v, qv FROM e, qb WHERE {conds})
SELECT vec_id, ROUND({_COS_SQL}, 6) AS cosine_sim
FROM cand
ORDER BY cosine_sim DESC, vec_id
LIMIT {k}
"""


_KNN_K, _KNN_PLANES = 3, 6


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed self-KNN join (similarity.knn_join): every vector's
    k nearest bucket-mates by cosine — one equi-join on the 2^6-bucket
    signature key + a per-vector window; no all-pairs anywhere.

    Stage-budget floor (measured sf0.1, warm): ~1.7 s = signature
    projection scan, the bucket exchange feeding the per-bucket Arrow
    kernel (two Arrow transfers of 5 k × 64 floats around one vectorized
    numpy top-k), and the result collection — vs DuckDB's 0.29 s
    in-process loop. The ratio is Arrow round-trip + job floor, not
    asymptotics: candidate work is Σ|bucket|², bounded by the 2^6-bucket
    signature, where the oracle's plan (and any exact rework) is n²."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.knn_join(emb, k=_KNN_K, num_planes=_KNN_PLANES)


def _sql_knn_join(dim: int = 64, num_planes: int = _KNN_PLANES,
                  k: int = _KNN_K, where: str = "",
                  num_tables: int = 1) -> str:
    sig_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {t} AS tbl, "
        f"CAST({_sig_sql('v', dim, num_planes, 42 + t)} AS BIGINT) AS s "
        f"FROM e"
        for t in range(num_tables))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {where}),
sig AS (
{sig_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         ROUND({_COS_AB_SQL}, 6) AS cosine_sim
  FROM sig a JOIN sig b
    ON a.tbl = b.tbl AND a.s = b.s AND a.vec_id != b.vec_id),
ranked AS (
  SELECT vec_id, neighbor_id, cosine_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rank
  FROM cand)
SELECT vec_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {k}
"""


def q_knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact KNN baseline on a deterministic 1/5 slice of the
    corpus (explicit exact=True opt-in — the O(n²) path is never a
    default; the slice keeps the oracle quadratic in 1/25 of the rows).
    Recall of the LSH gate is measured against this in tests."""
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return similarity.knn_join(emb, k=_KNN_K, exact=True)


SQL_KNN_JOIN_EXACT = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 5 = 0),
cand AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         ROUND({_COS_AB_SQL}, 6) AS cosine_sim
  FROM e a JOIN e b ON a.vec_id != b.vec_id),
ranked AS (
  SELECT vec_id, neighbor_id, cosine_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rank
  FROM cand)
SELECT vec_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {_KNN_K}
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval QUALITY of every approximate-ANN path, measured against
    its exact baseline and emitted as data (determinism checks alone say
    nothing about how many true neighbours an ANN path finds):

    - ``lsh_topk`` / ``ivf_topk``: recall@20 of the approximate top-20
      vs the brute-force top-20 for the gated query vector;
    - ``knn_join``: pairwise recall of the LSH-bucketed self-KNN vs the
      exact all-pairs KNN on the deterministic 1/5 slice (the same slice
      ``knn_join_exact`` gates) — |approx ∩ exact| / |exact| over
      (vec_id, neighbor_id) pairs.

    Each approximate method is measured in TWO configurations — the
    shipped single-table gate default (documenting what the other gates
    actually deliver on this near-random corpus) and the multi-table
    tuned one (the Indyk–Motwani L-tables lever, ``num_tables``) — so
    the recall-vs-candidate-work trade-off is itself regression-gated.

    Everything is deterministic (fixed hyperplanes, lowest-id centroid
    init, rounded-cosine/vec_id tiebreaks), so the oracle recomputes both
    sides and the SAME recall — the quality number itself is hash-gated,
    not just eyeballed. Scalar totals meet via 1-row crossJoins; recall
    vs num_planes/num_tables trade-off is recorded in SCALING.md."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    emb_slice = emb.filter(F.col("vec_id") % 5 == 0)
    knn_ex = similarity.knn_join(emb_slice, k=_KNN_K, exact=True) \
        .select("vec_id", "neighbor_id")

    def knn(planes: int, tables: int) -> DataFrame:
        return similarity.knn_join(emb_slice, k=_KNN_K, num_planes=planes,
                                   num_tables=tables) \
            .select("vec_id", "neighbor_id")

    def lsh(planes: int, tables: int) -> DataFrame:
        return similarity.lsh_topk(emb, query, k=20, num_planes=planes,
                                   multi_probe=2, num_tables=tables) \
            .select("vec_id")

    cases = [
        ("ivf_topk", "c=16 probe=4",
         q_similarity_ivf_topk(spark, sf_dir).select("vec_id"),
         exact, ["vec_id"]),
        ("knn_join", f"b={_KNN_PLANES} L=1", knn(_KNN_PLANES, 1),
         knn_ex, ["vec_id", "neighbor_id"]),
        ("knn_join", "b=3 L=8", knn(3, 8),
         knn_ex, ["vec_id", "neighbor_id"]),
        ("lsh_topk", "b=8 L=1 probe=2", lsh(8, 1), exact, ["vec_id"]),
        ("lsh_topk", "b=4 L=12 probe=2", lsh(4, 12), exact, ["vec_id"]),
    ]
    outs = []
    for method, cfg, approx, ex, keys in cases:
        hits = (approx.join(ex, keys, "left_semi")
                .agg(F.count(F.lit(1)).alias("hits")))
        total = ex.agg(F.count(F.lit(1)).alias("total"))
        outs.append(hits.crossJoin(total).select(
            F.lit(method).alias("method"),
            F.lit(cfg).alias("cfg"),
            F.col("hits").cast("long").alias("hits"),
            F.col("total").cast("long").alias("total"),
            F.round(F.col("hits") / F.col("total"), 6).alias("recall")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _sql_ann_recall() -> str:
    knn_pair_hits = """
         (SELECT COUNT(*) FROM {ap} a
          WHERE EXISTS (SELECT 1 FROM kex x
                        WHERE x.vec_id = a.vec_id
                          AND x.neighbor_id = a.neighbor_id)),
         (SELECT COUNT(*) FROM kex)"""
    return f"""
WITH exact AS (SELECT vec_id FROM ({SQL_SIMILARITY_TOPK}) t),
lsh1 AS (SELECT vec_id FROM ({_sql_lsh_topk(num_planes=8, num_tables=1)}) t),
lshL AS (SELECT vec_id FROM ({_sql_lsh_topk(num_planes=4, num_tables=12)}) t),
ivf AS (SELECT vec_id FROM ({_sql_ivf_topk()}) t),
kex AS (SELECT vec_id, neighbor_id FROM ({SQL_KNN_JOIN_EXACT}) t),
kap1 AS (SELECT vec_id, neighbor_id
         FROM ({_sql_knn_join(where="WHERE vec_id % 5 = 0")}) t),
kapL AS (SELECT vec_id, neighbor_id
         FROM ({_sql_knn_join(num_planes=3, num_tables=8,
                              where="WHERE vec_id % 5 = 0")}) t),
m AS (
  SELECT 'ivf_topk' AS method, 'c=16 probe=4' AS cfg,
         (SELECT COUNT(*) FROM ivf WHERE vec_id IN (SELECT vec_id FROM exact)) AS hits,
         (SELECT COUNT(*) FROM exact) AS total
  UNION ALL
  SELECT 'knn_join', 'b={_KNN_PLANES} L=1',{knn_pair_hits.format(ap='kap1')}
  UNION ALL
  SELECT 'knn_join', 'b=3 L=8',{knn_pair_hits.format(ap='kapL')}
  UNION ALL
  SELECT 'lsh_topk', 'b=8 L=1 probe=2',
         (SELECT COUNT(*) FROM lsh1 WHERE vec_id IN (SELECT vec_id FROM exact)),
         (SELECT COUNT(*) FROM exact)
  UNION ALL
  SELECT 'lsh_topk', 'b=4 L=12 probe=2',
         (SELECT COUNT(*) FROM lshL WHERE vec_id IN (SELECT vec_id FROM exact)),
         (SELECT COUNT(*) FROM exact))
SELECT method, cfg, CAST(hits AS BIGINT) AS hits,
       CAST(total AS BIGINT) AS total,
       ROUND(CAST(hits AS DOUBLE) / total, 6) AS recall
FROM m
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clustering*: MinHash-LSH pairs are edges; connected
    components pick one canonical doc (min id) per group — the step a real
    training pipeline runs after pair generation to actually drop rows."""
    from ..operators.graph_algo import dedup_clusters

    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(
        docs, n=3, num_hashes=_MH_HASHES, bands=_MH_BANDS, threshold=0.5)
    return dedup_clusters(docs, pairs)


# transitive closure by recursive CTE: labels(node) = MIN over everything
# reachable — the same fixpoint the Spark hash-min propagation converges to
SQL_DEDUP_CLUSTERS_TEMPLATE = """
WITH RECURSIVE {ctes},
edges AS (
  SELECT id_a AS a, id_b AS b FROM {pairs}
  UNION
  SELECT id_b, id_a FROM {pairs}),
reach AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


def _sql_dedup_clusters() -> str:
    return SQL_DEDUP_CLUSTERS_TEMPLATE.format(ctes=_minhash_ctes(),
                                              pairs="mh_pairs")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical pick over the same MinHash-LSH clusters:
    keep the LONGEST copy (n_chars, ties to the smallest id) instead of
    the smallest id — the keep-the-best-copy policy a curation pipeline
    wants when near-duplicates differ in completeness
    (operators.graph_algo.dedup_canonical_by)."""
    from ..operators.graph_algo import dedup_canonical_by

    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(
        docs, n=3, num_hashes=_MH_HASHES, bands=_MH_BANDS, threshold=0.5)
    return dedup_canonical_by(docs, pairs, "n_chars")


def _sql_dedup_keep_best() -> str:
    return """
WITH RECURSIVE {ctes},
edges AS (
  SELECT id_a AS a, id_b AS b FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs),
reach AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
clustered AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
best AS (
  SELECT cluster_id, doc_id AS keep_id FROM (
    SELECT cluster_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM clustered) WHERE rn = 1)
SELECT c.doc_id, c.cluster_id, c.n_chars,
       c.doc_id = b.keep_id AS is_canonical
FROM clustered c JOIN best b ON b.cluster_id = c.cluster_id
""".format(ctes=_minhash_ctes())


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with one Lloyd refinement pass: deterministic sampled
    centroids, refined by an exact-decimal-mean k-means step
    (``ivf_refine``), partition the vectors into cells; the query probes
    its nprobe nearest cells only. Fully oracle-checkable because both the
    init (lowest-id sample) and the refinement (associative decimal sums →
    one correctly-rounded double division) are deterministic."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    return similarity.ivf_topk(emb, query, k=20, num_centroids=16, nprobe=4,
                               refine_iters=1)


def _sql_cos(a: str, b: str) -> str:
    # cosine with the exact same expression grouping as operators.similarity:
    # dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) — identical IEEE results.
    return (f"CASE WHEN sqrt(list_dot_product({a}, {a})) "
            f"* sqrt(list_dot_product({b}, {b})) > 0 "
            f"THEN list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
            f"* sqrt(list_dot_product({b}, {b}))) ELSE 0.0 END")


def _sql_ivf_cell_ctes(num_centroids: int = 16) -> str:
    """CTE chain ending in ``asn1(vec_id, v, cid)`` — the IVF cell
    assignment with one Lloyd refinement, shared by the ivf_topk and
    semantic_dedup oracles. The Lloyd step mirrors ivf_refine
    bit-for-bit: DECIMAL(38,18) sums are exact, and decimal→double +
    the /n division are correctly rounded in both engines."""
    cos = _sql_cos
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {num_centroids}),
asn0 AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {cos('v', 'cv')} DESC, cid) AS rn
  FROM e CROSS JOIN c0),
ex AS (
  SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
  FROM asn0 WHERE rn = 1),
sums AS (
  SELECT cid, pos, SUM(CAST(x AS DECIMAL(38,18))) AS s, COUNT(*) AS n
  FROM ex GROUP BY cid, pos),
cm AS (
  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS cv
  FROM sums GROUP BY cid),
c AS (
  SELECT cid, cv FROM cm
  UNION ALL
  SELECT cid, cv FROM c0 WHERE cid NOT IN (SELECT cid FROM cm)),
asn AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {cos('v', 'cv')} DESC, cid) AS rn
  FROM e CROSS JOIN c),
asn1 AS (SELECT vec_id, v, cid FROM asn WHERE rn = 1)"""


def _sql_ivf_topk(num_centroids: int = 16, nprobe: int = 4, k: int = 20) -> str:
    cos = _sql_cos
    return f"""
WITH {_sql_ivf_cell_ctes(num_centroids)},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT cid FROM c CROSS JOIN q
  ORDER BY {cos('qv', 'cv')} DESC, cid LIMIT {nprobe})
SELECT vec_id, ROUND({cos('v', 'qv')}, 6) AS cosine_sim
FROM asn1 JOIN probe USING (cid) CROSS JOIN q
ORDER BY cosine_sim DESC, vec_id
LIMIT {k}
"""


def q_dedup_against_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MinHash dedup: the documents with doc_id % 7 != 0
    play the NEW CRAWL, the % 7 == 0 slice the already-trained
    REFERENCE corpus; any new doc whose shingle Jaccard against some
    reference doc reaches 0.5 is flagged dropped, with the best match
    attached. The asymmetric band-bucket join never generates new×new
    pairs. A hash match pins the banding, the candidate join, the exact
    Jaccard verification, and the keep/drop + best-match decision."""
    docs = docs_t(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 7 != 0)
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    return dedup.dedup_against_reference(
        new, ref, n=3, num_hashes=_MH_HASHES, bands=_MH_BANDS,
        threshold=0.5)


def _sql_dedup_against_reference() -> str:
    return f"""
WITH {_minhash_bucket_ctes()},
nb AS (SELECT * FROM buckets WHERE doc_id % 7 <> 0),
rb AS (SELECT * FROM buckets WHERE doc_id % 7 = 0),
cand AS (
  SELECT DISTINCT a.doc_id AS id, b.doc_id AS rid
  FROM nb a JOIN rb b ON a.bucket = b.bucket),
ver AS (
  SELECT c.id, c.rid,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
           AS j
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id
  JOIN sig sb ON sb.doc_id = c.rid),
best AS (
  SELECT id, rid, j,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY j DESC, rid) AS rn
  FROM ver WHERE j >= 0.5)
SELECT d.doc_id,
       b.rid IS NULL AS kept,
       b.rid AS ref_id,
       ROUND(b.j, 6) AS ref_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.id = d.doc_id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup —
    IVF cells from the deterministic sampled+Lloyd quantizer, then drop
    any vector whose cell holds an EARLIER vector with cosine ≥ 0.3
    (keep-earliest greedy; 0.3 sits at the ~p99 of the synthetic
    corpus's within-cell cosines — max 0.51 — so the gate exercises
    real drops, where a production run on normalized text embeddings
    would use ~0.8-0.95). The oracle replays the full quantizer (the
    shared asn1 CTE chain) and the within-cell pair pruning in SQL, so
    a hash match pins assignment, the pairwise kernel, and the
    keep/drop decision per vector."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.3,
                                     num_centroids=16, refine_iters=1)


SQL_SEMANTIC_DEDUP = f"""
WITH {_sql_ivf_cell_ctes(16)},
drops AS (
  SELECT DISTINCT b.vec_id
  FROM asn1 a JOIN asn1 b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ROUND({_sql_cos('a.v', 'b.v')}, 6) >= 0.3)
SELECT s.vec_id, s.cid AS ivf_cell,
       d.vec_id IS NULL AS kept
FROM asn1 s LEFT JOIN drops d USING (vec_id)
"""


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style exact paragraph dedup, keep-first: documents
    are recast as newline-joined pseudo-paragraphs (groups of 4
    whitespace tokens — small enough that the synthetic corpus really
    does repeat some), then any paragraph seen earlier anywhere in the
    corpus (lowest (doc_id, position)) is cut from later documents and
    the survivors are reassembled in order
    (:func:`operators.dedup.dedup_paragraphs`). The oracle replays the
    grouping, the global first-occurrence rank, and the ordered
    reassembly — a hash match pins the keep/cut decision and the
    rebuilt text byte-for-byte."""
    from ..operators.dedup import dedup_paragraphs

    docs = docs_t(spark, sf_dir)
    toks = text.tokens(F.col("text"))
    n = F.size(toks)
    grouped = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), (F.ceil(n / 4) - 1).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * 4 + 1, 4), " "))) \
        .otherwise(F.array().cast("array<string>"))
    prepared = docs.select("doc_id",
                           F.array_join(grouped, "\n").alias("text"))
    return dedup_paragraphs(prepared)


SQL_DEDUP_PARAGRAPHS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
  FROM documents),
ex AS (
  SELECT doc_id, unnest(w) AS x, generate_subscripts(w, 1) AS pos
  FROM toks),
paras AS (
  SELECT doc_id, (pos - 1) // 4 AS grp,
         string_agg(x, ' ' ORDER BY pos) AS para
  FROM ex GROUP BY doc_id, (pos - 1) // 4),
ranked AS (
  SELECT doc_id, grp, para,
         ROW_NUMBER() OVER (PARTITION BY para
                            ORDER BY doc_id, grp) AS rn
  FROM paras),
kept AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY grp) AS clean_text,
         COUNT(*) AS n_kept
  FROM ranked WHERE rn = 1 GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_paras FROM paras GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(COALESCE(t.n_paras, 0) AS INT) AS n_paras,
       CAST(COALESCE(k.n_kept, 0) AS INT) AS n_kept
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


# --- text analysis --------------------------------------------------------------------------

def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_t(spark, sf_dir)
    return docs.select("doc_id",
                       text.token_count("text").alias("ws_tokens"),
                       text.bpe_ish_token_count("text").alias("bpe_tokens"))


SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT)
         AS bpe_tokens
FROM documents
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_t(spark, sf_dir)
    fp = text.winnow_fingerprints("text")
    return docs.select("doc_id",
                       F.size(fp).alias("n_fp"),
                       F.array_join(fp, ",").alias("fp"))


def _winnow_ctes(k: int = 7, window: int = 4) -> str:
    """DuckDB CTE chain ending in ``fps(doc_id, fp)`` that re-derives the
    winnowing selection: same polynomial k-gram hash (constants imported
    from the operator — don't fork), same window-minimum selection,
    value-exact."""
    mod = text.WINNOW_MOD
    terms = " + ".join(
        f"codes[i + {j + 1}] * {pow(text.WINNOW_BASE, k - 1 - j, mod)}"
        for j in range(k))
    return f"""c AS (
  SELECT doc_id,
         regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
  FROM documents),
cc AS (
  SELECT doc_id,
         list_transform(range(1, len(norm) + 1),
                        i -> CAST(ascii(norm[i]) AS BIGINT)) AS codes
  FROM c),
h AS (
  SELECT doc_id,
         list_transform(range(0, greatest(len(codes) - {k - 1}, 0)),
                        i -> ({terms}) % {mod}) AS hashes
  FROM cc),
fps AS (
  SELECT doc_id,
         CASE WHEN len(hashes) = 0 THEN CAST([] AS BIGINT[])
              WHEN len(hashes) < {window} THEN [list_min(hashes)]
              ELSE list_sort(list_distinct(list_transform(
                     range(0, len(hashes) - {window - 1}),
                     i -> list_min(hashes[i + 1 : i + {window}]))))
         END AS fp
  FROM h)"""


def _sql_winnow(k: int = 7, window: int = 4) -> str:
    return f"""
WITH {_winnow_ctes(k, window)}
SELECT doc_id,
       CAST(len(fp) AS INT) AS n_fp,
       array_to_string(fp, ',') AS fp
FROM fps
"""


def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.winnow_near_duplicates(docs, threshold=0.3)
    return pairs.select("id_a", "id_b",
                        F.round("winnow_jaccard", 6).alias("winnow_jaccard"))


def _sql_winnow_neardup(threshold: float = 0.3) -> str:
    return f"""
WITH {_winnow_ctes()},
inv AS (SELECT doc_id, unnest(fp) AS f FROM fps),
sizes AS (SELECT doc_id, len(fp) AS n FROM fps),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
  FROM inv a JOIN inv b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) AS winnow_jaccard
FROM common
JOIN sizes na ON common.id_a = na.doc_id
JOIN sizes nb ON common.id_b = nb.doc_id
WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= {threshold}
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_t(spark, sf_dir)
    return docs.select("doc_id",
                       text.detect_language("text").alias("lang_detected"),
                       F.round(text.stopword_ratio("text", "en"), 6).alias("sw_en"))


def _sql_lang_id() -> str:
    ratios = []
    for lang, words in text.STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        ratios.append(
            f"CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, "
            f"t -> list_contains([{lst}], t))) AS DOUBLE) / len(w) "
            f"ELSE 0.0 END AS r_{lang}")
    # Spark's greatest-of-structs tie-break = highest score, then highest
    # lang string; emulated with greatest over scores + reverse-alpha CASE.
    langs = sorted(text.STOPWORDS)
    best_score = "greatest(" + ", ".join(f"r_{lang}" for lang in langs) + ")"
    pick = " ".join(f"WHEN r_{lang} = bs THEN '{lang}'"
                    for lang in sorted(langs, reverse=True))
    return f"""
WITH {_TOKS_SQL.strip()},
r AS (SELECT doc_id, w, {', '.join(ratios)} FROM toks),
best AS (SELECT doc_id, r_en, {best_score} AS bs,
                CASE {pick} END AS bl FROM r)
SELECT doc_id,
       CASE WHEN bs > 0 THEN bl ELSE 'und' END AS lang_detected,
       ROUND(r_en, 6) AS sw_en
FROM best
"""


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_t(spark, sf_dir)
    q = text.quality_features(docs)
    return q.select("doc_id", "q_n_chars", "q_n_tokens",
                    F.round("q_mean_word_len", 6).alias("q_mean_word_len"),
                    F.round("q_punct_ratio", 6).alias("q_punct_ratio"),
                    F.round("q_stopword_ratio", 6).alias("q_stopword_ratio"))


def _sql_quality() -> str:
    en = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])
    return rf"""
WITH {_TOKS_SQL.strip()}
SELECT d.doc_id,
       CAST(len(d.text) AS INT) AS q_n_chars,
       CAST(len(w) AS INT) AS q_n_tokens,
       ROUND(CASE WHEN len(w) > 0
             THEN CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) / len(w)
             ELSE 0.0 END, 6) AS q_mean_word_len,
       ROUND(CAST(len(regexp_replace(d.text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g')) AS DOUBLE)
             / greatest(len(d.text), 1), 6) AS q_punct_ratio,
       ROUND(CASE WHEN len(w) > 0
             THEN CAST(len(list_filter(w, t -> list_contains([{en}], t))) AS DOUBLE) / len(w)
             ELSE 0.0 END, 6) AS q_stopword_ratio
FROM documents d JOIN toks ON d.doc_id = toks.doc_id
"""


_PACK_CAPACITY = 32


def q_pack_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence-packing bookkeeping (text.pack_positions): the
    global exclusive prefix sum over token counts in doc_id order, cut
    into capacity-token training sequences.

    Stage-budget floor: scheduler barriers, not data — boundary
    sampling (ONE TakeOrdered job: the bottom-k in
    range_boundaries), per-chunk offset shuffle, broadcast-join +
    bounded local windows — vs DuckDB's single in-process window
    (per-query job/stage counts and the fitted floor live in
    FLOOR_MODEL_r15.json; sf1 amortization in BENCHCMP_sf1.json). The
    floor is data-independent: passing cached ``boundaries`` removes
    the sampling job entirely, and at corpus scale the same barriers
    amortize over real data while the construction stays skew-free
    (every window partition is one bounded range chunk; a single
    global ORDER BY window — DuckDB's plan — is one reducer and dies
    first)."""
    docs = docs_t(spark, sf_dir)
    return text.pack_positions(docs, capacity=_PACK_CAPACITY)


def _sql_pack(capacity: int = _PACK_CAPACITY) -> str:
    return rf"""
WITH w AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              t -> t <> '')) AS BIGINT) AS n
  FROM documents),
c AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS start_pos
  FROM w)
SELECT doc_id, n AS n_tokens, CAST(start_pos AS BIGINT) AS start_pos,
       CAST(start_pos // {capacity} AS BIGINT) AS seq_start,
       CAST(start_pos % {capacity} AS BIGINT) AS seq_offset,
       CAST((start_pos + greatest(n, 1) - 1) // {capacity} AS BIGINT)
           AS seq_end
FROM c
"""


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance entity resolution (dedup.fuzzy_value_pairs):
    near-matching distinct part names with row support — fuzzy matching on
    the vocabulary domain, candidates confined to first-token blocks."""
    from ..operators.dedup import fuzzy_value_pairs

    return fuzzy_value_pairs(t(spark, sf_dir, "part"), "p_name", max_dist=3)


SQL_FUZZY_PAIRS = """
WITH v AS (
  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n,
         string_split(p_name, ' ')[1] AS blk
  FROM part GROUP BY p_name)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       a.n AS n_a, b.n AS n_b
FROM v a JOIN v b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
"""


_BATCH_BUDGET = 4096


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed fixed-shape batching (text.length_batches): docs in
    power-of-two token-length buckets, each bucket cut in id order into
    batches whose padded footprint fits the token budget — the padded-batch
    layout for variable-length training, with the within-bucket rank built
    on the skew-free range-chunk prefix sum (no per-bucket global
    window).

    Stage-budget floor: the same barrier shape as pack_positions
    (one-job bottom-k boundary sampling, per-(bucket, chunk)
    offset shuffle, broadcast-join + bounded local windows) vs
    DuckDB's in-process per-bucket window — counts and fitted floor in
    FLOOR_MODEL_r15.json, sf1 amortization in BENCHCMP_sf1.json.
    Data-free floor; the per-bucket global window DuckDB uses is one
    reducer per length bucket (a handful for the whole corpus) at
    100 TB."""
    docs = docs_t(spark, sf_dir)
    return text.length_batches(docs, budget=_BATCH_BUDGET)


def _sql_length_batches(budget: int = _BATCH_BUDGET) -> str:
    return rf"""
WITH w AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents),
b AS (
  SELECT doc_id, n_tokens,
         CAST(FLOOR(LOG2(GREATEST(n_tokens, 1))) AS INT) AS bucket
  FROM w),
r AS (
  SELECT doc_id, n_tokens, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS rnk,
         GREATEST({budget} // (1 << (bucket + 1)), 1) AS docs_per_batch
  FROM b)
SELECT doc_id, n_tokens, bucket,
       CAST(rnk // docs_per_batch AS BIGINT) AS batch_in_bucket,
       CAST(docs_per_batch AS BIGINT) AS docs_per_batch
FROM r
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document characteristic terms by tf·idf — inverted-index shape
    (two aggs + a broadcastable term-frequency join)."""
    docs = docs_t(spark, sf_dir)
    return text.tfidf_top_terms(docs, k=3)


SQL_TFIDF_TOP_TERMS = f"""
WITH {_TOKS_SQL.strip()},
tok2 AS (SELECT doc_id, unnest(w) AS term FROM toks),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok2 GROUP BY 1, 2),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
s AS (SELECT doc_id, tf.term, tf.tf, dfq.df_docs,
             tf.tf * ln(n.n / dfq.df_docs) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM s)
SELECT doc_id, term, tf, df_docs, ROUND(score, 6) AS score
FROM r WHERE rn <= 3
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministically-composed contact string (the
    synthetic documents contain no PII, so the string is built from
    customer name/phone — non-zero matches, same construction in the
    oracle). Narrow regexp_replace chain, no UDF."""
    cust = t(spark, sf_dir, "customer")
    phone = F.concat(
        (F.col("c_nationkey") + 1).cast("string"), F.lit("-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("c_custkey") * 7 % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("c_custkey") * 13 % 10000).cast("string"), 4, "0"))
    contact = F.concat(
        F.col("c_mktsegment"), F.lit(" contact "),
        F.lower(F.regexp_replace("c_name", "[^A-Za-z0-9]", ".")),
        F.lit("@example.com tel "), phone)
    base = cust.select("c_custkey", contact.alias("contact"))
    counts = text.pii_counts(F.col("contact"))
    return base.select(
        "c_custkey",
        text.redact_pii(F.col("contact")).alias("clean"),
        counts["EMAIL"].alias("n_email"),
        counts["PHONE"].alias("n_phone"),
        counts["IPV4"].alias("n_ipv4"))


def _sql_pii_redact() -> str:
    repl = "contact"
    for kind, pattern in text.PII_PATTERNS:
        repl = f"regexp_replace({repl}, '{pattern}', '<{kind}>', 'g')"
    cnts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(contact, '{p}')) AS INT) AS n_{k.lower()}"
        for k, p in text.PII_PATTERNS)
    return f"""
WITH c AS (
  SELECT c_custkey,
         c_mktsegment || ' contact ' ||
         lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g')) ||
         '@example.com tel ' ||
         CAST(c_nationkey + 1 AS VARCHAR) || '-' ||
         lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0') AS contact
  FROM customer)
SELECT c_custkey, {repl} AS clean,
       {cnts}
FROM c
"""


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level URL dedup: every web-crawl pipeline's first
    grouping key. Six deterministic mess styles per page — case-mangled
    scheme/host, explicit default port, trailing slash, ``utm_``
    tracking params, and reordered query params — are synthesized from
    doc_id (page = doc_id // 6, variant = doc_id % 6) and collapsed by
    ``operators.text.canonicalize_url`` (pure JVM Column chain: regexp
    parts + filtered/sorted query params). Styles 0-4 collapse to one
    canonical URL per page; style 5 keeps its (sorted) real params.
    The oracle replays both the synthesis and the normalization 1:1 in
    DuckDB, so the dedup groups are hash-gated byte-for-byte."""
    from ..operators.text import canonicalize_url

    docs = docs_t(spark, sf_dir)
    b = (F.col("doc_id") / 6).cast("long")
    base = F.concat(F.lit("example"), (b % 7).cast("string"),
                    F.lit(".com/p/"), b.cast("string"))
    # case-mangles scheme+HOST only: URL paths are case-SENSITIVE, so a
    # canonicalizer must not fold them (upper-casing the whole base would
    # make variant 1 a genuinely different URL)
    host_upper = F.concat(F.lit("HTTPS://EXAMPLE"), (b % 7).cast("string"),
                          F.lit(".COM/p/"), b.cast("string"))
    url = (F.when(F.col("doc_id") % 6 == 0,
                  F.concat(F.lit("https://"), base))
           .when(F.col("doc_id") % 6 == 1, host_upper)
           .when(F.col("doc_id") % 6 == 2,
                 F.concat(F.lit("https://example"), (b % 7).cast("string"),
                          F.lit(".com:443/p/"), b.cast("string")))
           .when(F.col("doc_id") % 6 == 3,
                 F.concat(F.lit("https://"), base, F.lit("/")))
           .when(F.col("doc_id") % 6 == 4,
                 F.concat(F.lit("https://"), base,
                          F.lit("?utm_source=x&utm_campaign=y")))
           .otherwise(F.concat(F.lit("https://"), base,
                               F.lit("?b=2&a=1"))))
    return (docs.select("doc_id", canonicalize_url(url).alias("canonical"))
            .groupBy(F.col("canonical").alias("canonical_url"))
            .agg(F.count(F.lit(1)).alias("n_dupes"),
                 F.min("doc_id").alias("first_doc")))


_SQL_URL_TRACKING = ("x <> '' AND NOT (starts_with(x, 'utm_') OR "
                     "starts_with(x, 'fbclid=') OR starts_with(x, 'gclid=') "
                     "OR starts_with(x, 'msclkid='))")

SQL_URL_CANONICAL_DEDUP = f"""
WITH raw AS (
  SELECT doc_id, doc_id // 6 AS b,
         'example' || CAST((doc_id // 6) % 7 AS VARCHAR) || '.com/p/'
           || CAST(doc_id // 6 AS VARCHAR) AS base
  FROM documents),
urls AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'https://' || base
           WHEN 1 THEN 'HTTPS://EXAMPLE' || CAST(b % 7 AS VARCHAR)
                       || '.COM/p/' || CAST(b AS VARCHAR)
           WHEN 2 THEN 'https://example' || CAST(b % 7 AS VARCHAR)
                       || '.com:443/p/' || CAST(b AS VARCHAR)
           WHEN 3 THEN 'https://' || base || '/'
           WHEN 4 THEN 'https://' || base || '?utm_source=x&utm_campaign=y'
           ELSE 'https://' || base || '?b=2&a=1'
         END AS url
  FROM raw),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(u1, '^[^:]+://([^/?#]*)', 1)) AS host0,
         regexp_replace(regexp_extract(u1, '^[^:]+://[^/?#]*([^?#]*)', 1),
                        '/+$', '') AS path0,
         regexp_extract(u1, '\\?([^#]*)', 1) AS query0
  FROM (SELECT doc_id, regexp_replace(url, '#.*', '') AS u1 FROM urls)),
norm AS (
  SELECT doc_id,
         scheme || '://' ||
         CASE WHEN scheme = 'http' AND host0 LIKE '%:80'
                THEN substr(host0, 1, length(host0) - 3)
              WHEN scheme = 'https' AND host0 LIKE '%:443'
                THEN substr(host0, 1, length(host0) - 4)
              ELSE host0 END ||
         CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
         CASE WHEN len(list_filter(string_split(query0, '&'),
                                   x -> {_SQL_URL_TRACKING})) > 0
              THEN '?' || array_to_string(
                     list_sort(list_filter(string_split(query0, '&'),
                                           x -> {_SQL_URL_TRACKING})), '&')
              ELSE '' END AS canonical
  FROM parts)
SELECT canonical AS canonical_url, COUNT(*) AS n_dupes,
       MIN(doc_id) AS first_doc
FROM norm GROUP BY canonical
"""


def q_similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized cosine top-k: per-vector symmetric quantization
    (floor(x*s + 0.5), s = 127/max|x|), integer dot products. Fully
    oracle-checkable: the quantized values are exact integers on both
    engines and every intermediate product fits a double exactly."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    return similarity.quantized_topk(emb, query, k=20)


def _sql_quantized_topk(k: int = 20) -> str:
    quant = ("CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0 "
             "THEN list_transform(v, x -> floor(x * (127.0 / "
             "list_max(list_transform(v, y -> abs(y)))) + 0.5)) "
             "ELSE list_transform(v, x -> 0.0) END")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qe AS (SELECT vec_id, {quant} AS q FROM e),
qq AS (SELECT q AS query_q FROM qe WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         CASE WHEN sqrt(list_dot_product(q, q))
                   * sqrt(list_dot_product(query_q, query_q)) > 0
              THEN list_dot_product(q, query_q)
                   / (sqrt(list_dot_product(q, q))
                      * sqrt(list_dot_product(query_q, query_q)))
              ELSE 0.0 END AS s
  FROM qe CROSS JOIN qq)
SELECT vec_id, ROUND(s, 6) AS qcosine_sim
FROM scored
ORDER BY qcosine_sim DESC, vec_id
LIMIT {k}
"""


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter corpus membership: build the bit table from a
    reference slice (doc_id % 3 == 0), probe every document. Reference
    docs MUST flag true (no false negatives); the false-positive set is a
    deterministic function of the md5 bit table, so the oracle re-derives
    it exactly."""
    from ..operators import sketch  # noqa: PLC0415

    docs = docs_t(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bloom = sketch.bloom_build(ref, "text", bits_log2=16, num_hashes=4)
    return (sketch.bloom_might_contain(docs, "text", bloom,
                                       bits_log2=16, num_hashes=4)
            .select("doc_id", "might_contain"))


def _sql_bloom_dedup(bits_log2: int = 16, num_hashes: int = 4) -> str:
    from ..operators.sketch import bloom_sql  # noqa: PLC0415

    m = 1 << bits_log2
    probes = " UNION ALL ".join(
        f"SELECT doc_id, ('0x' || substr(md5('{i}|' || text), 1, 8))::BIGINT "
        f"% {m} AS pos FROM documents"
        for i in range(1, num_hashes + 1))
    ref = "(SELECT text FROM documents WHERE doc_id % 3 = 0)"
    return f"""
WITH {bloom_sql("text", ref, bits_log2, num_hashes).strip()}
SELECT p.doc_id,
       MIN((COALESCE(b.bits, 0) & (1::BIGINT << CAST(p.pos % 32 AS INT)))
           = (1::BIGINT << CAST(p.pos % 32 AS INT))) AS might_contain
FROM ({probes}) p LEFT JOIN bloom b ON p.pos // 32 = b.word
GROUP BY p.doc_id
"""


def q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication profile (Lee et al. "Deduplicating
    Training Data Makes Language Models Better" signal): per document, the
    count and fraction of its 8-token windows that appear verbatim in
    another document. No self-join — windows collapse to a (gram, doc) grid
    keyed by md5, one window count marks cross-doc grams.

    Perf note (measured sf0.1, warm): ~1.3-1.9 s vs DuckDB 0.82 s —
    both engines do the same gram-grid work (explode ~1 M 8-grams, hash,
    count per gram, re-aggregate per doc); the 2.3× is two gram-keyed
    exchanges at the local job floor vs one in-process pipeline. The
    gram-hash key is uniform by construction, so both exchanges stay
    skew-free at corpus scale."""
    docs = docs_t(spark, sf_dir)
    return dedup.duplicate_ngram_spans(docs, n=8)


SQL_DUP_NGRAM_SPANS = rf"""
WITH {_TOKS_SQL.strip()},
g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 8
           THEN list_transform(range(1, len(w) - 6),
                               i -> array_to_string(w[i:i+7], ' '))
           ELSE [] END AS grams
  FROM toks),
grid AS (
  SELECT doc_id, md5(gram) AS gh, CAST(COUNT(*) AS BIGINT) AS mult
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
  GROUP BY doc_id, gh),
dup AS (
  SELECT doc_id, CAST(SUM(mult) AS BIGINT) AS n_dup_windows,
         CAST(COUNT(*) AS BIGINT) AS n_dup_grams
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY gh) AS nd FROM grid)
  WHERE nd > 1 GROUP BY doc_id)
SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_windows,
       COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
       COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
       CASE WHEN len(g.grams) > 0
            THEN ROUND(CAST(COALESCE(d.n_dup_windows, 0) AS DOUBLE)
                       / len(g.grams), 6)
            ELSE 0.0 END AS dup_frac
FROM g LEFT JOIN dup d USING (doc_id)
"""


_ESD_MOD = 5        # eval slice: doc_id % 5 == 0 (the 101-slice shares no
                    # long runs in the synthetic corpus; 5 yields real hits)
_ESD_MIN = 50       # Lee et al. 2022's published 50-token threshold
# m = ceil((L+1)/2) so the stride s = L - m + 1 satisfies s <= m:
# consecutive stride windows overlap, which makes the chain-start
# dedup in the cand CTE sound (see operators/dedup.py step 3)
_ESD_M = (_ESD_MIN + 2) // 2
_ESD_S = _ESD_MIN - _ESD_M + 1


def q_exact_substring_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination report (Lee et al. 2022,
    arXiv:2107.06499): every training doc (doc_id % 5 != 0) sharing a
    >=50-token verbatim run with the eval slice (doc_id % 5 == 0), with
    the maximal overlap's length and 1-based token offsets. Seeded by a
    stride-25 fingerprint join over 26-token windows (overlapping
    strides make the per-run chain-start dedup sound), extended by
    anchored lcp — the oracle replays seeds, chain starts and
    extensions exactly."""
    docs = docs_t(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % _ESD_MOD != 0)
    ev = docs.filter(F.col("doc_id") % _ESD_MOD == 0)
    return dedup.exact_substring_overlaps(train, ev, min_tokens=_ESD_MIN)


# lcp of two DuckDB lists via the same first-mismatch scan Spark runs;
# {a}/{b} must be list-typed SQL expressions already projected to columns
def _sql_lcp(a: str, b: str) -> str:
    return (f"CASE WHEN list_position(list_transform("
            f"range(1, least(len({a}), len({b})) + 1), "
            f"k -> {a}[k] = {b}[k]), false) > 0 "
            f"THEN list_position(list_transform("
            f"range(1, least(len({a}), len({b})) + 1), "
            f"k -> {a}[k] = {b}[k]), false) - 1 "
            f"ELSE least(len({a}), len({b})) END")


_SQL_ESD_SPANS = rf"""
tr AS (SELECT doc_id, w FROM toks
       WHERE doc_id % {_ESD_MOD} != 0 AND len(w) >= {_ESD_M}),
ev AS (SELECT doc_id, w FROM toks
       WHERE doc_id % {_ESD_MOD} = 0 AND len(w) >= {_ESD_M}),
tg AS (
  SELECT doc_id AS tid, i,
         md5(array_to_string(w[i:i+{_ESD_M - 1}], ' ')) AS gh
  FROM (SELECT doc_id, w,
               unnest(range(1, len(w) - {_ESD_M - 2}, {_ESD_S})) AS i
        FROM tr)),
eg AS (
  SELECT doc_id AS eid, j,
         md5(array_to_string(w[j:j+{_ESD_M - 1}], ' ')) AS gh
  FROM (SELECT doc_id, w,
               unnest(range(1, len(w) - {_ESD_M - 2}, 1)) AS j
        FROM ev)),
pairs AS (
  SELECT tid, eid, i - j AS diag, i
  FROM tg JOIN eg USING (gh)),
cand AS (
  -- chain-start dedup: drop anchors whose stride predecessor on the
  -- same diagonal also matched (s <= m makes the two windows overlap,
  -- so the predecessor's extension covers this run); one anchor per
  -- (pair, diagonal, run) — disjoint runs on one diagonal each survive
  SELECT p.tid, p.eid, p.diag, p.i FROM pairs p
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs q
    WHERE q.tid = p.tid AND q.eid = p.eid AND q.diag = p.diag
      AND q.i = p.i - {_ESD_S})),
arrs AS (
  SELECT c.tid, c.eid, c.i, c.i - c.diag AS j,
         list_reverse(t.w[1:c.i-1]) AS la,
         list_reverse(e.w[1:(c.i - c.diag)-1]) AS lb,
         t.w[c.i:] AS ra, e.w[(c.i - c.diag):] AS rb
  FROM cand c
  JOIN tr t ON t.doc_id = c.tid
  JOIN ev e ON e.doc_id = c.eid),
ext AS (
  SELECT tid, eid, i, j,
         {_sql_lcp('la', 'lb')} AS l,
         {_sql_lcp('ra', 'rb')} AS r
  FROM arrs),
spans AS (
  SELECT tid, eid, l + r AS olen, i - l AS ts, j - l AS es
  FROM ext WHERE l + r >= {_ESD_MIN})"""

SQL_EXACT_SUBSTRING_DECONTAM = rf"""
WITH {_TOKS_SQL.strip()},
{_SQL_ESD_SPANS},
best AS (
  SELECT tid, eid, olen, ts, es,
         ROW_NUMBER() OVER (PARTITION BY tid, eid
                            ORDER BY olen DESC, ts, es) AS rn
  FROM spans)
SELECT tid AS doc_id, eid AS eval_id,
       CAST(olen AS BIGINT) AS overlap_tokens,
       CAST(ts AS BIGINT) AS t_start, CAST(es AS BIGINT) AS e_start
FROM best WHERE rn = 1
"""


def q_exact_substring_self_dedup(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """WITHIN-corpus ExactSubstr span removal (Lee et al. 2022): every
    verbatim >=50-token run occurring more than once in the corpus is
    cut from all but its first occurrence (smallest doc id, then
    position); the gate returns every document's rebuilt text plus
    removal accounting, so the hash pins the window marking, the
    keep-first choice, the island merge AND the token-level rebuild."""
    docs = docs_t(spark, sf_dir)
    return dedup.remove_duplicate_spans(docs, min_tokens=_ESD_MIN)


SQL_EXACT_SUBSTRING_SELF_DEDUP = rf"""
WITH {_TOKS_SQL.strip()},
g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(w) - {_ESD_MIN - 2}),
           i -> {{'p': i,
                  'gh': md5(array_to_string(w[i:i+{_ESD_MIN - 1}], ' '))}}
         )) AS u
  FROM toks WHERE len(w) >= {_ESD_MIN}),
pos AS (
  SELECT doc_id, u.p AS p, u.gh AS gh
  FROM g),
mk AS (
  -- keep-first by exact lexicographic (doc_id, p) — mirrors the Spark
  -- side's min(struct(doc_id, p)) aggregate; no packed key, no
  -- document-length or id-range limits
  SELECT doc_id, p FROM (
    SELECT doc_id, p,
           COUNT(*) OVER (PARTITION BY gh) AS n,
           ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn
    FROM pos)
  WHERE n > 1 AND rn > 1),
isl AS (
  SELECT doc_id, p,
         CASE WHEN pe IS NULL OR p > pe THEN 1 ELSE 0 END AS nw
  FROM (
    SELECT doc_id, p,
           MAX(p + {_ESD_MIN}) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
    FROM mk)),
isl2 AS (
  SELECT doc_id, p,
         SUM(nw) OVER (PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM isl),
spans AS (
  SELECT doc_id, MIN(p) AS s, MAX(p) + {_ESD_MIN - 1} AS e
  FROM isl2 GROUP BY doc_id, grp),
sarr AS (
  SELECT doc_id, list([s, e]) AS sp,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS n_removed
  FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN a.sp IS NULL THEN array_to_string(t.w, ' ')
       -- COALESCE: DuckDB's array_to_string of an emptied list yields
       -- NULL where Spark's array_join yields '' (fully-removed docs)
       ELSE COALESCE(array_to_string(
         list_filter(
           list_transform(range(1, len(t.w) + 1),
             i -> CASE WHEN len(list_filter(a.sp,
                    x -> i >= x[1] AND i <= x[2])) > 0
                  THEN NULL ELSE t.w[i] END),
           x -> x IS NOT NULL), ' '), '') END AS clean_text,
       CAST(len(t.w) AS BIGINT) AS n_tokens,
       COALESCE(a.n_removed, 0) AS n_removed,
       COALESCE(a.n_spans, 0) AS n_spans
FROM toks t LEFT JOIN sarr a USING (doc_id)
"""


def q_exact_substring_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontaminated training set itself: training docs that share NO
    >=50-token verbatim run with the eval slice (the anti-join over
    q_exact_substring_decontam's flags), with token counts — the pass a
    pretraining pipeline actually ships."""
    docs = docs_t(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % _ESD_MOD != 0)
    ev = docs.filter(F.col("doc_id") % _ESD_MOD == 0)
    kept = dedup.decontaminate_exact_substring(train, ev,
                                               min_tokens=_ESD_MIN)
    return kept.select("doc_id", text.token_count("text").cast("bigint")
                       .alias("n_tokens"))


SQL_EXACT_SUBSTRING_KEPT = rf"""
WITH {_TOKS_SQL.strip()},
{_SQL_ESD_SPANS}
SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
FROM toks
WHERE doc_id % {_ESD_MOD} != 0
  AND doc_id NOT IN (SELECT tid FROM spans)
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dup_ngram_spans": q_dup_ngram_spans,
    "exact_substring_decontam": q_exact_substring_decontam,
    "exact_substring_kept": q_exact_substring_kept,
    "exact_substring_self_dedup": q_exact_substring_self_dedup,
    "fingerprint_dupes": q_fingerprint_dupes,
    "minhash_neardup": q_minhash_neardup,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep_best": q_dedup_keep_best,
    "simhash": q_simhash,
    "simhash_neardup": q_simhash_neardup,
    "ngram_jaccard": q_ngram_jaccard,
    "similarity_topk": q_similarity_topk,
    "embedding_neardup": q_embedding_neardup,
    "similarity_lsh_topk": q_similarity_lsh_topk,
    "similarity_ivf_topk": q_similarity_ivf_topk,
    "semantic_dedup": q_semantic_dedup,
    "dedup_paragraphs": q_dedup_paragraphs,
    "dedup_against_reference": q_dedup_against_reference,
    "knn_join": q_knn_join,
    "knn_join_exact": q_knn_join_exact,
    "ann_recall": q_ann_recall,
    "token_counts": q_token_counts,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_neardup": q_winnow_neardup,
    "lang_id": q_lang_id,
    "quality_features": q_quality_features,
    "pack_positions": q_pack_positions,
    "length_batches": q_length_batches,
    "fuzzy_pairs": q_fuzzy_pairs,
    "pii_redact": q_pii_redact,
    "tfidf_top_terms": q_tfidf_top_terms,
    "url_canonical_dedup": q_url_canonical_dedup,
    "bloom_dedup": q_bloom_dedup,
    "similarity_quantized_topk": q_similarity_quantized_topk,
}

ORACLES = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dup_ngram_spans": SQL_DUP_NGRAM_SPANS,
    "exact_substring_decontam": SQL_EXACT_SUBSTRING_DECONTAM,
    "exact_substring_kept": SQL_EXACT_SUBSTRING_KEPT,
    "exact_substring_self_dedup": SQL_EXACT_SUBSTRING_SELF_DEDUP,
    "fingerprint_dupes": SQL_FINGERPRINT_DUPES,
    "minhash_neardup": _sql_minhash(),
    "dedup_clusters": _sql_dedup_clusters(),
    "dedup_keep_best": _sql_dedup_keep_best(),
    "simhash": _sql_simhash(),
    "simhash_neardup": _sql_simhash_neardup(),
    "similarity_lsh_topk": _sql_lsh_topk(),
    "similarity_ivf_topk": _sql_ivf_topk(),
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "dedup_paragraphs": SQL_DEDUP_PARAGRAPHS,
    "dedup_against_reference": _sql_dedup_against_reference(),
    "knn_join": _sql_knn_join(),
    "knn_join_exact": SQL_KNN_JOIN_EXACT,
    "ann_recall": _sql_ann_recall(),
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "similarity_topk": SQL_SIMILARITY_TOPK,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "token_counts": SQL_TOKEN_COUNTS,
    "winnow_fingerprints": _sql_winnow(),
    "winnow_neardup": _sql_winnow_neardup(),
    "lang_id": _sql_lang_id(),
    "quality_features": _sql_quality(),
    "pack_positions": _sql_pack(),
    "length_batches": _sql_length_batches(),
    "fuzzy_pairs": SQL_FUZZY_PAIRS,
    "pii_redact": _sql_pii_redact(),
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "url_canonical_dedup": SQL_URL_CANONICAL_DEDUP,
    "bloom_dedup": _sql_bloom_dedup(),
    "similarity_quantized_topk": _sql_quantized_topk(),
}
