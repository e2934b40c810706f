"""Training-data-pipeline operators: dedup, similarity and text analysis
over small hand-checkable corpora."""

import math

import pytest
from pyspark.sql import functions as F

from osm_pg_etl_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    word_shingles,
)
from osm_pg_etl_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    ivf_assign,
    ivf_centroids,
    ivf_topk,
    lsh_topk,
)
from osm_pg_etl_spark.operators.text import (
    bpe_ish_token_count,
    detect_language,
    fingerprint,
    pii_counts,
    redact_pii,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),      # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),      # near dup of 1
    (4, "completely different content about spark engines"),
    (5, "el gato y el perro en la casa de los vecinos"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = exact_duplicates(docs).collect()
    assert len(got) == 1
    assert (got[0]["count"], got[0]["keep_id"]) == (2, 1)
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("Hello world",)], "t string")
    got = df.select(word_shingles("t", 3).alias("s")).collect()[0]["s"]
    assert got == ["hello world"]  # < n tokens -> whole-doc shingle


def test_minhash_finds_near_dups(docs):
    # bands=8 (2 rows/band): capture probability for J=0.75 is ~0.999 —
    # and deterministic given the fixed md5-based family
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
             for r in minhash_near_duplicates(
                 docs, num_hashes=16, bands=8, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_ngram_jaccard_exact(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
             for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    # docs 1,3 (9 tokens each) differ in the last shingle only:
    # 6 shared of 8 union -> J = 0.75
    assert pairs[(1, 3)] == pytest.approx(0.75)
    assert pairs[(1, 2)] == pytest.approx(1.0)


def test_simhash_near_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_duplicates(docs, max_hamming=0).collect()}
    assert pairs[(1, 2)] == 0  # identical text -> identical fingerprint


def test_band_geometry_validated(docs):
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_near_duplicates(docs, num_hashes=16, bands=5)
    with pytest.raises(ValueError, match="multiple of bands"):
        simhash_near_duplicates(docs, bits=32, bands=5)


def test_ngram_jaccard_doc_freq_cutoff(docs):
    # every shingle of docs 1/2 appears in >= 2 docs: cutoff=1 removes all
    # their postings, so the (1,2) pair disappears; exact mode keeps it
    exact = ngram_jaccard_pairs(docs, threshold=0.4)
    capped = ngram_jaccard_pairs(docs, threshold=0.4, max_doc_freq=1)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (1, 2) in exact_pairs
    assert capped_pairs < exact_pairs


def test_fingerprint_reorder_invariant(spark):
    df = spark.createDataFrame(
        [("b a c",), ("c  b a",), ("a b d",)], "t string")
    got = [r["f"] for r in df.select(fingerprint("t").alias("f")).collect()]
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_winnow_fingerprints(spark):
    from osm_pg_etl_spark.operators.text import _winnow_one, winnow_fingerprints

    shared = "a common phrase of respectable length"  # >> k+window-1 chars
    rows = [(1, "intro text " + shared + " and an ending"),
            (2, "другое начало " + shared + " другой конец"),
            (3, "totally unrelated writing about nothing similar"),
            (4, "xy"), (5, ""), (6, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", winnow_fingerprints("text").alias("fp")).collect()}
    # winnowing guarantee: a shared substring of >= k+window-1 normalized
    # chars forces at least one shared fingerprint
    assert set(got[1]) & set(got[2])
    assert not (set(got[1]) & set(got[3]))
    assert got[4] == [] and got[5] == [] and got[6] == []
    # sorted distinct, position-shift invariant on the pure shared text
    assert got[1] == sorted(set(got[1]))
    assert (_winnow_one("XX" + shared, 7, 4) is not None)
    # short-input degeneration: >=k grams but < window of them -> global min
    one = _winnow_one("abcdefgh", 7, 4)  # 2 grams
    assert len(one) == 1


def test_winnow_near_duplicates(docs):
    from osm_pg_etl_spark.operators.dedup import winnow_near_duplicates

    pairs = {(r["id_a"], r["id_b"]): r["winnow_jaccard"]
             for r in winnow_near_duplicates(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0              # exact dup: identical fp sets
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0   # shared passage
    assert not any(4 in p or 5 in p for p in pairs)  # unrelated docs


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! 42 times",)], "t string")
    r = df.select(token_count("t").alias("w"),
                  bpe_ish_token_count("t").alias("b")).collect()[0]
    assert r["w"] == 4
    # hello , world ! 42 times -> 6
    assert r["b"] == 6


def test_detect_language(docs):
    got = {r["doc_id"]: r["lang"] for r in
           docs.select("doc_id", detect_language("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[5] == "es"
    df = docs.sparkSession.createDataFrame([("zzz qqq",)], "t string")
    assert df.select(detect_language("t").alias("l")).collect()[0]["l"] == "und"


EMB = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
    (5, [-1.0, 0.0, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(EMB, "vec_id long, embedding array<float>")


def test_brute_force_topk(emb):
    got = [r["vec_id"] for r in
           brute_force_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3).collect()]
    assert got[0] == 1 and got[1] == 2
    assert 5 not in got[:3]


def test_lsh_topk_subset_of_brute_force(emb):
    # LSH candidates come from matching buckets; scores must agree with the
    # exact cosine for whatever it returns
    exact = {r["vec_id"]: r["cosine_sim"] for r in
             brute_force_topk(emb, [1.0, 0.0, 0.0, 0.0], k=5).collect()}
    for r in lsh_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3).collect():
        assert r["cosine_sim"] == pytest.approx(exact[r["vec_id"]], abs=1e-6)


def test_tfidf_top_terms(spark):
    import math

    from osm_pg_etl_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "spark spark rare"), (2, "spark common"),
         (3, "common common other")], "doc_id long, text string")
    got = [(r["term"], r["score"]) for r in
           tfidf_top_terms(df, k=2).filter(F.col("doc_id") == 1)
           .orderBy(F.desc("score")).collect()]
    # rare: 1*ln(3/1)=1.0986 beats spark: 2*ln(3/2)=0.8109
    assert [t for t, _ in got] == ["rare", "spark"]
    assert got[0][1] == pytest.approx(math.log(3), abs=1e-6)
    assert got[1][1] == pytest.approx(2 * math.log(1.5), abs=1e-6)


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [("mail bob.smith+x@corp.example.org now",),
         ("call 1-800-555-0199 or ping 192.168.0.1",),
         ("nothing sensitive here",)], "t string")
    got = [r["c"] for r in df.select(redact_pii("t").alias("c")).collect()]
    assert got == ["mail <EMAIL> now",
                   "call <PHONE> or ping <IPV4>",
                   "nothing sensitive here"]
    cnt = df.select(*[v.alias(k) for k, v in pii_counts("t").items()]).collect()
    assert [(r["EMAIL"], r["PHONE"], r["IPV4"]) for r in cnt] == \
        [(1, 0, 0), (0, 1, 1), (0, 0, 0)]


def test_ivf_assign_cells(emb):
    cents = ivf_centroids(emb, num_centroids=3)
    assert [cid for cid, _ in cents] == [1, 2, 3]
    cells = {r["vec_id"]: r["ivf_cell"] for r in ivf_assign(emb, cents).collect()}
    # vec 4 is orthogonal to every centroid (three-way tie) -> lowest cid;
    # vec 5 is anti-parallel to c1/c2, so its best cosine is c3's 0.0
    assert cells == {1: 1, 2: 2, 3: 3, 4: 1, 5: 3}


def test_ivf_topk_probes_nearest_cells(emb):
    got = ivf_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3,
                   num_centroids=3, nprobe=2).collect()
    # probe = cells {1, 2}; candidates 1, 4 (cell 1) and 2 (cell 2);
    # vec 5 sits in un-probed cell 3 and must not appear
    assert [r["vec_id"] for r in got] == [1, 2, 4]
    assert got[0]["cosine_sim"] == pytest.approx(1.0, abs=1e-6)


def test_ivf_refine_lowers_cost_and_recall(spark):
    import random

    from osm_pg_etl_spark.operators.similarity import (
        ivf_quantization_cost, ivf_refine)

    # 3 well-separated clusters in 8-dim; ids interleaved so the sampled
    # (lowest-id) centroids are a poor quantizer
    rng = random.Random(5)
    centers = [[5.0 if i == c else 0.0 for i in range(8)] for c in range(3)]
    rows = []
    for i in range(120):
        c = centers[i % 3]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    sampled = ivf_centroids(df, num_centroids=4)
    refined = ivf_refine(df, sampled, iters=2)
    assert [cid for cid, _ in refined] == [cid for cid, _ in sampled]
    # Lloyd monotonically reduces quantization cost
    c_s = ivf_quantization_cost(df, sampled)
    c_r = ivf_quantization_cost(df, refined)
    assert c_r <= c_s + 1e-12

    # recall@10 vs brute force for a held-out query must not degrade
    query = centers[2]
    exact = {r["vec_id"] for r in brute_force_topk(df, query, k=10).collect()}

    def recall(refine_iters):
        got = {r["vec_id"] for r in
               ivf_topk(df, query, k=10, num_centroids=4, nprobe=1,
                        refine_iters=refine_iters).collect()}
        return len(got & exact) / len(exact)

    assert recall(2) >= recall(0)


def test_ivf_refine_deterministic_across_partitionings(spark):
    import random

    from osm_pg_etl_spark.operators.similarity import ivf_refine

    rng = random.Random(9)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_centroids(df, num_centroids=5)
    a = ivf_refine(df, cents, iters=1)
    b = ivf_refine(df.repartition(13), cents, iters=1)
    assert a == b  # exact equality: decimal sums are order-independent


def test_embedding_near_duplicates(emb):
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in embedding_near_duplicates(emb, threshold=0.9).collect()}
    assert list(pairs) == [(1, 2)]
    assert pairs[(1, 2)] == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-6)


def test_pack_positions(spark):
    from osm_pg_etl_spark.operators.text import pack_positions

    rows = [(1, "a b c"), (2, " ".join(["w"] * 7)), (3, ""), (4, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pack_positions(df, capacity=4).collect()}
    # stream: doc1 [0,3) doc2 [3,10) doc3 [10,10) doc4 [10,12)
    assert (got[1]["start_pos"], got[1]["seq_start"], got[1]["seq_offset"],
            got[1]["seq_end"]) == (0, 0, 0, 0)
    assert (got[2]["start_pos"], got[2]["seq_start"], got[2]["seq_offset"],
            got[2]["seq_end"]) == (3, 0, 3, 2)      # straddles seqs 0-2
    assert (got[3]["n_tokens"], got[3]["seq_start"],
            got[3]["seq_end"]) == (0, 2, 2)          # empty doc, zero span
    assert (got[4]["seq_start"], got[4]["seq_offset"],
            got[4]["seq_end"]) == (2, 2, 2)
    with pytest.raises(ValueError):
        pack_positions(df, capacity=0)


def test_quantized_topk_tracks_exact_cosine(spark):
    import random

    from osm_pg_etl_spark.operators.similarity import quantized_topk

    rng = random.Random(21)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(150)]
    rows.append((999, [0.0] * 16))  # zero vector must not divide by zero
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = rows[3][1]
    exact = {r["vec_id"]: r["cosine_sim"]
             for r in brute_force_topk(df, query, k=150).collect()}
    got = quantized_topk(df, query, k=10).collect()
    assert got[0]["vec_id"] == 3                       # self-match on top
    assert got[0]["qcosine_sim"] == pytest.approx(1.0, abs=2e-2)
    for r in got:
        # int8 quantization error bound: within ~2/127 of the exact score
        assert r["qcosine_sim"] == pytest.approx(
            exact[r["vec_id"]], abs=2e-2)


def test_quantize_embeddings_values(spark):
    from osm_pg_etl_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["qvec"]
           for r in quantize_embeddings(df).collect()}
    assert got[1] == [127, -63, 32]   # floor(x*127+0.5), scale 127/1.0
    assert got[2] == [0, 0, 0]


def test_length_batches_budget_and_determinism(spark):
    from osm_pg_etl_spark.operators.text import length_batches

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         enumerate([1, 2, 3, 5, 8, 9, 15, 16, 31, 33, 100, 120])],
        "doc_id long, text string")
    out = length_batches(docs, budget=64).collect()
    rows = {r["doc_id"]: r for r in out}
    # bucket = floor(log2(n)); batch footprint docs_per_batch * 2^(b+1) <= budget
    for r in out:
        assert r["bucket"] == max(r["n_tokens"], 1).bit_length() - 1
        assert r["docs_per_batch"] * (1 << (r["bucket"] + 1)) <= 64 \
            or r["docs_per_batch"] == 1
    # docs 8,9,15 share bucket 3 -> docs_per_batch = 64 // 16 = 4, one batch
    b3 = [r for r in out if r["bucket"] == 3]
    assert len(b3) == 3 and all(r["batch_in_bucket"] == 0 for r in b3)
    assert all(r["docs_per_batch"] == 4 for r in b3)
    # bucket 6 (100, 120): 64 // 128 = 0 -> clamped to 1 doc per batch
    b6 = sorted((r["doc_id"], r["batch_in_bucket"]) for r in out
                if r["bucket"] == 6)
    assert [b for _, b in b6] == [0, 1]
    # deterministic across runs
    again = {r["doc_id"]: r for r in length_batches(docs, budget=64).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == \
        {k: tuple(v) for k, v in again.items()}


def test_gap_fill_scaffold_and_ffill(spark):
    from pyspark.sql import Window, functions as F

    # direct mini-check of the construction: scaffold covers every hour in
    # [min, max] per bucket, zeros for missing hours, forward-filled value
    per_hour = spark.createDataFrame(
        [(0, 100, 2, 1.5), (0, 103, 1, 9.0), (7, 200, 4, 2.0)],
        "bucket long, hour long, n long, mean_value double")
    scaffold = (per_hour.groupBy("bucket")
                .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
                .select("bucket",
                        F.explode(F.sequence("h0", "h1")).alias("hour")))
    w = (Window.partitionBy("bucket").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (scaffold.join(per_hour, ["bucket", "hour"], "left")
           .select("bucket", "hour",
                   F.coalesce("n", F.lit(0)).alias("n"),
                   F.last("mean_value", ignorenulls=True).over(w)
                   .alias("filled")))
    got = {(r["bucket"], r["hour"]): (r["n"], r["filled"])
           for r in out.collect()}
    assert got == {
        (0, 100): (2, 1.5), (0, 101): (0, 1.5), (0, 102): (0, 1.5),
        (0, 103): (1, 9.0), (7, 200): (4, 2.0),
    }


def test_knn_join_exact_small_graph(emb):
    """All-pairs exact self-KNN on the 5-vector fixture: vector 1's
    nearest is 2 (cos≈0.994), then the orthogonals (0.0) rank by id,
    with the antipode 5 (-1.0) last; rank is dense per vector."""
    from osm_pg_etl_spark.operators.similarity import knn_join

    got = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
           for r in knn_join(emb, k=4, exact=True).collect()}
    assert got[(1, 1)][0] == 2
    assert got[(1, 1)][1] == pytest.approx(0.993884, abs=1e-6)
    assert got[(1, 2)] == (3, 0.0)    # tie on 0.0 -> smallest id first
    assert got[(1, 3)] == (4, 0.0)
    assert got[(1, 4)] == (5, -1.0)
    assert got[(5, 4)][0] == 1        # antipodes are mutually last


def test_knn_join_lsh_recall_against_exact(spark):
    """On a clustered corpus (3 tight clusters in 8-d), the LSH-bucketed
    self-KNN must (a) only ever report cosine values that agree with the
    exact computation and (b) recover most within-cluster neighbors —
    cluster-mates nearly always share the hyperplane signature."""
    from osm_pg_etl_spark.operators.similarity import knn_join

    rows = []
    base = {0: [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
            1: [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
            2: [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]}
    for i in range(30):
        c = i % 3
        vec = [x + 0.01 * ((i * 7 + j) % 5) for j, x in enumerate(base[c])]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["vec_id"], r["neighbor_id"]): r["cosine_sim"]
             for r in knn_join(emb, k=5, exact=True).collect()}
    lsh = [(r["vec_id"], r["neighbor_id"], r["cosine_sim"])
           for r in knn_join(emb, k=5, num_planes=4, dim=8).collect()]
    assert lsh, "LSH buckets produced no candidate pairs"
    for vid, nid, sim in lsh:
        assert sim == pytest.approx(exact[(vid, nid)], abs=1e-6)
    hits = sum(1 for vid, nid, _ in lsh if vid % 3 == nid % 3)
    assert hits / len(lsh) > 0.9      # bucket-mates are cluster-mates


def test_knn_join_multi_table_recall_dominates_single(spark):
    """num_tables=L unions candidates from L independent hyperplane
    families: recall vs the exact baseline must be monotone ≥ the
    single-table run, values must stay exact-agreeing, and cross-table
    duplicate pairs must collapse (no (vec_id, neighbor_id) repeats)."""
    from osm_pg_etl_spark.operators.similarity import knn_join

    rows = [(i, [((i * 7 + j * 13) % 17 - 8) / 8.0 for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["vec_id"], r["neighbor_id"]): r["cosine_sim"]
             for r in knn_join(emb, k=3, exact=True).collect()}

    def run(tables):
        got = [(r["vec_id"], r["neighbor_id"], r["cosine_sim"])
               for r in knn_join(emb, k=3, num_planes=4, dim=8,
                                 num_tables=tables).collect()]
        keys = [(v, n) for v, n, _ in got]
        assert len(keys) == len(set(keys)), "duplicate pairs leaked"
        return got

    single, multi = run(1), run(8)
    for vid, nid, sim in multi:
        if (vid, nid) in exact:
            assert sim == pytest.approx(exact[(vid, nid)], abs=1e-6)
    r1 = len(set(k for k in [(v, n) for v, n, _ in single]) & set(exact))
    r8 = len(set(k for k in [(v, n) for v, n, _ in multi]) & set(exact))
    assert r8 >= r1
    assert r8 / len(exact) > 0.5


def test_lsh_topk_multi_table_is_superset_path(spark):
    """lsh_topk with L tables scans a union of buckets: its top-k must
    equal the brute-force top-k restricted to the union candidates —
    here L high enough that recall is 1.0 on a 20-row corpus."""
    from osm_pg_etl_spark.operators.similarity import (
        brute_force_topk, lsh_topk)

    rows = [(i, [((i * 5 + j * 11) % 13 - 6) / 6.0 for j in range(8)])
            for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.5, -0.25, 0.125, 0.0, -0.5, 0.25, -0.125]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=5).collect()]
    got = [r["vec_id"]
           for r in lsh_topk(emb, q, k=5, num_planes=2, multi_probe=2,
                             num_tables=16).collect()]
    assert got == exact


def test_knn_join_degenerate_inputs(spark):
    """Singleton buckets and sub-2-row corpora produce empty results
    (never errors): a lone vector has no bucket-mates, and the exact
    path on one row has no pairs."""
    from osm_pg_etl_spark.operators.similarity import knn_join

    one = spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])],
                                "vec_id long, embedding array<float>")
    assert knn_join(one, k=3, num_planes=4, dim=4).count() == 0
    assert knn_join(one, k=3, exact=True).count() == 0
    # zero-norm vectors score 0.0 against everything, by contract
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    got = {(r["vec_id"], r["neighbor_id"]): r["cosine_sim"]
           for r in knn_join(zeros, k=1, exact=True).collect()}
    assert got[(1, 2)] == 0.0 and got[(2, 1)] == 0.0


def test_knn_join_string_ids(spark):
    """Review follow-up: the bucket kernel's output id type follows the
    input schema — string ids route through Arrow and the ranking
    window unchanged."""
    from osm_pg_etl_spark.operators.similarity import knn_join

    base = [0.5, 0.5, 0.1, 0.1]
    rows = [("a", base), ("b", [v + 0.001 for v in base]),
            ("c", [v + 0.002 for v in base])]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    got = {(r["vec_id"], r["rank"]): r["neighbor_id"]
           for r in knn_join(emb, k=2, num_planes=2, dim=4).collect()}
    assert got[("a", 1)] in ("b", "c") and got[("b", 1)] in ("a", "c")


def test_canonicalize_url_normalization_rules(spark):
    """Case, default ports, fragments, trailing slashes, tracking params
    and query ordering all collapse; non-default ports and real params
    survive. Pure Column chain — mirrored 1:1 by the
    url_canonical_dedup oracle."""
    from osm_pg_etl_spark.operators.text import canonicalize_url

    cases = [
        ("https://Example.COM/p/5", "https://example.com/p/5"),
        ("HTTPS://EXAMPLE.COM:443/p/5/", "https://example.com/p/5"),
        ("http://a.com:80/", "http://a.com/"),
        ("http://a.com", "http://a.com/"),
        ("https://a.com/x?utm_source=t&b=2&a=1#frag",
         "https://a.com/x?a=1&b=2"),
        ("https://a.com/x?utm_campaign=z&fbclid=123", "https://a.com/x"),
        # ref= is semantic (branch refs, referrer-content) — it SURVIVES
        ("https://a.com/x/?gclid=9&z=1&ref=home",
         "https://a.com/x?ref=home&z=1"),
        ("http://a.com:8080/y", "http://a.com:8080/y"),
        ("https://a.com/deep///", "https://a.com/deep"),
        # non-hierarchical inputs pass through verbatim, never "://..."
        ("mailto:someone@example.com", "mailto:someone@example.com"),
        ("www.example.com/a?utm_source=x", "www.example.com/a?utm_source=x"),
        ("", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonicalize_url("url")).collect()]
    assert got == [want for _, want in cases]


def test_embedding_neardup_string_ids_and_duplicate_ids(spark):
    """Review findings: the Arrow kernel must keep the join path's
    generality — any orderable id type (strings here), and a repeated
    id emits ONE collapsed pair, not one per copy."""
    base = [0.5, 0.5, 0.1, 0.1]
    rows = [("a", base), ("b", [v + 0.001 for v in base]),
            ("c", [-v for v in base])]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(
        emb, threshold=0.99, num_planes=2).collect()}
    assert got == {("a", "b")}

    dup = spark.createDataFrame(
        [(1, base), (1, base), (2, [v + 0.001 for v in base])],
        "vec_id long, embedding array<float>")
    pairs = embedding_near_duplicates(dup, threshold=0.99,
                                      num_planes=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_embedding_neardup_multi_table_recall(spark):
    """num_tables on embedding_near_duplicates: the multi-table run must
    find a superset of the single-table pairs, agree with the exact path
    on every value, and never emit a duplicate pair."""
    rows = [(i, [((i * 3 + j * 5) % 11 - 5) / 5.0 + (0.001 * (i % 2))
                 for j in range(8)]) for i in range(30)]
    # add three explicit near-dup pairs: 100+i ~ i with tiny noise
    rows += [(100 + i, [v + 0.005 for v in rows[i][1]]) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in embedding_near_duplicates(
                 emb, threshold=0.99, exact=True).collect()}
    one = {(r["id_a"], r["id_b"])
           for r in embedding_near_duplicates(
               emb, threshold=0.99, num_planes=6).collect()}
    multi_rows = embedding_near_duplicates(
        emb, threshold=0.99, num_planes=6, num_tables=8).collect()
    multi = [(r["id_a"], r["id_b"], r["cosine_sim"]) for r in multi_rows]
    keys = [(a, b) for a, b, _ in multi]
    assert len(keys) == len(set(keys))
    assert set(keys) >= one
    for a, b, sim in multi:
        assert sim == pytest.approx(exact[(a, b)], abs=1e-6)
    assert len(set(keys) & set(exact)) >= len(one & set(exact))


def test_dedup_paragraphs_keep_first(spark):
    """r13: C4-style paragraph dedup — a paragraph repeated anywhere in
    the corpus survives only at its lowest (doc_id, position); docs are
    reassembled in order; an all-boilerplate doc comes back empty."""
    from osm_pg_etl_spark.operators.dedup import dedup_paragraphs

    rows = [
        (1, "alpha beta\ncookie banner\ngamma"),
        (2, "cookie banner\ndelta"),            # banner cut (first in 1)
        (3, "cookie banner"),                   # fully boilerplate
        (4, "alpha beta\nalpha beta"),          # within-doc repeat
        (5, ""),                                # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    assert out[1]["clean_text"] == "alpha beta\ncookie banner\ngamma"
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
    assert out[2]["clean_text"] == "delta"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (2, 1)
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    # "alpha beta" already kept in doc 1 -> both copies in doc 4 cut
    assert out[4]["clean_text"] == "" and out[4]["n_paras"] == 2
    assert out[5]["clean_text"] == "" and out[5]["n_paras"] == 0
    assert len(out) == 5


def test_semantic_dedup_keep_earliest(emb):
    """r13: SemDeDup — within an IVF cell, a vector with an earlier
    cell-mate above the cosine threshold is dropped; cell singletons and
    below-threshold mates are kept; the earliest of a near-dup pair
    always survives."""
    from osm_pg_etl_spark.operators.similarity import semantic_dedup

    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, threshold=0.95, num_centroids=2,
                          refine_iters=1).collect()}
    assert len(out) == 5
    # vec 1 [1,0,0,0] and vec 2 [0.9,0.1,0,0] are near-identical: the
    # earlier one (1) must be kept; 2's fate depends on sharing a cell
    assert out[1]["kept"]
    if out[1]["ivf_cell"] == out[2]["ivf_cell"]:
        assert not out[2]["kept"]
    # every drop must have an earlier kept-or-dropped cell-mate; and
    # lowering the threshold only ever drops MORE
    loose = {r["vec_id"]: r["kept"] for r in
             semantic_dedup(emb, threshold=0.5, num_centroids=2,
                            refine_iters=1).collect()}
    for vid, r in out.items():
        if not r["kept"]:
            assert not loose[vid]


def test_exact_substring_decontam(spark):
    """r14: Lee et al. exact-substring decontamination — a >=L-token
    verbatim run is found with its maximal extent and 1-based offsets,
    an (L-1)-token run is NOT flagged, stride seeding still catches runs
    at arbitrary alignment, and the anti-join keeps exactly the clean
    docs."""
    import pytest

    from osm_pg_etl_spark.operators.dedup import (
        decontaminate_exact_substring, exact_substring_overlaps)

    shared = " ".join(f"s{i}" for i in range(60))
    near = " ".join(f"s{i}" for i in range(49))
    filler = lambda p, k: " ".join(f"{p}{i}" for i in range(k))  # noqa: E731
    train = spark.createDataFrame([
        (1, filler("a", 30) + " " + shared + " " + filler("b", 20)),
        (2, filler("c", 40)),            # clean
        (3, near + " " + filler("d", 30)),   # 49 < 50 -> clean
        (4, shared),                      # run at position 1 (edge)
    ], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, filler("z", 7) + " " + shared)],
        "doc_id long, text string")

    out = {r["doc_id"]: r for r in
           exact_substring_overlaps(train, ev, min_tokens=50).collect()}
    assert set(out) == {1, 4}
    assert out[1]["overlap_tokens"] == 60
    assert (out[1]["t_start"], out[1]["e_start"]) == (31, 8)
    assert out[4]["overlap_tokens"] == 60
    assert (out[4]["t_start"], out[4]["e_start"]) == (1, 8)
    kept = sorted(r["doc_id"] for r in
                  decontaminate_exact_substring(train, ev, 50).collect())
    assert kept == [2, 3]
    # exactly-L run is flagged (boundary), L+1 alignment-shifted too
    exact_l = " ".join(f"t{i}" for i in range(50))
    tr2 = spark.createDataFrame(
        [(10, filler("x", 13) + " " + exact_l)], "doc_id long, text string")
    ev2 = spark.createDataFrame(
        [(200, exact_l + " " + filler("y", 5))], "doc_id long, text string")
    hit = exact_substring_overlaps(tr2, ev2, min_tokens=50).collect()
    assert len(hit) == 1 and hit[0]["overlap_tokens"] == 50
    with pytest.raises(ValueError, match="min_tokens"):
        exact_substring_overlaps(tr2, ev2, min_tokens=1)


def test_exact_substring_disjoint_runs_one_diagonal(spark):
    """r15 (ADVICE high): two disjoint shared runs on the SAME diagonal —
    an eval doc that differs from a train doc by one edited token — must
    not shadow each other. The old min(i)-per-diagonal collapse kept only
    the prefix run's anchor; when the prefix is < L its extension died at
    the edit and the >= L suffix run was silently missed."""
    from osm_pg_etl_spark.operators.dedup import (
        decontaminate_exact_substring, exact_substring_overlaps)

    base = [f"w{i}" for i in range(1, 121)]        # 120 tokens
    # edit token 30: prefix run = 29 tokens (seeds an anchor, dies < 50),
    # suffix run = 90 tokens (must be found)
    ev_toks = list(base)
    ev_toks[29] = "EDITED"
    train = spark.createDataFrame([(1, " ".join(base))],
                                  "doc_id long, text string")
    ev = spark.createDataFrame([(100, " ".join(ev_toks))],
                               "doc_id long, text string")
    out = exact_substring_overlaps(train, ev, min_tokens=50).collect()
    assert len(out) == 1
    assert out[0]["overlap_tokens"] == 90
    assert (out[0]["t_start"], out[0]["e_start"]) == (31, 31)
    assert decontaminate_exact_substring(train, ev, 50).count() == 0

    # both runs >= L on one diagonal: the MAXIMAL one must win
    ev2_toks = list(base)
    ev2_toks[59] = "EDITED"                        # runs of 59 and 60
    ev2 = spark.createDataFrame([(200, " ".join(ev2_toks))],
                                "doc_id long, text string")
    out2 = exact_substring_overlaps(train, ev2, min_tokens=50).collect()
    assert len(out2) == 1
    assert out2[0]["overlap_tokens"] == 60
    assert (out2[0]["t_start"], out2[0]["e_start"]) == (61, 61)


def test_remove_duplicate_spans(spark):
    """r14: within-corpus ExactSubstr span removal — the duplicated run
    is cut from the LATER occurrence only (keep-first by (doc, pos)),
    overlapping marked windows merge into one maximal span, docs below
    L tokens or with no duplicate pass through, and a within-doc repeat
    keeps its first copy."""
    import pytest

    from osm_pg_etl_spark.operators.dedup import remove_duplicate_spans

    run = " ".join(f"s{i}" for i in range(12))          # 12-token run
    filler = lambda p, k: " ".join(f"{p}{i}" for i in range(k))  # noqa: E731
    df = spark.createDataFrame([
        (1, filler("a", 3) + " " + run + " " + filler("b", 2)),
        (2, filler("c", 4) + " " + run),                 # later copy: cut
        (3, filler("d", 8)),                             # clean
        (4, run + " " + filler("e", 2) + " " + run),     # in-doc repeat
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           remove_duplicate_spans(df, min_tokens=10).collect()}
    # doc 1 holds the first occurrence: untouched
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == (filler("a", 3) + " " + run + " "
                                    + filler("b", 2)).lower()
    # doc 2's copy is cut as ONE merged span of exactly the run
    assert out[2]["n_spans"] == 1 and out[2]["n_removed"] == 12
    assert out[2]["clean_text"] == filler("c", 4).lower()
    assert out[3]["n_removed"] == 0 and out[3]["n_tokens"] == 8
    # doc 4: both copies duplicate doc 1's run -> both cut (doc 1 is
    # the global first), leaving only the filler between them
    assert out[4]["n_removed"] == 24 and out[4]["n_spans"] == 2
    assert out[4]["clean_text"] == filler("e", 2).lower()
    # keep-first WITHIN one doc: corpus where doc 4 is alone
    solo = spark.createDataFrame(
        [(9, run + " " + filler("e", 2) + " " + run)],
        "doc_id long, text string")
    o9 = remove_duplicate_spans(solo, min_tokens=10).collect()[0]
    assert o9["n_removed"] == 12   # second copy cut, first kept
    assert o9["clean_text"] == (run + " " + filler("e", 2)).lower()
    with pytest.raises(ValueError, match="min_tokens"):
        remove_duplicate_spans(df, min_tokens=1)


def test_dedup_against_reference(spark):
    """r13: cross-corpus MinHash dedup — a new-crawl doc near-duplicating
    a reference doc is flagged with its best match; unrelated docs keep;
    no new x new pairs are consulted."""
    from osm_pg_etl_spark.operators.dedup import dedup_against_reference

    new = spark.createDataFrame([
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "the quick brown fox jumps over the lazy cat"),
        (12, "completely unrelated text about spark engines"),
        (13, "the quick brown fox jumps over the lazy dog"),  # dup of 10
    ], "doc_id long, text string")
    ref = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "el gato y el perro en la casa"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_against_reference(
        new, ref, n=3, threshold=0.5).collect()}
    assert len(out) == 4
    assert not out[10]["kept"] and out[10]["ref_id"] == 1 \
        and out[10]["ref_jaccard"] == 1.0
    assert not out[13]["kept"] and out[13]["ref_id"] == 1
    assert out[12]["kept"] and out[12]["ref_id"] is None \
        and out[12]["ref_jaccard"] is None
    # 11 near-duplicates ref 1 (jaccard 0.75) but LSH capture at s=0.75
    # with 4 bands x 4 rows is probabilistic (~0.78): the CONTRACT is
    # no false flags — anything flagged must verify >= threshold with a
    # real reference doc — not perfect recall (exact dups, sharing all
    # bands, are always caught: docs 10/13 above)
    for r in out.values():
        if not r["kept"]:
            assert r["ref_jaccard"] >= 0.5 and r["ref_id"] in (1, 2)
        else:
            assert r["ref_id"] is None and r["ref_jaccard"] is None


def test_lit_double_array_bit_identical(spark):
    """_lit_double_array (one SQL-parsed expression) must produce the
    exact doubles of the per-element-literal path, including values
    whose decimal form is non-trivial to round-trip."""
    from osm_pg_etl_spark.operators.similarity import _lit_double_array

    vals = [0.1, -0.0, 1e-320, 2.0 ** 1023, 123456789.123456789,
            -1.7976931348623157e308, 5e-324, 0.30000000000000004]
    row = (spark.range(1)
           .select(_lit_double_array(vals).alias("a"),
                   F.array(*[F.lit(float(x)) for x in vals]).alias("b"))
           .collect()[0])
    assert all(
        (math.copysign(1.0, x) == math.copysign(1.0, y) and x == y)
        for x, y in zip(row["a"], row["b"]))


def test_lit_double_array_nonfinite_fallback(spark):
    """Non-finite values cannot ride SQL text — the helper must fall
    back to per-element literals and still deliver them."""
    from osm_pg_etl_spark.operators.similarity import _lit_double_array

    row = (spark.range(1)
           .select(_lit_double_array([1.0, float("nan"), float("inf")])
                   .alias("a")).collect()[0])
    assert row["a"][0] == 1.0
    assert math.isnan(row["a"][1])
    assert math.isinf(row["a"][2])
