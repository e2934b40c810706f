"""Deduplication operators for large-scale training-data pipelines.

Extensions beyond the reference surface (BASELINE.json north star). Four
families, each designed around Spark's shuffle model:

- **exact**: md5-groupBy. One shuffle on the 16-byte digest, map-side
  combinable; holds at any scale.
- **MinHash + LSH**: per-row signatures are narrow (no shuffle); the only
  shuffle is the band-bucket join, whose size is controlled by the band
  count. Candidate pairs are verified with exact Jaccard.
- **SimHash**: per-row bit signature (narrow), then banded bucketing like
  MinHash.
- **n-gram Jaccard**: exact all-pairs via an inverted shingle index — the
  classic explode→self-join; quadratic in bucket size, so intended for
  verification / small-candidate sets. The LSH path is the scale path.

All hashes are md5-derived (:mod:`..functions.hashing`) so results are
reproducible across engines and Spark versions — and checkable against a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_hex, md5_long
from ..sources.io import spread
from .text import tokens


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: groups of identical content. Returns one row per
    duplicated digest with the member count and the keeper (min id)."""
    return (df.select(md5_hex(text_col).alias("content_hash"), F.col(id_col))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("count"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("count") > 1))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct content digest."""
    keep = (df.select(md5_hex(text_col).alias("h"), F.col(id_col))
            .groupBy("h").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), id_col, "left_semi")


def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     sep_pattern: str = "\n{1,2}",
                     join_sep: str = "\n") -> DataFrame:
    """Exact PARAGRAPH-level dedup, keep-first: the C4/RefinedWeb
    boilerplate pass — a paragraph duplicated anywhere in the corpus
    (cookie banners, nav bars, license blurbs) survives only at its
    FIRST occurrence (lowest ``(doc_id, position)``); every later copy
    is cut and the documents are reassembled from their surviving
    paragraphs in original order.

    Returns (id_col, clean_text, n_paras, n_kept) for EVERY input row
    (a fully-boilerplate document comes back with ``clean_text = ''``
    and ``n_kept = 0``).

    Scale shape: posexplode paragraphs (narrow) → the global first
    occurrence per paragraph hash as a COMBINABLE aggregate
    (``groupBy(hash).agg(min(struct(id, pos)))`` — map-side partial
    aggregation collapses a viral paragraph to one row per input
    partition BEFORE the exchange, so the hot key never concentrates;
    a ``Window.partitionBy(hash)`` would put every occurrence of a
    corpus-wide cookie banner in ONE window partition, and AQE's skew
    handling splits joins and rebalanced shuffles, NOT window
    partitions) → an AQE-skew-splittable join back keeps the rows
    equal to their hash's minimum → one groupBy(id) to reassemble.
    Rows are skinny throughout — hash + id + position, never the text
    twice. Blank paragraphs (only separators between them) are dropped
    before ranking, like every public implementation of this pass."""
    paras = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), sep_pattern))
                       .alias("_pos", "_para"))
             .filter(F.trim(F.col("_para")) != "")
             .withColumn("_ph", md5_hex(F.col("_para")))
             # materialized once (lazily; no cache pin outlives the
             # query): the first-occurrence agg and the keep join prune
             # different columns, so their subplans canonicalize
             # differently and Spark will NOT reuse the exchange — the
             # split/hash scan would run per consumer (measured at
             # sf1). This is the exploded paragraph table an industrial
             # boilerplate pass persists anyway.
             .localCheckpoint(eager=False))
    first = (paras.groupBy("_ph")
             .agg(F.min(F.struct(F.col(id_col).alias("_fid"),
                                 F.col("_pos").alias("_fpos"))).alias("_f")))
    kept = (paras.join(first, "_ph")
            .filter((F.col(id_col) == F.col("_f._fid"))
                    & (F.col("_pos") == F.col("_f._fpos")))
            .groupBy(id_col)
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("_pos"), F.col("_para")))),
                    lambda s: s["_para"]), join_sep).alias("clean_text"),
                F.count(F.lit(1)).alias("n_kept")))
    totals = (paras.groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_paras")))
    return (df.select(id_col)
            .join(totals, id_col, "left")
            .join(kept.select(id_col, "clean_text", "n_kept"),
                  id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_paras", F.lit(0)).cast("int")
                    .alias("n_paras"),
                    F.coalesce("n_kept", F.lit(0)).cast("int")
                    .alias("n_kept")))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct lowercase word n-grams. Documents shorter than ``n`` tokens
    yield a single shingle of the whole (lowercased) token sequence, so no
    document silently drops out of the dedup graph."""
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.array_distinct(
        F.when(k >= n, grams).otherwise(F.array(F.array_join(toks, " "))))


MINHASH_P = 4294967311  # smallest prime > 2^32


def minhash_coefficients(num_hashes: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    ``h_i(x) = (a_i * base(x) + b_i) mod P`` — pure-python LCG so the family
    is identical in the DuckDB oracle (plans/datapipe.py imports these)."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 33) | 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (state >> 32) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature via ONE md5 per shingle plus a universal-hash
    family ``(a_i * h + b_i) mod P`` over the 32-bit base hash — the
    standard single-base-hash MinHash construction. Computed entirely
    per-row (array transform + array_min): adding signatures to a 100 TB
    table is a narrow map, and the md5 cost does not scale with
    ``num_hashes``. All arithmetic stays below 2^63 (a < 2^31, h < 2^32)
    so the mod is exact in any engine's BIGINT."""
    base = F.transform(shingles, lambda s: md5_long(s))

    def fam(a: int, b: int):
        # factory, not a default-arg lambda: pyspark's higher-order
        # functions bind one column per declared lambda parameter
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    mins = [F.array_min(F.transform(base, fam(a, b)))
            for a, b in minhash_coefficients(num_hashes)]
    return F.array(*mins)


def _band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: md5 of each band's slice of the signature, prefixed
    with the band index so buckets from different bands never collide."""
    keys = [F.concat_ws("|", F.lit(str(b)),
                        F.concat_ws(",", *[F.element_at(signature, b * rows_per_band + r + 1)
                                           for r in range(rows_per_band)]))
            for b in range(bands)]
    return F.array(*[F.md5(k) for k in keys])


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            num_hashes: int = 16, bands: int = 4,
                            threshold: float = 0.7) -> DataFrame:
    """MinHash/LSH near-dup pairs: shingle → signature (narrow) → band
    bucket join (the only shuffle) → exact-Jaccard verification of
    candidates. Returns (id_a, id_b, jaccard_sim) with id_a < id_b.

    Band/row geometry trades recall for shuffle volume: with b bands of r
    rows the capture probability is 1-(1-s^r)^b. Buckets are bounded by
    near-dup cluster size; a pathological bucket (e.g. empty docs) is
    handled by AQE skew-join splitting.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of bands ({bands}): "
            "trailing signature entries would be silently ignored, reducing "
            "recall below the documented 1-(1-s^r)^b capture probability")
    rows_per_band = num_hashes // bands
    # shingles feed the band join (twice, as both sides) and the Jaccard
    # verification: materialize once. cache() is MEMORY_AND_DISK — at
    # corpus scale this is the signature/shingle table an industrial
    # pipeline would persist anyway rather than recompute per consumer.
    sh = (spread(df.select(F.col(id_col), F.col(text_col)))
          .select(F.col(id_col), word_shingles(text_col, n).alias("_sh"))
          .cache())
    buckets = (sh.withColumn("_sig", minhash_signature(F.col("_sh"), num_hashes))
               .select(id_col, F.explode(
                   _band_keys(F.col("_sig"), bands, rows_per_band)).alias("bucket"))
               .cache())

    # bucket join carries only (id, bucket) — the shingle arrays are joined
    # back per *deduplicated* candidate pair, so a pair found by several
    # bands is verified once and no array data rides the exploded shuffle
    a = buckets.select(F.col(id_col).alias("id_a"), "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "bucket")
    cand = (a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b"))
    return (cand.join(sh_a, "id_a").join(sh_b, "id_b")
            .select("id_a", "id_b",
                    jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"))
            .filter(F.col("jaccard_sim") >= threshold))


def dedup_against_reference(df: DataFrame, reference: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            num_hashes: int = 16, bands: int = 4,
                            threshold: float = 0.5) -> DataFrame:
    """CROSS-CORPUS dedup: flag documents of ``df`` that are
    MinHash-near-duplicates of ANY document in ``reference`` — the pass
    a pipeline runs when folding a new crawl into a corpus already
    trained on, or screening against a benchmark/blocklist corpus.
    Corpora are expected id-disjoint (self-pairs are not special-cased).

    Same shingle→signature→band geometry as
    :func:`minhash_near_duplicates`, but the band-bucket join is
    ASYMMETRIC (new × reference): candidate volume is bounded by
    reference bucket occupancy, the reference side is typically the
    smaller precomputed signature table, and no new×new pairs are ever
    generated. Verification is exact Jaccard on the shingle sets,
    joined back per deduplicated candidate pair.

    Returns every ``df`` row as (id_col, kept, ref_id, ref_jaccard):
    ``kept`` is false when some reference doc reaches the threshold,
    with the best match (highest Jaccard, then lowest ref id) attached
    for audit; unmatched rows carry NULL ref columns.

    Both shingle tables are ``cache()``d intentionally — each feeds its
    band explode AND the Jaccard verification join, and at corpus scale
    these are the signature tables an industrial pipeline persists
    rather than recomputes (same contract as
    :func:`minhash_near_duplicates`). They stay pinned for the session;
    a caller screening many crawls against one reference should
    precompute the reference table once anyway, and can
    ``spark.catalog.clearCache()`` between unrelated corpora."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of bands "
            f"({bands})")
    rpb = num_hashes // bands

    def prep(d: DataFrame, alias: str):
        sh = (spread(d.select(F.col(id_col), F.col(text_col)))
              .select(F.col(id_col).alias(alias),
                      word_shingles(text_col, n).alias(f"_sh_{alias}"))
              .cache())
        buckets = (sh.withColumn(
            "_sig", minhash_signature(F.col(f"_sh_{alias}"), num_hashes))
            .select(alias, F.explode(
                _band_keys(F.col("_sig"), bands, rpb)).alias("bucket")))
        return sh, buckets

    sh_n, b_n = prep(df, "_id")
    sh_r, b_r = prep(reference, "_rid")
    cand = (b_n.join(b_r, "bucket")
            .select("_id", "_rid").distinct())
    ver = (cand.join(sh_n, "_id").join(sh_r, "_rid")
           .select("_id", "_rid",
                   jaccard(F.col("_sh__id"), F.col("_sh__rid"))
                   .alias("_j"))
           .filter(F.col("_j") >= threshold))
    best = (ver.groupBy("_id")
            .agg(F.max(F.struct(F.col("_j"), (-F.col("_rid")).alias("_nr")))
                 .alias("_b")))
    return (df.select(F.col(id_col))
            .join(best, F.col(id_col) == F.col("_id"), "left")
            .select(id_col,
                    F.col("_b").isNull().alias("kept"),
                    (-F.col("_b._nr")).alias("ref_id"),
                    F.round(F.col("_b._j"), 6).alias("ref_jaccard")))


def simhash(text: Column | str, bits: int = 32) -> Column:
    """SimHash fingerprint over lowercase tokens: per-bit majority vote of
    token-hash bits, packed into a long. Pure per-row expression.

    Single aggregate pass: the fold state is an array of ``bits`` vote
    counters updated with zip_with, so each token is md5-hashed exactly
    once. (The per-bit-aggregate formulation re-inlined the token hashing
    into every one of the 32 folds — ~32x the expression cost.)"""
    hashes = F.transform(F.transform(tokens(text), lambda t: F.lower(t)),
                         lambda t: md5_long(t))
    # bit extraction via exact power-of-two division (hash < 2^32 and 2^b
    # are exact doubles); F.shiftright rejects lambda columns, so divide by
    # a constant-folded array of 2^b literals instead
    pows = F.array(*[F.lit(float(1 << b)) for b in range(bits)])

    def bit_signs(h):
        return F.transform(pows, lambda p: F.when(
            (h / p).cast("long") % 2 == 1, F.lit(1)).otherwise(F.lit(-1)))

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, bit_signs(h), lambda a, s: a + s))
    weights = F.zip_with(
        votes, pows,
        lambda v, p: F.when(v > 0, p.cast("long")).otherwise(F.lit(0).cast("long")))
    return F.aggregate(weights, F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", bits: int = 32,
                            bands: int = 4, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the ``bits``-bit fingerprint into
    ``bands`` chunks (two fingerprints within ``bands-1`` bit flips share at
    least one chunk — pigeonhole), bucket-join on chunks, verify Hamming
    distance. Returns (id_a, id_b, hamming) with id_a < id_b."""
    if bits % bands:
        raise ValueError(
            f"bits ({bits}) must be a multiple of bands ({bands}): trailing "
            "fingerprint bits would be silently ignored, breaking the "
            "pigeonhole guarantee for max_hamming <= bands - 1")
    chunk = bits // bands
    mask = (1 << chunk) - 1
    sig = (spread(df.select(F.col(id_col), F.col(text_col)))
           .select(F.col(id_col), simhash(text_col, bits).alias("_sim"))
           .cache())
    keys = F.array(*[
        F.concat_ws("|", F.lit(str(b)),
                    (F.col("_sim") / F.lit(float(1 << (b * chunk))))
                    .cast("long") % F.lit(mask + 1))
        for b in range(bands)])
    buckets = sig.select(id_col, "_sim", F.explode(keys).alias("bucket"))
    a = buckets.select(F.col(id_col).alias("id_a"), F.col("_sim").alias("sim_a"), "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), F.col("_sim").alias("sim_b"), "bucket")
    return (a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted shingle index:
    explode shingles → self-join on shingle → |A∩B| per pair → Jaccard from
    per-doc shingle counts. Exact but quadratic in posting-list length —
    use as the verifier / oracle; MinHash-LSH is the scale path.

    ``max_doc_freq`` drops shingles whose posting list exceeds the cutoff
    (stopword runs, boilerplate) before the self-join — the standard
    mitigation for pathological posting lists on large corpora. Intersection
    counts then miss the dropped shingles while denominators keep them, so
    reported similarity is a lower bound; ``None`` (default) stays exact."""
    sh = (spread(df.select(F.col(id_col), F.col(text_col)))
          .select(F.col(id_col), word_shingles(text_col, n).alias("_sh"))
          .cache())
    sizes = sh.select(id_col, F.size("_sh").alias("_n"))
    inv = sh.select(id_col, F.explode("_sh").alias("shingle"))
    if max_doc_freq is not None:
        rare = (inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_doc_freq)
                .select("shingle"))
        inv = inv.join(rare, "shingle", "left_semi")
    a = inv.select(F.col(id_col).alias("id_a"), "shingle")
    b = inv.select(F.col(id_col).alias("id_b"), "shingle")
    common = (a.join(b, "shingle")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("_common")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
    return (common.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b",
                    (F.col("_common").cast("double")
                     / (F.col("_na") + F.col("_nb") - F.col("_common")))
                    .alias("jaccard_sim"))
            .filter(F.col("jaccard_sim") >= threshold))


def winnow_near_duplicates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 7,
                           window: int = 4, threshold: float = 0.5,
                           max_doc_freq: int | None = None) -> DataFrame:
    """Partial/local near-duplicate pairs from winnowing fingerprint overlap
    (the MOSS pipeline end-to-end): explode each document's winnow minima
    (:func:`..operators.text.winnow_fingerprints`) into an inverted index,
    self-join on fingerprint, score each pair by fingerprint-set Jaccard.

    Catches shared *passages* — any common substring of ``k + window - 1``
    normalized chars is guaranteed a shared fingerprint — where
    whole-document MinHash dilutes local overlap below its threshold.
    Winnowing keeps ~2/(window+1) of the k-gram hashes, so posting lists
    (and the self-join) are a fraction of :func:`ngram_jaccard_pairs`'s;
    ``max_doc_freq`` additionally drops boilerplate fingerprints whose
    posting list exceeds the cutoff before the join (similarity then reads
    as a lower bound, same contract as ``ngram_jaccard_pairs``)."""
    from .text import winnow_fingerprints

    fps = (spread(df.select(F.col(id_col), F.col(text_col)))
           .select(F.col(id_col),
                   winnow_fingerprints(text_col, k, window).alias("_fp"))
           .cache())
    sizes = fps.select(id_col, F.size("_fp").alias("_n"))
    inv = fps.select(id_col, F.explode("_fp").alias("f"))
    if max_doc_freq is not None:
        rare = (inv.groupBy("f").agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_doc_freq)
                .select("f"))
        inv = inv.join(rare, "f", "left_semi")
    a = inv.select(F.col(id_col).alias("id_a"), "f")
    b = inv.select(F.col(id_col).alias("id_b"), "f")
    common = (a.join(b, "f")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("_common")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
    return (common.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b",
                    (F.col("_common").cast("double")
                     / (F.col("_na") + F.col("_nb") - F.col("_common")))
                    .alias("winnow_jaccard"))
            .filter(F.col("winnow_jaccard") >= threshold))


def positioned_ngrams(text: Column | str, n: int = 8) -> Column:
    """Every n-token window of a document in order (duplicates kept,
    positions implied by index) — the unit of exact *substring* dedup, vs
    :func:`word_shingles`'s distinct set. Documents shorter than ``n``
    tokens have no window."""
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(k >= n, grams).otherwise(
        F.expr("CAST(array() AS array<string>)"))


def duplicate_ngram_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """Exact substring-duplication signal per document: of a document's
    ``n``-token windows, how many also appear verbatim in at least one
    *other* document (the train-set memorization risk exact-substring dedup
    removes).  Returns (id_col, n_windows, n_dup_windows, n_dup_grams,
    dup_frac).

    Scale shape — no self-join, no pair materialization:

    1. explode positioned windows, key them by md5 (fixed-width shuffle key;
       the gram text never shuffles);
    2. collapse to the (gram, doc) grid with per-doc multiplicities — one
       shuffle, map-side combinable;
    3. a combinable ``groupBy(gh).count()`` over the grid (one row per
       (gram, doc), so the count IS the doc count) marks grams seen in
       ≥2 docs, joined back gram-keyed — partial aggregation collapses
       a boilerplate 8-gram map-side and the join is AQE-skew-
       splittable, where a ``Window.partitionBy(gh)`` would buffer
       every posting of a common gram in one non-splittable partition;
    4. per-doc sums, left-joined back to every document (docs with no
       duplicated window report 0).
    """
    grid = (df.select(F.col(id_col),
                      F.explode(positioned_ngrams(text_col, n)).alias("_gram"))
            .select(id_col, md5_hex("_gram").alias("gh"))
            .groupBy("gh", id_col)
            .agg(F.count(F.lit(1)).alias("mult"))
            # materialized once (lazily): the doc-count branch prunes
            # `mult`, so its grid subplan canonicalizes differently
            # from the join branch's and Spark will NOT reuse the
            # aggregation exchange — without this the tokenize/gram/
            # md5 corpus scan runs per consumer (measured 9.7 s at
            # sf1 without the checkpoint, 5.3 s with it). The grid is the
            # narrow (gram-hash, doc, mult) posting table an
            # industrial dedup pass persists anyway.
            .localCheckpoint(eager=False))
    # the doc-count branch partial-aggregates before its exchange (a
    # hot gram collapses to one row per map task); the join back is a
    # plain gram-keyed equi-join AQE can skew-split.
    gh_docs = grid.groupBy("gh").agg(F.count(F.lit(1)).alias("_nd"))
    marked = grid.join(gh_docs, "gh")
    per_doc = (marked.groupBy(id_col)
               .agg(F.sum("mult").alias("n_windows"),
                    F.sum(F.when(F.col("_nd") > 1, F.col("mult"))
                          .otherwise(F.lit(0))).alias("n_dup_windows"),
                    F.count(F.when(F.col("_nd") > 1, F.lit(1)))
                    .alias("n_dup_grams")))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
                    F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
                    F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
                    F.when(F.coalesce("n_windows", F.lit(0)) > 0,
                           F.round(F.coalesce("n_dup_windows", F.lit(0))
                                   / F.col("n_windows"), 6))
                    .otherwise(F.lit(0.0)).alias("dup_frac")))


def _lcp(a: Column, b: Column) -> Column:
    """Longest common prefix length of two string arrays, as one Column
    expression: zip the arrays with an equality lambda (the longer side's
    tail zips against null → false) and take the index before the first
    mismatch; no mismatch means the shorter array is a full prefix."""
    z = F.zip_with(a, b, lambda x, y: x.isNotNull() & x.eqNullSafe(y))
    p = F.array_position(z, F.lit(False))
    return F.when(p > 0, p - 1).otherwise(
        F.least(F.size(a), F.size(b)).cast("long"))


def exact_substring_overlaps(train: DataFrame, eval_df: DataFrame,
                             min_tokens: int = 50,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Exact-substring decontamination report (Lee et al. 2022,
    arXiv:2107.06499 §4: drop any training example sharing a long
    verbatim token run with the eval set — their threshold 50 tokens):
    for every training document with a verbatim overlap of
    ``min_tokens`` or more whitespace tokens with ANY eval document,
    the maximal such overlap. Returns one row per contaminated
    (train, eval) pair: ``(id_col, eval_id, overlap_tokens, t_start,
    e_start)`` with 1-based token offsets of the maximal span
    (longest overlap wins; ties take the smallest t_start then
    e_start).

    Scale shape — a length-extending fingerprint join, never all-pairs
    and never an L-times token blowup:

    1. **Seed** with ``m = ceil((min_tokens + 1) / 2)``-token windows:
       the TRAIN side fingerprints only stride-``s`` start positions
       (``s = min_tokens - m + 1``, so ``m + s - 1 = min_tokens``);
       the EVAL side fingerprints every position. Any shared run of
       ``min_tokens`` tokens contains m-windows at ``s`` consecutive
       train starts, exactly one of which is stride-aligned — the
       guarantee is exact, not probabilistic. ``m`` is chosen so that
       ``s <= m``: windows at consecutive stride positions OVERLAP,
       which step 3 relies on. Train shuffle volume is one 32-byte
       digest per ``s`` tokens (~token volume at L=50, vs ``L x`` for
       exploding L-windows); the eval side is the small set by
       construction.
    2. **Join** train and eval fingerprints on the digest — a bucketed
       inverted-index equi-join; 26-token verbatim grams have no
       boilerplate skew worth salting.
    3. **Chain-start dedup**: anchors of one shared run lie on one
       diagonal ``i - j`` at consecutive stride positions, and because
       ``s <= m`` two matched anchors ``s`` apart certify a
       CONTIGUOUS matched range (their windows overlap, leaving no
       uncovered hole a mismatch could hide in) — so they provably
       belong to the same run, and dropping every anchor whose
       predecessor ``(i - s, j - s)`` also matched (one anti-join on
       the anchor pairs) keeps exactly one anchor per (pair, diagonal,
       run). Distinct runs on one diagonal each keep their own anchor
       — collapsing to ``min(i)`` per diagonal would lose every run
       after the first (e.g. an eval doc that differs from a train doc
       by one early token edit: the short prefix run would shadow the
       long suffix run).
    4. **Extend** each surviving anchor by anchored comparison: token
       arrays are equi-joined back for candidate docs only
       (semi-join-sized, not corpus-sized), and the overlap is
       ``lcp(reversed prefixes) + lcp(suffixes from the anchor start)``
       — the right lcp re-compares the anchor's own tokens, so a digest
       collision can never manufacture a match. (A digest collision at
       the predecessor position could in principle suppress an anchor
       in step 3; that requires an md5 collision between two distinct
       ~26-token texts, which has never been exhibited.)

    Oracle replay: every step is deterministic md5 + integer arithmetic;
    the DuckDB oracle recomputes the identical seeds, chain starts and
    extensions (gate ``exact_substring_decontam``)."""
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    m = (min_tokens + 2) // 2
    s = min_tokens - m + 1

    def anchors(d: DataFrame, out_id: str, stride: int,
                pos_name: str) -> DataFrame:
        toks = F.transform(tokens(text_col), lambda t: F.lower(t))
        base = (d.select(F.col(id_col).alias(out_id),
                         toks.alias("_w"))
                .filter(F.size("_w") >= m))
        starts = F.sequence(F.lit(1), F.size("_w") - (m - 1), F.lit(stride))
        gram = lambda i: F.array_join(F.slice("_w", i, m), " ")  # noqa: E731
        return (base.select(
            out_id,
            F.explode(F.transform(
                starts,
                lambda i: F.struct(i.alias(pos_name),
                                   md5_hex(gram(i)).alias("gh"))))
            .alias("_a"))
            .select(out_id, f"_a.{pos_name}", "_a.gh"))

    t_fp = anchors(spread(train), "_tid", s, "i")
    e_fp = anchors(eval_df, "_eid", 1, "j")
    pairs = (t_fp.join(e_fp, "gh")
             .select("_tid", "_eid",
                     (F.col("i") - F.col("j")).alias("_diag"), "i"))
    # chain-start anti-join: drop anchors whose stride predecessor on the
    # same diagonal also matched — with s <= m the two windows overlap, so
    # the predecessor's extension provably covers this anchor's run; one
    # extension per (pair, diagonal, run) survives, and disjoint runs on
    # a shared diagonal are each kept (min(i) would shadow all but the
    # first). Both sides are the same skinny pair table; AQE can
    # skew-split the anti-join if a pathological diagonal ever gets hot.
    prev = pairs.select("_tid", "_eid", "_diag",
                        (F.col("i") + F.lit(s)).alias("i"))
    cand = (pairs.join(prev, ["_tid", "_eid", "_diag", "i"], "left_anti")
            .select("_tid", "_eid", "i",
                    (F.col("i") - F.col("_diag")).alias("j")))

    def toks_of(d: DataFrame, out_id: str, arr: str) -> DataFrame:
        w = F.transform(tokens(text_col), lambda t: F.lower(t))
        return d.select(F.col(id_col).alias(out_id), w.alias(arr))

    big = F.lit(1 << 30)
    ext = (cand
           .join(toks_of(train, "_tid", "_tw"), "_tid")
           .join(toks_of(eval_df, "_eid", "_ew"), "_eid")
           .select(
               "_tid", "_eid", "i", "j",
               _lcp(F.reverse(F.slice("_tw", 1, F.col("i") - 1)),
                    F.reverse(F.slice("_ew", 1, F.col("j") - 1)))
               .alias("_left"),
               _lcp(F.slice("_tw", F.col("i"), big),
                    F.slice("_ew", F.col("j"), big)).alias("_right")))
    spans = (ext.select(
        "_tid", "_eid",
        (F.col("_left") + F.col("_right")).alias("_len"),
        (F.col("i") - F.col("_left")).alias("_ts"),
        (F.col("j") - F.col("_left")).alias("_es"))
        .filter(F.col("_len") >= min_tokens))
    best = (spans.groupBy("_tid", "_eid")
            .agg(F.max(F.struct(F.col("_len"), (-F.col("_ts")).alias("_nts"),
                                (-F.col("_es")).alias("_nes"))).alias("_b")))
    return best.select(
        F.col("_tid").alias(id_col), F.col("_eid").alias("eval_id"),
        F.col("_b._len").cast("bigint").alias("overlap_tokens"),
        (-F.col("_b._nts")).cast("bigint").alias("t_start"),
        (-F.col("_b._nes")).cast("bigint").alias("e_start"))


def decontaminate_exact_substring(train: DataFrame, eval_df: DataFrame,
                                  min_tokens: int = 50,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Training rows that survive exact-substring decontamination: drop
    every doc :func:`exact_substring_overlaps` flags (>= ``min_tokens``
    verbatim tokens shared with any eval doc), keep the rest — the
    published eval-leak removal pass, as one anti-join."""
    hits = exact_substring_overlaps(train, eval_df, min_tokens,
                                    text_col, id_col).select(id_col)
    return train.join(hits, id_col, "left_anti")


def remove_duplicate_spans(df: DataFrame, min_tokens: int = 50,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """WITHIN-corpus exact-substring dedup with span REMOVAL (Lee et
    al. 2022, arXiv:2107.06499 — ExactSubstr: cut every verbatim token
    run of ``min_tokens``+ that also occurs elsewhere in the corpus,
    keeping the first occurrence), via the window-marking construction
    the public deduplicate-text-datasets reproductions use: an
    L-token window is REMOVED from (doc, pos) iff the same window
    content has a lexicographically earlier occurrence (smaller doc id,
    or same doc and smaller position); a duplicated run of length >= L
    is covered by its marked windows exactly, and the kept (first)
    occurrence never marks itself. Removed windows merge into maximal
    spans per document; the text is rebuilt with covered tokens cut.

    Returns every input row as ``(id_col, clean_text, n_tokens,
    n_removed, n_spans)`` — unaffected docs pass through with
    ``n_removed = 0`` and their (whitespace-normalized) token join as
    ``clean_text``.

    Scale shape — the same grid discipline as
    :func:`duplicate_ngram_spans`, plus a per-document interval merge:

    1. one tokenize pass explodes ONE 16-byte md5 per token position
       (window text never shuffles; rows ~= token count, not L x);
    2. per-gram occurrence count and first occurrence are COMBINABLE
       aggregates — ``groupBy(gh).agg(count, min(struct(id, p)))`` —
       so a viral passage's gram collapses to one row per map task
       before the exchange, and the join back that marks later
       occurrences is a gram-keyed equi-join AQE can skew-split. (A
       ``Window.partitionBy(gh)`` here would buffer every occurrence
       of a hot gram in ONE window partition; AQE splits joins and
       rebalanced shuffles, not window partitions.) First-occurrence
       ordering is the exact lexicographic ``(doc_id, position)``
       struct — no packed key, no document-length or id-range limits;
    3. marked positions merge into spans with the classic island scan
       (running max of span ends) — a per-document window, bounded by
       document length like dedup_paragraphs' reassembly;
    4. spans collect to a per-doc array (merged-disjoint, so small) and
       one Column filter rebuilds the token stream — no row-Python."""
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    from pyspark.sql import Window  # noqa: PLC0415

    L = min_tokens
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    base = (spread(df.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), toks.alias("_w")))

    grams = F.when(
        F.size("_w") >= L,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - (L - 1)),
            lambda i: F.struct(
                i.alias("p"),
                md5_hex(F.array_join(F.slice("_w", i, L), " "))
                .alias("gh")))
    ).otherwise(F.expr(
        "CAST(array() AS array<struct<p:int,gh:string>>)"))
    pos = (base.select(F.col(id_col), F.explode(grams).alias("_g"))
           .select(id_col, F.col("_g.p").alias("p"),
                   F.col("_g.gh").alias("gh"))
           # materialized once (lazily): the stats agg and the
           # occurrence-marking join would otherwise each re-run the
           # tokenize/window/md5 explode (their pruned subplans do not
           # canonicalize equal, so no ReusedExchange). The posting
           # table is ~one 16-byte digest + (id, pos) per token —
           # the structure Lee et al.'s ExactSubstr implementation
           # materializes on disk at corpus scale too.
           .localCheckpoint(eager=False))
    stats = (pos.groupBy("gh")
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.min(F.struct(F.col(id_col).alias("_fid"),
                                 F.col("p").alias("_fp"))).alias("_f")))
    marked = (pos.join(stats.filter(F.col("_n") > 1), "gh")
              .filter((F.col(id_col) != F.col("_f._fid"))
                      | (F.col("p") != F.col("_f._fp")))
              .select(id_col, "p"))

    # island merge: a marked window [p, p+L) extends the current span
    # when p <= running-max-end; spans are maximal by construction
    wd = (Window.partitionBy(id_col).orderBy("p")
          .rowsBetween(Window.unboundedPreceding, -1))
    islands = (marked
               .withColumn("_pe", F.max(F.col("p") + L).over(wd))
               .withColumn("_new", F.when(
                   F.col("_pe").isNull()
                   | (F.col("p") > F.col("_pe")), 1).otherwise(0))
               .withColumn("_isl", F.sum("_new").over(
                   Window.partitionBy(id_col).orderBy("p")
                   .rowsBetween(Window.unboundedPreceding, 0))))
    spans = (islands.groupBy(id_col, "_isl")
             .agg(F.min("p").alias("s"),
                  (F.max("p") + F.lit(L - 1)).alias("e")))
    span_arr = (spans.groupBy(id_col)
                .agg(F.sort_array(F.collect_list(
                    F.struct(F.col("s"), F.col("e")))).alias("_spans"),
                    F.count(F.lit(1)).alias("n_spans"),
                    F.sum(F.col("e") - F.col("s") + 1).alias("n_removed")))

    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda sp: (i >= sp["s"]) & (i <= sp["e"]))
    kept_tokens = F.filter(
        F.transform(F.col("_w"),
                    lambda t, i: F.when(covered(i + 1), F.lit(None))
                    .otherwise(t)),
        lambda t: t.isNotNull())
    return (base.join(span_arr, id_col, "left")
            .select(
                id_col,
                F.when(F.col("_spans").isNull(), F.array_join("_w", " "))
                .otherwise(F.array_join(kept_tokens, " "))
                .alias("clean_text"),
                F.size("_w").cast("bigint").alias("n_tokens"),
                F.coalesce("n_removed", F.lit(0)).cast("bigint")
                .alias("n_removed"),
                F.coalesce("n_spans", F.lit(0)).cast("bigint")
                .alias("n_spans")))


def fuzzy_value_pairs(df: DataFrame, value_col: str,
                      max_dist: int = 3) -> DataFrame:
    """Blocked fuzzy (edit-distance) self-join for entity resolution: the
    near-matching pairs of *distinct* values of ``value_col``, with each
    value's row support.

    Scale shape: fuzzy matching runs on the distinct-value domain (the
    vocabulary — usually orders of magnitude smaller than the row count),
    never on rows; candidate pairs come from an equi-join on a blocking
    key (the first whitespace token), so the quadratic Levenshtein stage
    is confined to each block instead of all-pairs. This is the standard
    blocking design of record-linkage systems; swap the block key for
    phonetic/prefix keys as the domain requires.

    Returns (name_a, name_b, dist, n_a, n_b) with name_a < name_b.
    """
    vals = (df.groupBy(F.col(value_col).alias("name"))
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("blk", F.split("name", " ")[0]))
    a = vals.select(F.col("name").alias("name_a"), F.col("n").alias("n_a"),
                    "blk")
    b = vals.select(F.col("name").alias("name_b"), F.col("n").alias("n_b"),
                    "blk")
    return (a.join(b, "blk")
            .filter(F.col("name_a") < F.col("name_b"))
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= max_dist)
            .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"),
                    "n_a", "n_b"))
