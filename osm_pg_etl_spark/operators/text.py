"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference surface (BASELINE.json north star): language
ID, token counting, document fingerprinting, quality features, tf·idf
terms, PII scrubbing and sequence packing/batching. Pure Column expressions
(JVM-side, whole-stage codegen) throughout — a 100 TB documents table never
leaves the executors and never crosses into Python — except
``winnow_fingerprints``, an Arrow-batched pandas UDF (see its docstring for
why the Column formulation loses).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Compact high-frequency stopword lists for n-gram/stopword language ID and
# the stopword-ratio signal.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "a"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "que", "est"),
    "de": ("der", "die", "und", "das", "ist", "von", "den", "mit", "zu", "ein"),
}

_WORD_SPLIT = "\\s+"
# BPE-ish tokenization: letter runs, digit runs, or single non-space symbols.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empty strings removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, _WORD_SPLIT), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: letter runs + digit runs + punctuation
    symbols counted separately (a cheap, deterministic stand-in for a BPE
    tokenizer's length signal)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def detect_language(text: Column | str) -> Column:
    """Heuristic language ID: the language whose stopword ratio is highest;
    'und' when no stopwords hit at all. Deterministic tie-break by language
    code order via greatest-of-structs."""
    scored = [F.struct(stopword_ratio(text, lang).alias("score"),
                       F.lit(lang).alias("lang"))
              for lang in sorted(STOPWORDS, reverse=True)]
    best = F.greatest(*scored)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: length, token count, mean word length,
    punctuation ratio, uppercase ratio, stopword ratio. The standard cheap
    pre-filter stage before expensive dedup/model scoring."""
    c = F.col(text_col)
    n_chars = F.length(c)
    toks = tokens(c)
    n_tok = F.size(toks)
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        F.when(n_tok > 0,
               F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
               .cast("double") / n_tok).otherwise(F.lit(0.0)).alias("q_mean_word_len"),
        (F.length(F.regexp_replace(c, "[^.,;:!?'\"()\\[\\]{}-]", ""))
         .cast("double") / F.greatest(n_chars, F.lit(1))).alias("q_punct_ratio"),
        (F.length(F.regexp_replace(c, "[^A-Z]", ""))
         .cast("double") / F.greatest(n_chars, F.lit(1))).alias("q_upper_ratio"),
        stopword_ratio(c).alias("q_stopword_ratio"),
    )


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf·idf
    (idf = ln(N / df_t)); ties break alphabetically. Two aggregations —
    (doc, term) counts and term document-frequency — plus one broadcastable
    join: the inverted-index shape that scales to any corpus.

    Returns (id_col, term, tf, df_docs, score)."""
    # ONE data-sized exchange for the whole query: repartition the
    # RAW DOCUMENTS by id up front. Everything downstream then needs no
    # further big-side exchange — HashPartitioning(id) satisfies the
    # ClusteredDistribution of groupBy(id, term) AND of the final
    # row_number window, and the one Exchange node is REUSED by both of
    # its consumers (the broadcast df_docs subtree and the scored join),
    # so the parquet scan runs once and nothing is persisted/pinned.
    # Tokenization runs twice (once per consumer of the reused shuffle
    # output) — deliberately traded for dropping BOTH the (id, term)
    # partial-agg exchange and the window's re-shuffle of tf, plus the
    # materialization cost of persisting tf. doc_id is a uniform key, so
    # the exchange has none of the term-key skew ("the" on one reducer)
    # that keeps the window-by-term plan off the table at corpus scale.
    #
    # Interleaved A/B (sf1 replicas, 5 reps each, DuckDB alongside):
    # this plan 1.15 s (1.56x DuckDB) vs the persist-tf plan 2.18 s
    # (2.95x), no-persist 1.69 s, repartition-after-explode 1.33 s —
    # shuffling whole docs (one row per doc) moves fewer bytes than
    # shuffling exploded tokens and keeps partial tokenize/explode work
    # partition-local. Recorded in SCALING.md.
    #
    # lower() the whole document BEFORE split/explode: one bulk pass per
    # doc instead of one call per token (equivalent — lowercasing never
    # creates or removes whitespace, so split boundaries are unchanged;
    # measured -12% on the sf0.1 corpus, 5 interleaved reps)
    toks = (df.repartition(F.col(id_col))
            .select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term")))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # df_docs is vocabulary-sized — broadcast it back so the big tf table
    # is never shuffled by term (a sort-merge join was 4-5x slower);
    # hot terms stay harmless: the groupBy's map-side combine collapses
    # each partition to distinct terms before its shuffle
    dfreq = (tf.groupBy("term")
             .agg(F.count(F.lit(1)).alias("df_docs")))   # docs containing term
    # corpus size as a broadcast one-row join, not a separate df.count()
    # action — the whole computation stays one job (empty docs still count)
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score",
                          F.col("tf") * F.log(F.col("_n") / F.col("df_docs")))
              .drop("_n"))
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "term")
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(id_col, "term", "tf", "df_docs",
                    F.round("score", 6).alias("score")))


# PII scrubbing — regex dialect kept to the Java ∩ RE2 common subset
# (no backslash classes) so Spark and the DuckDB oracles match exactly.
# Replacement order matters and is fixed: email first (so phone/ip never
# see an address's digits), then phone, then ipv4.
PII_PATTERNS = (
    ("EMAIL", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"),
    ("PHONE", "[0-9]{1,3}[-][0-9]{2,4}[-][0-9]{3,4}[-][0-9]{3,4}"),
    ("IPV4", "([0-9]{1,3}[.]){3}[0-9]{1,3}"),
)


def redact_pii(text: Column | str) -> Column:
    """Replace emails / phone numbers / IPv4 literals with ``<KIND>``
    placeholder tokens — the standard scrub pass before training-data
    release. Pure JVM regexp_replace chain, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    for kind, pattern in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, f"<{kind}>")
    return c


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Match counts per PII kind (on the *unredacted* text), for audit
    metrics alongside the scrub."""
    c = F.col(text) if isinstance(text, str) else text
    return {kind: F.size(F.regexp_extract_all(c, F.lit(pattern), 0))
            for kind, pattern in PII_PATTERNS}


# Unambiguous tracking params only. ``ref=`` is deliberately NOT here:
# it is frequently semantic (VCS branch refs, referrer-dependent content)
# and stripping it collapsed genuinely distinct documents into one dedup
# group. Pass a custom tuple to strip more.
_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "msclkid=")


def canonicalize_url(url: Column | str,
                     tracking_prefixes: tuple[str, ...] = _TRACKING_PREFIXES
                     ) -> Column:
    """Canonical form of a URL for source-level dedup — the
    normalization every web-crawl pipeline runs before grouping by URL
    (a page fetched as ``HTTP://Host:80/a/?utm_source=x`` and
    ``http://host/a`` is one document, not two):

    - scheme and host lowercased; default ports (``:80`` http,
      ``:443`` https) stripped;
    - fragment dropped;
    - path: trailing slashes trimmed (bare root stays ``/``);
    - query: tracking params removed (``tracking_prefixes``, default
      ``utm_*``/``fbclid``/``gclid``/``msclkid``), the rest sorted so
      parameter order never splits a group; an emptied query drops its
      ``?``;
    - non-hierarchical inputs (no ``scheme://`` — ``mailto:``,
      scheme-less ``www.x.com/a``, empty strings) pass through VERBATIM
      instead of collapsing into a shared mangled ``"://..."`` form
      that would merge unrelated malformed URLs into one dedup group.

    Pure JVM Column chain (regexp extracts + array ops, no UDF), with a
    1:1 DuckDB translation in the ``url_canonical_dedup`` oracle — both
    engines normalize byte-identically, so dedup groups hash-match."""
    raw = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(raw, "#.*", "")                  # fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[^:]+://([^/?#]*)", 1))
    host = (F.when((scheme == "http") & host.endswith(":80"),
                   F.substring(host, F.lit(1), F.length(host) - 3))
            .when((scheme == "https") & host.endswith(":443"),
                  F.substring(host, F.lit(1), F.length(host) - 4))
            .otherwise(host))
    path = F.regexp_extract(u, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    def _tracking(p: Column) -> Column:
        cond = F.lit(False)
        for pre in tracking_prefixes:
            cond = cond | p.startswith(pre)
        return cond

    keep = F.array_sort(F.filter(F.split(query, "&"),
                                 lambda p: (p != "") & ~_tracking(p)))
    qtail = F.when(F.size(keep) > 0,
                   F.concat(F.lit("?"), F.array_join(keep, "&"))) \
        .otherwise(F.lit(""))
    canonical = F.concat(scheme, F.lit("://"), host, path, qtail)
    return F.when(scheme != "", canonical).otherwise(raw)


def fingerprint(text: Column | str) -> Column:
    """Normalization fingerprint: lowercase, collapse whitespace, sort the
    distinct tokens, md5. Robust to reordering/duplication — the classic
    key for clustering near-identical short documents."""
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    normalized = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return F.md5(normalized)


# Winnowing constants: polynomial rolling-hash base/modulus, chosen so every
# intermediate fits comfortably in 32 bits (max code 122 × max power < 2^27,
# k-term sum < 2^30) — identical integer arithmetic on any engine, which is
# what makes the DuckDB oracle value-exact.
WINNOW_BASE = 257
WINNOW_MOD = 1_048_573  # largest prime < 2^20


def _winnow_one(text: str | None, k: int, window: int) -> list[int]:
    """Winnow a single document; pure-numpy, O(n) in document length."""
    import re

    import numpy as np

    if not text:
        return []
    norm = re.sub("[^a-z0-9]", "", text.lower())
    n = len(norm)
    if n < k:
        return []
    codes = np.frombuffer(norm.encode("ascii"), dtype=np.uint8).astype(np.int64)
    pows = np.array([pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD)
                     for j in range(k)], dtype=np.int64)
    grams = np.lib.stride_tricks.sliding_window_view(codes, k)
    hashes = (grams @ pows) % WINNOW_MOD  # max 122·2^20·7 < 2^30: no overflow
    if len(hashes) < window:
        return [int(hashes.min())]
    minima = np.min(
        np.lib.stride_tricks.sliding_window_view(hashes, window), axis=1)
    return np.unique(minima).tolist()


_winnow_udfs: dict[tuple[int, int], Column] = {}


def winnow_fingerprints(text: Column | str, k: int = 7,
                        window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS algorithm): normalize to ``[a-z0-9]``, hash every character
    k-gram with a polynomial rolling hash, then keep the minimum hash of
    each ``window`` consecutive k-grams. The selected minima are a
    position-robust fingerprint *set*: any shared substring of length
    ``k + window - 1`` guarantees a shared fingerprint, so overlap of the
    sets detects partial/local duplication that whole-document hashing
    misses.

    Implemented as an Arrow-batched pandas UDF (sliding-window matmul in
    numpy, O(n) per document, no shuffle — per-document narrow compute that
    parallelizes by partition). A pure-Column higher-order-function
    formulation was measured and rejected: Catalyst re-evaluates expressions
    captured by nested lambdas once per element, turning the k-gram slice
    chain into O(n³) per row. The modulus keeps every intermediate in 32
    bits, so the arithmetic — and therefore the DuckDB oracle — is
    value-exact on any engine.

    Returns the sorted distinct minima as a bigint array. Documents with
    fewer than ``k`` usable characters yield an empty set; with fewer than
    ``k + window - 1``, the single global minimum (the standard short-input
    degeneration)."""
    c = F.col(text) if isinstance(text, str) else text
    if (k, window) not in _winnow_udfs:
        def fn(s, _k=k, _w=window):
            return s.map(lambda t: _winnow_one(t, _k, _w))
        _winnow_udfs[(k, window)] = F.pandas_udf(fn, "array<bigint>")
    return _winnow_udfs[(k, window)](c)


def pack_positions(df: DataFrame, capacity: int, text_col: str = "text",
                   id_col: str = "doc_id",
                   token_col: str | None = None,
                   boundaries: list | None = None) -> DataFrame:
    """Concat-and-cut sequence-packing bookkeeping: documents are laid out
    end to end in ``id_col`` order and the token stream is cut into
    training sequences of ``capacity`` tokens (the standard GPT-style
    packing layout, where documents straddle sequence boundaries). Returns
    per document::

        (id_col, n_tokens, start_pos, seq_start, seq_offset, seq_end)

    — the document's absolute token offset, the sequence index + in-sequence
    offset where it begins, and the sequence where it ends (zero-token
    documents get ``seq_end = seq_start``). From this table both the
    packer's shard assignments and attention-mask document boundaries are
    direct lookups.

    Scale shape: the global exclusive prefix sum over token counts uses the
    same construction as the distributed ``weighted_median`` /
    ``create_topology`` — deterministic ordered id-buckets (pure function
    of the data, ``functions.partitioning``), per-bucket running sum,
    broadcast cumulative bucket offsets. No single-partition window, no
    Python; all integer arithmetic (``div``), exact at any corpus size, and
    stable across re-evaluations/partitionings (round-2 fix: the previous
    cache-pinned ``spark_partition_id()`` bucket could shift if the range
    exchange was recomputed).

    ``boundaries`` (sorted id keys, e.g. a saved ``range_boundaries``
    result) skips the two boundary-sampling scans — pass it when packing
    repeatedly over the same corpus or when table statistics already
    exist.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    n = F.col(token_col) if token_col else token_count(text_col)
    base = df.select(F.col(id_col), n.cast("long").alias("_n"))
    from pyspark.sql import Window  # noqa: PLC0415

    from ..functions.partitioning import (  # noqa: PLC0415
        bucket_of, range_boundaries)

    if boundaries is None:
        # only id_col survives column pruning into the two sampling
        # scans, so tokenization does NOT run there
        boundaries = range_boundaries(base, id_col)
    # lazily local-checkpointed: bucketed feeds BOTH the offsets
    # aggregate and the join big side — without it the tokenize scan
    # runs twice. The materialized set is narrow (id, token count,
    # bucket id), a tiny fraction of the corpus it summarizes, so this
    # holds at any scale; localCheckpoint (not persist) so no cache pin
    # outlives the query (test_no_cache_left_behind).
    bucketed = base.withColumn("_pid", bucket_of(id_col, boundaries)) \
        .localCheckpoint(eager=False)
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (bucketed.groupBy("_pid").agg(F.sum("_n").alias("_c"))
            .select("_pid", F.coalesce(F.sum("_c").over(w_off),
                                       F.lit(0)).alias("_off")))
    w_local = Window.partitionBy("_pid").orderBy(id_col)
    local_prev = F.coalesce(
        F.sum("_n").over(w_local.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0))
    out = (bucketed.join(F.broadcast(offs), "_pid")
           .select(id_col, "_n",
                   (local_prev + F.col("_off")).alias("start_pos")))
    last = F.col("start_pos") + F.greatest(F.col("_n"), F.lit(1)) - 1
    return out.select(
        id_col, F.col("_n").alias("n_tokens"), "start_pos",
        F.expr(f"start_pos div {capacity}").alias("seq_start"),
        (F.col("start_pos") % capacity).alias("seq_offset"),
        last.alias("_last")
    ).withColumn("seq_end", F.expr(f"_last div {capacity}")).drop("_last")


def length_batches(df: DataFrame, budget: int, text_col: str = "text",
                   id_col: str = "doc_id",
                   boundaries: list | None = None) -> DataFrame:
    """Length-bucketed fixed-shape batching: documents are grouped into
    power-of-two token-length buckets, and each bucket is cut (in id
    order) into batches of ``docs_per_batch = max(budget >> (bucket+1), 1)``
    documents — so every batch's padded token footprint
    (docs_per_batch × 2^(bucket+1)) stays ≤ ``budget``. The standard
    padded-batch construction for training on variable-length sequences:
    same-magnitude docs share a batch, padding waste < 50%.

    Returns (id_col, n_tokens, bucket, batch_in_bucket, docs_per_batch);
    a batch is identified by (bucket, batch_in_bucket).

    Scale shape: the within-bucket rank does NOT use a per-bucket global
    window (a handful of buckets = a handful of reducers — the skew that
    kills at corpus scale). Instead the same deterministic id-range-bucket
    prefix-sum as :func:`pack_positions`: per (bucket, range-chunk) counts,
    broadcast cumulative offsets, rank = offset + local row_number — every
    window partition is bounded by the range-chunk size, and the result is
    a pure function of the data."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window  # noqa: PLC0415

    from ..functions.partitioning import (  # noqa: PLC0415
        bucket_of, range_boundaries)

    n = token_count(text_col).cast("long")
    base = df.select(F.col(id_col), n.alias("n_tokens")).withColumn(
        "bucket",
        F.floor(F.log2(F.greatest(F.col("n_tokens"), F.lit(1))
                       .cast("double"))).cast("int"))
    if boundaries is None:
        # id-only sampling scans: column pruning drops the tokenizer
        boundaries = range_boundaries(base, id_col)
    # lazily local-checkpointed for the same reason as pack_positions:
    # the offsets aggregate and the join big side would otherwise
    # tokenize twice; the set is (id, n_tokens, bucket, _pid) — narrow —
    # and localCheckpoint leaves no cache pin behind
    bucketed = base.withColumn("_pid", bucket_of(id_col, boundaries)) \
        .localCheckpoint(eager=False)
    w_off = (Window.partitionBy("bucket").orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = (bucketed.groupBy("bucket", "_pid")
            .agg(F.count(F.lit(1)).alias("_c"))
            .select("bucket", "_pid",
                    F.coalesce(F.sum("_c").over(w_off), F.lit(0))
                    .alias("_off")))
    w_local = Window.partitionBy("bucket", "_pid").orderBy(id_col)
    per_batch = F.greatest(
        F.expr(f"{budget} div shiftleft(1, bucket + 1)").cast("long"),
        F.lit(1).cast("long"))
    return (bucketed.join(F.broadcast(offs), ["bucket", "_pid"])
            .withColumn("_rank",
                        F.col("_off") + F.row_number().over(w_local) - 1)
            .withColumn("docs_per_batch", per_batch)
            .select(id_col, "n_tokens", "bucket",
                    F.expr("_rank div docs_per_batch")
                    .alias("batch_in_bucket"),
                    "docs_per_batch"))


