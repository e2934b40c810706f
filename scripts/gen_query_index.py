"""Regenerate QUERIES.md: one row per registered gate query — name, module,
first docstring line, and whether it carries a value-hash oracle.

Usage: python scripts/gen_query_index.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from osm_pg_etl_spark.plans.registry import all_oracles, all_queries  # noqa: E402


# Fallback descriptions for gate functions whose wrapper has no docstring
# (the underlying operator carries the full one).
FALLBACK = {
    "anti_join": "LEFT ANTI join: customers with no orders (J4-J5)",
    "array_ops": "array first/last/reverse/contains over int-array column (P8, F2-F5)",
    "capped_sessions": "custom stateful sessionization via applyInPandasWithState batch path (§2.9)",
    "case_classify": "UPDATE-cascade compiled to a nested CASE column (P9-P10)",
    "dedup_exact": "exact duplicate groups by content hash, MIN(doc_id) canonical",
    "distinct_on": "DISTINCT ON (group) ORDER BY — max_by/top-1-per-group (A10, O3)",
    "embedding_neardup": "embedding-cosine near-duplicate pairs, LSH-bucketed",
    "filter_predicates": "3VL predicate pushdown set: IS NULL / != / IN / LIKE (P4-P7, S6)",
    "fingerprint_dupes": "normalization-fingerprint duplicate clusters (sorted distinct tokens, md5)",
    "first_int": "get_ints_from_text / first integer extraction (F1)",
    "group_count": "scan + group-count + decimal-exact sum over lineitem (A1, O1)",
    "haversine": "great-circle distance column math (F10-F12)",
    "impute_median": "UPDATE ... SET x = group median WHERE x IS NULL (S5, A3-A4, J6)",
    "lang_id": "stopword-ratio language ID per document",
    "median_by_group": "exact percentile-0.5 per group (A3)",
    "minhash_neardup": "MinHash+LSH banded near-dup pairs with exact Jaccard verify",
    "multi_group_count": "two-key group count (A2)",
    "ngram_jaccard": "word-shingle Jaccard similarity via inverted index",
    "osm_car_network": "car_network filter: highway present minus deny-list (reference parity)",
    "osm_directed_graph": "flagship: filter → split/merge → impute → directed edge list",
    "osm_merge_limits": "ways_merge_limits: per-way limit arrays incl. dead-end closure, exploded (J7, J10, W1-W6)",
    "osm_merged_network": "crown jewel: shared-node topology split + merge + MakeLine lengths",
    "osm_network_nodes": "network node promotion with degree (pgr_createTopology input)",
    "osm_pois": "POI extraction per entity kind and key (osm-explore parity)",
    "osm_shared_nodes": "nodes shared by ≥2 network ways — the topology split points (J9)",
    "pack_positions": "sequence-packing prefix sums over deterministic range buckets",
    "point_wkt": "POINT WKT export formatting (F11)",
    "quality_features": "per-doc quality signals: lengths, punct/upper/stopword ratios",
    "range_join": "equi + BETWEEN residual range join (J7)",
    "running_sums": "running / previous / total window sums per user (W1-W6)",
    "scalar_aggs": "scalar aggregate set: min/max/avg/count distinct (A11-A12)",
    "semi_join": "LEFT SEMI join: orders having a big lineitem (J2)",
    "session_window": "built-in session_window gap aggregation (§2.9)",
    "simhash": "64-bit SimHash fingerprints via one-pass bit votes",
    "simhash_neardup": "SimHash banded near-dup candidate pairs with Hamming verify",
    "similarity_topk": "brute-force cosine top-k over embeddings (ANN baseline)",
    "tag_explode": "hstore-style map explode to (key, value) frequencies (P3)",
    "tag_values": "single-key tag value summary over the props map (P1-P2)",
    "token_counts": "whitespace + BPE-ish token counts per document",
    "tumbling_window": "tumbling event-time window aggregation (§2.9)",
    "union_distinct": "UNION with distinct semantics incl. 3VL NULL dedup (set-U1)",
    "union_slices": "INSERT ... SELECT append slices then aggregate (S4, set-U2)",
    "weighted_median": "weighted median via running-sum windows (A5)",
    "weighted_median_by_group": "weighted median per group, window ≡ applyInPandas paths (A6)",
    "window_lag": "LAG/LEAD ordered windows (W1)",
    "zorder_values": "Morton/Z-order interleave values for multi-column layout",
    "salted_group_count": "two-phase salted aggregation for skewed keys",
    "salted_join": "salted skew join: replicated dim side, deterministic salt",
    "key_skew": "key-frequency skew profile of a join column",
    "interval_join": "event-time interval join (click→purchase attribution, §2.9)",
    "dedup_events": "watermark-deduplication batch equivalent (distinct-on)",
    "winnow_fingerprints": "MOSS winnowing fingerprints (rolling-hash windows, pandas_udf)",
    "winnow_neardup": "passage-level near-dup pairs from winnowing fingerprint overlap",
    "tfidf_top_terms": "top-k tf·idf characteristic terms per document",
    "pii_redact": "email/phone/IPv4 redaction chain with audit counts",
    "sliding_window": "overlapping sliding event-time windows (§2.9)",
    "osm_tag_keys": "tag-key frequency across entities (osm-explore parity)",
    "osm_explore_summary": "tags_summary catalog 5-shape union (osm-explore.sql parity)",
}


def first_line(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    if not doc:
        return ""
    # collapse the first sentence-ish chunk to one line
    head = doc.split("\n\n")[0].replace("\n", " ")
    head = " ".join(head.split())
    return head if len(head) <= 160 else head[:157] + "..."


def main() -> None:
    qs, os_ = all_queries(), all_oracles()
    n_rows_only = len(qs) - len(os_)
    cov = (f"{len(os_)} with value-hash DuckDB oracles, "
           f"{n_rows_only} rows-only" if n_rows_only else
           "every one with a value-hash DuckDB oracle")
    lines = [
        "# Query registry",
        "",
        f"{len(qs)} gate queries, {cov}. Regenerate with "
        "`python scripts/gen_query_index.py`.",
        "",
        "| query | module | oracle | what it checks |",
        "|---|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        mod = fn.__module__.rsplit(".", 1)[-1]
        desc = first_line(fn) or FALLBACK.get(name, "")
        lines.append(f"| `{name}` | {mod} | "
                     f"{'hash' if name in os_ else 'rows-only'} | {desc} |")
    with open("QUERIES.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"QUERIES.md: {len(qs)} queries")


if __name__ == "__main__":
    main()
