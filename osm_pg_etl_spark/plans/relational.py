"""Driver-checkable queries: one per relational operator family of
SURVEY §2, phrased over the driver's synthetic tables (FIXTURES.md §B
mapping). Every query has a DuckDB oracle with identical column aliases.

Naming: q<nn>_<operator-slug>; the SURVEY §2 ids covered are noted on each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrays import array_first, array_last, first_int
from ..functions.geo import haversine_km, point_wkt
from ..operators.network import compile_update_cascade
from ..operators.stats import weighted_median
from .common import davg, dsum, sql_davg, sql_dsum, t


# --- A1/O1: group-count summary (the osm-explore table shape) ---------------

def q_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("count"),
                 dsum("l_quantity").alias("sum_qty"))
            .orderBy(F.desc("count"), "l_returnflag"))


SQL_GROUP_COUNT = f"""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS count,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY l_returnflag ORDER BY count DESC, l_returnflag
"""

# --- A2: multi-key group count ----------------------------------------------

def q_multi_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), "l_returnflag", "l_linestatus"))


SQL_MULTI_GROUP_COUNT = """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS count
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY count DESC, l_returnflag, l_linestatus
"""

# --- P1/P2 + A1: tag-map value summary (events.props as the hstore) ---------

def q_tag_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the single key with ``get_json_object`` (a targeted
    JSON-path walk, the same shape as the oracle's
    ``json_extract_string``) instead of ``from_json`` into a full
    map<string,string> — parsing every key/value of every row into a
    per-row HashMap just to read one entry was the dominant per-row
    cost (A/B at sf0.1, 7-rep noop median: 0.72 s → 0.55 s). Key
    present with JSON-null value extracts as NULL and is filtered,
    exactly DuckDB's json_extract_string semantics."""
    ev = t(spark, sf_dir, "events")
    v = F.get_json_object("props", "$.k")
    return (ev.select(v.alias("value"))
            .filter(F.col("value").isNotNull())
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), "value"))


SQL_TAG_VALUES = """
SELECT json_extract_string(props, '$.k') AS value, CAST(COUNT(*) AS BIGINT) AS count
FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY 1 ORDER BY count DESC, value
"""

# --- P3 + A2: explode the tag map, (key, value) frequency --------------------

def q_tag_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    tags = F.from_json("props", "map<string,string>")
    return (ev.select(F.explode(tags).alias("tag", "value"))
            .groupBy("tag", "value")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), "tag", "value"))


SQL_TAG_EXPLODE = """
SELECT k AS tag, json_extract_string(props, '$."' || k || '"') AS value,
       CAST(COUNT(*) AS BIGINT) AS count
FROM (SELECT unnest(json_keys(props)) AS k, props FROM events)
GROUP BY 1, 2 ORDER BY count DESC, tag, value
"""

# --- A3/A4: exact median by group -------------------------------------------

def q_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty")))


SQL_MEDIAN_BY_GROUP = """
SELECT l_returnflag,
       ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS median_qty
FROM lineitem GROUP BY l_returnflag
"""

# --- A5 (+W2-W5): weighted median, whole table -------------------------------

def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    wm = weighted_median(li, x="l_quantity", w="l_extendedprice")
    return wm.select(F.round("weighted_median", 6).alias("weighted_median"))


_WM_WINDOWS = """
    SELECT {part_cols} l_quantity AS x,
           SUM(CAST(COALESCE(l_extendedprice, 0) AS DECIMAL(28,6)))
             OVER ({part} ORDER BY l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum,
           COALESCE(SUM(CAST(COALESCE(l_extendedprice, 0) AS DECIMAL(28,6)))
             OVER ({part} ORDER BY l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevsum,
           SUM(CAST(COALESCE(l_extendedprice, 0) AS DECIMAL(28,6)))
             OVER ({part_only}) AS total
    FROM lineitem
"""

SQL_WEIGHTED_MEDIAN = f"""
WITH wm AS ({_WM_WINDOWS.format(part_cols="", part="", part_only="")})
SELECT ROUND(AVG(x), 6) AS weighted_median
FROM wm WHERE total / 2 BETWEEN prevsum AND runsum
"""

# --- A6: weighted median by group --------------------------------------------

def q_weighted_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    wm = weighted_median(li, x="l_quantity", w="l_extendedprice",
                         group_cols=["l_returnflag"])
    return wm.select("l_returnflag",
                     F.round("weighted_median", 6).alias("weighted_median"))


SQL_WEIGHTED_MEDIAN_BY_GROUP = f"""
WITH wm AS ({_WM_WINDOWS.format(part_cols="l_returnflag,",
                                part="PARTITION BY l_returnflag",
                                part_only="PARTITION BY l_returnflag")})
SELECT l_returnflag, ROUND(AVG(x), 6) AS weighted_median
FROM wm WHERE total / 2 BETWEEN prevsum AND runsum
GROUP BY l_returnflag
"""

# --- J2: semi-join ------------------------------------------------------------

def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") > 49).select(
        F.col("l_orderkey").alias("o_orderkey"))
    return (orders.join(big, "o_orderkey", "left_semi")
            .select("o_orderkey", "o_orderstatus"))


SQL_SEMI_JOIN = """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
"""

# --- J4/J5: anti-join ----------------------------------------------------------

def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (cust.join(orders.select(F.col("o_custkey").alias("c_custkey")),
                      "c_custkey", "left_anti")
            .select("c_custkey", "c_mktsegment"))


SQL_ANTI_JOIN = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""

# --- J7: range join (equi key + BETWEEN residual) ------------------------------

def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band condition depends only on values derivable from the
    lineitem side (``bottom`` is a literal, ``top`` is a pure function of
    the join key), so it is applied as a scan-level filter on the fact
    table BEFORE the join instead of as a join residual — fewer rows
    reach the join (and, at scale, the exchange), and the broadcast side
    narrows to (key, priority). Guide §3.2's shrink-the-big-side-first,
    with an exact predicate instead of a Bloom filter. A/B at sf0.1,
    7-rep noop median: 0.48 s → 0.44 s; identical rows."""
    orders, li = t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    pre = (li.filter((F.col("l_linenumber") >= F.lit(2))
                     & (F.col("l_linenumber")
                        <= F.col("l_orderkey") % 5 + 2))
           .select("l_orderkey", "l_quantity"))
    limits = orders.select("o_orderkey", "o_orderpriority")
    joined = pre.join(limits, pre["l_orderkey"] == limits["o_orderkey"])
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("count"),
                 dsum("l_quantity").alias("sum_qty")))


SQL_RANGE_JOIN = f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS count,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  AND l_linenumber BETWEEN 2 AND o_orderkey % 5 + 2
GROUP BY o_orderpriority
"""

# --- J6/S5: join-update median imputation --------------------------------------

def q_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # treat 0-discount as missing, impute the per-returnflag median discount
    with_null = li.withColumn(
        "disc", F.when(F.col("l_discount") > 0, F.col("l_discount")))
    med = with_null.groupBy("l_returnflag").agg(
        F.percentile("disc", F.lit(0.5)).alias("_med"))
    imputed = (with_null.join(F.broadcast(med), "l_returnflag", "left")
               .withColumn("disc", F.coalesce("disc", "_med")))
    return (imputed.groupBy("l_returnflag")
            .agg(dsum("disc", 6).alias("sum_disc"),
                 F.count(F.lit(1)).alias("count")))


SQL_IMPUTE_MEDIAN = f"""
WITH wn AS (SELECT l_returnflag,
                   CASE WHEN l_discount > 0 THEN l_discount END AS disc
            FROM lineitem),
med AS (SELECT l_returnflag, quantile_cont(disc, 0.5) AS m FROM wn GROUP BY 1)
SELECT wn.l_returnflag, {sql_dsum('COALESCE(disc, m)', 6)} AS sum_disc,
       CAST(COUNT(*) AS BIGINT) AS count
FROM wn LEFT JOIN med ON wn.l_returnflag = med.l_returnflag
GROUP BY wn.l_returnflag
"""

# --- A10/O3/W6: DISTINCT ON (top-1 per key) -------------------------------------

def q_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (orders.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("o_custkey", F.col("o_orderkey").alias("latest_orderkey"),
                    F.col("o_totalprice").alias("latest_price")))


SQL_DISTINCT_ON = """
SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice AS latest_price
FROM orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""

# --- W1: lag with default -------------------------------------------------------

def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.round(F.col("value") - F.lag("value", 1, 0.0).over(w), 6).alias("delta"))


SQL_WINDOW_LAG = """
SELECT event_id,
       ROUND(value - LAG(value, 1, 0.0) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id), 6) AS delta
FROM events
"""

# --- W2/W3/W4/W5: running-sum window frames --------------------------------------

def q_running_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE running decimal sum instead of three overlapping decimal
    aggregators. ``prev_sum`` = the previous row's running sum =
    ``lag(run)`` (NULL at the partition head, exactly the empty-frame
    SUM; on a NULL-value row run(i)=run(i-1), exactly SUM(1..i-1));
    ``total`` = the partition's final running sum = ``last(run)`` over
    the unbounded frame (decimal addition is exact, so prefix-at-end ==
    whole-partition SUM bit-for-bit); ``last_value`` over a
    CURRENT-ROW-ending frame with ignorenulls=False is the row's own
    value. Plan: 2 Window nodes over one exchange+sort (lag and last
    share the second spec) and a single per-row decimal accumulator.
    A/B at sf0.1, 7-rep noop median: 0.43 s → 0.35 s; identical rows."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dec = F.col("value").cast("decimal(28,6)")
    run = F.sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0))
    base = ev.select("event_id", "user_id", "ts", "value",
                     run.alias("_run"))
    prev = F.lag("_run").over(w)
    total = F.last("_run").over(w.rowsBetween(Window.unboundedPreceding,
                                              Window.unboundedFollowing))
    return base.select(
        "event_id",
        F.round(F.col("_run").cast("double"), 4).alias("run_sum"),
        F.round(prev.cast("double"), 4).alias("prev_sum"),
        F.round(total.cast("double"), 4).alias("total"),
        F.round(F.col("value"), 4).alias("last_value"))


SQL_RUNNING_SUMS = """
SELECT event_id,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS run_sum,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE), 4) AS prev_sum,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id) AS DOUBLE), 4) AS total,
  ROUND(LAST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS last_value
FROM events
"""

# --- U1: UNION with dedup ---------------------------------------------------------

def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (orders.select(F.col("o_custkey").alias("custkey"))
            .union(cust.select(F.col("c_custkey").alias("custkey")))
            .distinct())


SQL_UNION_DISTINCT = """
SELECT o_custkey AS custkey FROM orders UNION SELECT c_custkey FROM customer
"""

# --- U2 (+F2-analog): directed-expansion union slices ------------------------------

def q_union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    fwd = [F.col("o_custkey").alias("start_node"),
           F.col("o_orderkey").alias("end_node"), F.lit("fwd").alias("direction")]
    rev = [F.col("o_orderkey").alias("start_node"),
           F.col("o_custkey").alias("end_node"), F.lit("rev").alias("direction")]
    two_way = F.col("o_orderstatus") == "O"
    forward = (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") != "1-URGENT")
    reverse = F.col("o_orderstatus") == "P"
    slices = [orders.filter(two_way).select(*fwd),
              orders.filter(two_way).select(*rev),
              orders.filter(forward).select(*fwd),
              orders.filter(reverse).select(*rev)]
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out


SQL_UNION_SLICES = """
SELECT o_custkey AS start_node, o_orderkey AS end_node, 'fwd' AS direction
  FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey, o_custkey, 'rev' FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_custkey, o_orderkey, 'fwd' FROM orders
  WHERE o_orderstatus = 'F' AND o_orderpriority != '1-URGENT'
UNION ALL
SELECT o_orderkey, o_custkey, 'rev' FROM orders WHERE o_orderstatus = 'P'
"""

# --- P9/P10: ordered UPDATE-cascade classification ----------------------------------

def q_case_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    rules = [
        (lambda cur: F.col("o_orderstatus") == "F", 0),
        (lambda cur: F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0),
        (lambda cur: cur.isNull() & (F.col("o_orderstatus") == "O"), 1),
        # precedence-quirk rule shape: (cur IS NULL AND a) OR b
        (lambda cur: (cur.isNull() & (F.col("o_orderpriority") == "3-MEDIUM"))
            | (F.col("o_orderstatus") == "P"), 1),
    ]
    flag = compile_update_cascade(F.lit(None).cast("int"), rules)
    return (orders.select(flag.alias("class"))
            .groupBy("class").agg(F.count(F.lit(1)).alias("count")))


SQL_CASE_CLASSIFY = """
WITH s1 AS (SELECT *, CASE WHEN o_orderstatus = 'F' THEN 0 END AS f1 FROM orders),
s2 AS (SELECT *, CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE f1 END AS f2 FROM s1),
s3 AS (SELECT *, CASE WHEN f2 IS NULL AND o_orderstatus = 'O' THEN 1 ELSE f2 END AS f3 FROM s2),
s4 AS (SELECT *, CASE WHEN (f3 IS NULL AND o_orderpriority = '3-MEDIUM')
                        OR o_orderstatus = 'P' THEN 1 ELSE f3 END AS f4 FROM s3)
SELECT f4 AS class, CAST(COUNT(*) AS BIGINT) AS count FROM s4 GROUP BY f4
"""

# --- P4-P7: predicate toolbox --------------------------------------------------------

def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return (part
            .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
            .filter(~F.col("p_type").isin("burnished nickel"))
            .filter(F.instr(F.col("p_name"), "small") == 0)
            .filter(F.col("p_size").isNotNull())
            .groupBy("p_brand").agg(F.count(F.lit(1)).alias("count")))


SQL_FILTER_PREDICATES = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS count FROM part
WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
  AND p_type NOT IN ('burnished nickel')
  AND POSITION('small' IN p_name) = 0
  AND p_size IS NOT NULL
GROUP BY p_brand
"""

# --- P8/F2/F3: array subscripts, ends, reverse, size ----------------------------------

def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(array_first("embedding").cast("double"), 6).alias("first_val"),
        F.round(array_last("embedding").cast("double"), 6).alias("last_val"),
        F.size("embedding").alias("dim"),
        F.round(F.element_at(F.reverse("embedding"), 1).cast("double"), 6)
        .alias("rev_first"))


SQL_ARRAY_OPS = """
SELECT vec_id,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
       ROUND(CAST(embedding[len(embedding)] AS DOUBLE), 6) AS last_val,
       CAST(len(embedding) AS INT) AS dim,
       ROUND(CAST(list_reverse(embedding)[1] AS DOUBLE), 6) AS rev_first
FROM embeddings
"""

# --- F1: get_ints_from_text ------------------------------------------------------------

def q_first_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select("event_id", first_int("props").alias("k_int"))


SQL_FIRST_INT = """
SELECT event_id,
       CASE WHEN regexp_extract(props, '([0-9]+)', 1) != ''
            THEN CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) END AS k_int
FROM events
"""

# --- A12/F8: scalar aggregates -----------------------------------------------------------

def q_scalar_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.min("l_quantity"), 6).alias("min_qty"),
        F.round(F.max("l_quantity"), 6).alias("max_qty"),
        davg("l_quantity").alias("avg_qty"),
        dsum("l_extendedprice", 2).alias("sum_price"))


SQL_SCALAR_AGGS = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(MIN(l_quantity), 6) AS min_qty,
       ROUND(MAX(l_quantity), 6) AS max_qty,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_dsum('l_extendedprice', 2)} AS sum_price
FROM lineitem
"""

# --- F10/F11: haversine length ------------------------------------------------------------

def q_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lon = F.col("value")
    lat = (F.col("event_id") % 160 - 80).cast("double") / 10
    d = ev.select("event_id", lon.alias("lon"), lat.alias("lat"),
                  F.lag(lon).over(w).alias("plon"),
                  F.lag(lat).over(w).alias("plat"))
    return (d.filter(F.col("plon").isNotNull())
            .select("event_id",
                    F.round(haversine_km(F.col("plon"), F.col("plat"),
                                         F.col("lon"), F.col("lat")), 4)
                    .alias("dist_km")))


SQL_HAVERSINE = """
WITH pts AS (
  SELECT event_id, value AS lon, CAST(event_id % 160 - 80 AS DOUBLE) / 10 AS lat,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
         LAG(CAST(event_id % 160 - 80 AS DOUBLE) / 10)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat
  FROM events)
SELECT event_id,
       ROUND(2.0 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
         SIN(RADIANS(lat - plat) / 2) * SIN(RADIANS(lat - plat) / 2)
         + COS(RADIANS(plat)) * COS(RADIANS(lat))
         * SIN(RADIANS(lon - plon) / 2) * SIN(RADIANS(lon - plon) / 2)))), 4)
       AS dist_km
FROM pts WHERE plon IS NOT NULL
"""

# --- F12: WKT export -------------------------------------------------------------------------

def q_point_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        point_wkt(F.col("value"), (F.col("event_id") % 90).cast("double"))
        .alias("wkt"))


SQL_POINT_WKT = """
SELECT event_id,
       printf('POINT(%.7f %.7f)', value, CAST(event_id % 90 AS DOUBLE)) AS wkt
FROM events
"""

# --- streaming-analog: tumbling event-time window ---------------------------------------------

def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("sum_value")))


SQL_TUMBLING_WINDOW = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + windowed rollup on its batch path
    (streaming.actions.enriched_window_counts): events join the broadcast
    customer dimension, then tumbling hourly counts per market segment.
    The streaming variant is stateless at the join (static side re-planned
    per micro-batch) — the only state is the window agg."""
    from ..streaming.actions import enriched_window_counts  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer")
    return enriched_window_counts(ev, cust)


SQL_STREAM_ENRICH = """
SELECT date_trunc('hour', e.ts) AS window_start, c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(e.value AS DECIMAL(20,6))) AS DOUBLE), 4)
         AS sum_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution within 10 minutes per user — the
    stream-stream interval join run on its batch path (same plan shape the
    streaming variant state-bounds with watermarks)."""
    from ..streaming.actions import interval_join  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    return interval_join(ev.filter(F.col("event_type") == "click"),
                         ev.filter(F.col("event_type") == "purchase"),
                         within="10 minutes")


SQL_INTERVAL_JOIN = """
SELECT a.user_id, a.ts AS l_ts, a.value AS l_value,
       b.ts AS r_ts, b.value AS r_value,
       CAST(epoch_us(b.ts) AS DOUBLE) / 1000000.0
       - CAST(epoch_us(a.ts) AS DOUBLE) / 1000000.0 AS gap_s
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
"""


def q_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (the REGR_SLOPE/REGR_R2 family): fit
    value ~ hours-since-epoch-start per event type from the five moment
    sums (n, Σx, Σy, Σxy, Σx²) in ONE map-side-combinable aggregation —
    no second pass, no collect. The moments are exact decimals, so slope /
    intercept / r² match the oracle to the rounded digit."""
    ev = t(spark, sf_dir, "events")
    # x/y and their products are IEEE doubles (bit-identical across
    # engines for the same op sequence); each product is cast to decimal
    # ONLY for the sum, so aggregation order can't perturb the moments.
    # x is rebased to hours since 2024-01-01 and the casts stay at scale 6
    # (the repo's dsum convention): DuckDB's double->decimal cast goes
    # through a double multiply by 10^scale, so value_digits + scale must
    # stay well under double precision for the two engines to round alike.
    x = ((F.unix_micros(F.col("ts").cast("timestamp"))
          - F.lit(1_704_067_200_000_000)) / F.lit(3_600_000_000.0))
    y = F.col("value")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    agg = (ev.groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("decimal(28,6)").alias("n"),
                F.sum(dec(x)).alias("sx"), F.sum(dec(y)).alias("sy"),
                F.sum(dec(x * y)).alias("sxy"),
                F.sum(dec(x * x)).alias("sxx"),
                F.sum(dec(y * y)).alias("syy")))
    # every moment is an exact decimal; cast each to double ONCE and do
    # the combining arithmetic in IEEE double with a fixed op order, so
    # both engines execute the identical float sequence
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx
    intercept = (sy - slope * sx) / n
    r2 = (cov * cov) / (varx * vary)
    return agg.select("event_type",
                      F.col("n").cast("long").alias("n"),
                      F.round(slope, 6).alias("slope"),
                      F.round(intercept, 6).alias("intercept"),
                      F.round(r2, 6).alias("r2"))


SQL_GROUP_REGRESSION = """
WITH m0 AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(28,6)) AS n0,
         SUM(CAST((epoch_us(ts) - 1704067200000000) / 3600000000.0
                  AS DECIMAL(28,6))) AS sx0,
         SUM(CAST(value AS DECIMAL(28,6))) AS sy0,
         SUM(CAST(((epoch_us(ts) - 1704067200000000) / 3600000000.0) * value
                  AS DECIMAL(28,6))) AS sxy0,
         SUM(CAST(((epoch_us(ts) - 1704067200000000) / 3600000000.0)
                  * ((epoch_us(ts) - 1704067200000000) / 3600000000.0)
                  AS DECIMAL(28,6))) AS sxx0,
         SUM(CAST(value * value AS DECIMAL(28,6))) AS syy0
  FROM events GROUP BY event_type),
m AS (
  SELECT event_type, n0,
         CAST(n0 AS DOUBLE) AS n, CAST(sx0 AS DOUBLE) AS sx,
         CAST(sy0 AS DOUBLE) AS sy, CAST(sxy0 AS DOUBLE) AS sxy,
         CAST(sxx0 AS DOUBLE) AS sxx, CAST(syy0 AS DOUBLE) AS syy
  FROM m0)
SELECT event_type, CAST(n0 AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: first-order Markov transition matrix of the event
    stream — per-user time-ordered lag pairs (prev_type → type), counted
    globally with the mean inter-event gap. One window sort per user key +
    one aggregation; the microsecond epoch diff is integer-exact in both
    engines, so the decimal mean matches to the digit."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pairs = ev.select(
        "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        ((us - F.lag(us).over(w)) / 1_000_000.0).alias("gap_s"))
    return (pairs.filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 davg("gap_s").alias("mean_gap_s")))


SQL_EVENT_TRANSITIONS = f"""
WITH pairs AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER w AS prev_type,
         (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1000000.0 AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n, {sql_davg('gap_s')} AS mean_gap_s
FROM pairs WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


def q_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER event-time interval join: every click, with its purchase
    within 10 minutes or NULLs — the "never converted" readout. The
    streaming variant emits the NULL row only after the right watermark
    proves no match can arrive; this gate checks the identical batch
    plan."""
    from ..streaming.actions import interval_join  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    return interval_join(ev.filter(F.col("event_type") == "click"),
                         ev.filter(F.col("event_type") == "purchase"),
                         within="10 minutes", how="left_outer")


SQL_INTERVAL_JOIN_OUTER = """
SELECT a.user_id, a.ts AS l_ts, a.value AS l_value,
       b.ts AS r_ts, b.value AS r_value,
       CAST(epoch_us(b.ts) AS DOUBLE) / 1000000.0
       - CAST(epoch_us(a.ts) AS DOUBLE) / 1000000.0 AS gap_s
FROM (SELECT * FROM events WHERE event_type = 'click') a
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — (flag, status), (flag), grand total — with
    GROUPING marker columns. Uses re-aggregation (operators/rollup.py)
    instead of Spark's Expand plan: one fact-table pass computes the leaf
    groups, and the coarser levels re-aggregate the tiny leaf table —
    Expand would push 3x the rows through the exact-decimal accumulator.
    The fact pass itself sums SCALED LONGS per input partition
    (fixed_point_presum) and pays decimal cost only on the tiny
    partials — exactness unchanged, the hot loop leaves BigDecimal."""
    from ..operators.rollup import fixed_point_presum, rollup_agg  # noqa: PLC0415

    li = t(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    fact = fixed_point_presum(li, keys, "l_quantity")
    out = rollup_agg(
        fact, keys,
        {"n": (F.coalesce(F.sum("_n"), F.lit(0).cast("bigint")), "count"),
         "_s": (F.sum("_q"), "sum")})
    return out.select(
        "l_returnflag", "l_linestatus",
        F.col("g_l_returnflag").alias("g_flag"),
        F.col("g_l_linestatus").alias("g_status"),
        "n", F.round(F.col("_s").cast("double"), 4).alias("sum_qty"))


SQL_ROLLUP_COUNTS = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n, {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


_PIVOT_TYPES = ("view", "click", "purchase", "signup", "refund")


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT event counts into one column per event type, per user bucket —
    explicit value list so the schema is static (the scalable form: a
    dynamic pivot would need a driver-side distinct first). Compiles to one
    groupBy with conditional aggregates — a single shuffle."""
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy((F.col("user_id") % 100).alias("bucket"))
            .pivot("event_type", list(_PIVOT_TYPES))
            .agg(F.count(F.lit(1)))
            .na.fill(0, list(_PIVOT_TYPES)))


SQL_PIVOT_COUNTS = """
SELECT user_id % 100 AS bucket,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'refund') AS BIGINT) AS refund
FROM events GROUP BY 1
"""


def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-window family over one sorted partition pass:
    rank / dense_rank / percent_rank / cume_dist / ntile(4) per supplier
    ordered by balance — all five share a single window sort."""
    s = t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"),
                                                  "s_suppkey")
    return s.select(
        "s_suppkey", "s_nationkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"))


SQL_RANK_FAMILY = """
SELECT s_suppkey, s_nationkey,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT (the U1-U2 complement): customers with orders
    vs the full customer list, tagged and unioned — Spark plans both as
    aggregate-dedup + hash semi/anti joins on the same key."""
    cust = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    ordered = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    both = cust.intersect(ordered).select(F.lit("both").alias("tag"), "k")
    never = cust.subtract(ordered) \
                .select(F.lit("never").alias("tag"), "k")
    return both.unionByName(never)


SQL_SET_OPS = """
SELECT 'both' AS tag, k FROM (
  SELECT c_custkey AS k FROM customer
  INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'never', k FROM (
  SELECT c_custkey AS k FROM customer
  EXCEPT SELECT o_custkey FROM orders)
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all four grouping levels
    including the column-only marginals ROLLUP can't produce — with
    GROUPING markers. Re-aggregated like q_rollup_counts: a cube's Expand
    plan would push 4x the fact rows through the decimal accumulator; the
    re-agg form derives all 2^k levels from one leaf aggregate. The fact
    pass sums scaled longs per input partition (fixed_point_presum),
    decimal only on the partials."""
    from ..operators.rollup import cube_agg, fixed_point_presum  # noqa: PLC0415

    li = t(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    fact = fixed_point_presum(li, keys, "l_quantity")
    out = cube_agg(
        fact, keys,
        {"n": (F.coalesce(F.sum("_n"), F.lit(0).cast("bigint")), "count"),
         "_s": (F.sum("_q"), "sum")})
    return out.select(
        "l_returnflag", "l_linestatus",
        F.col("g_l_returnflag").alias("g_flag"),
        F.col("g_l_linestatus").alias("g_status"),
        "n", F.round(F.col("_s").cast("double"), 4).alias("sum_qty"))


SQL_CUBE_COUNTS = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n, {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated (TPC-H Q17 shape): line
    items below 20% of their part's average quantity, revenue per brand.
    The correlated ``(SELECT AVG(...) WHERE l_partkey = p_partkey)`` is the
    row-at-a-time trap; the scalable plan is one per-part aggregate joined
    back — both engines compare against the same rounded-decimal threshold
    so the float boundary is engine-portable."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    avg_qty = (li.groupBy("l_partkey")
               .agg(davg("l_quantity").alias("aq")))
    return (li.join(avg_qty, "l_partkey")
            .join(part.select(F.col("p_partkey").alias("l_partkey"),
                              "p_brand"), "l_partkey")
            .filter(F.col("l_quantity").cast("decimal(28,6)")
                    < F.round(F.col("aq") * 0.2, 6).cast("decimal(28,6)"))
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_below"),
                 dsum("l_extendedprice").alias("revenue")))


SQL_SCALAR_SUBQUERY = f"""
WITH aq AS (
  SELECT l_partkey, {sql_davg('l_quantity')} AS aq
  FROM lineitem GROUP BY l_partkey)
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_below,
       {sql_dsum('l_extendedprice')} AS revenue
FROM lineitem l
JOIN aq ON aq.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(28,6))
      < CAST(ROUND(aq.aq * 0.2, 6) AS DECIMAL(28,6))
GROUP BY p_brand
"""


_GAP_BUCKETS = 50


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling + forward fill: hourly event counts per user
    bucket with *every* hour of each bucket's [min, max] range present —
    missing hours get count 0 and carry the last observed hourly mean value
    forward (``last(..., ignorenulls)`` over an ordered window). The hour
    scaffold is generated distributed (sequence + explode per bucket), not
    driver-side; one join on (bucket, hour) + one window sort."""
    ev = t(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts") / 3600).cast("long")
    per_hour = (ev.groupBy((F.col("user_id") % _GAP_BUCKETS).alias("bucket"),
                           hour.alias("hour"))
                .agg(F.count(F.lit(1)).alias("n"),
                     davg("value").alias("mean_value")))
    scaffold = (per_hour.groupBy("bucket")
                .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
                .select("bucket",
                        F.explode(F.sequence("h0", "h1")).alias("hour")))
    w = (Window.partitionBy("bucket").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (scaffold.join(per_hour, ["bucket", "hour"], "left")
            .select("bucket", "hour",
                    F.coalesce("n", F.lit(0)).alias("n"),
                    F.last("mean_value", ignorenulls=True).over(w)
                    .alias("filled_value")))


SQL_GAP_FILL = f"""
WITH per_hour AS (
  SELECT user_id % {_GAP_BUCKETS} AS bucket,
         CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n, {sql_davg('value')} AS mean_value
  FROM events GROUP BY 1, 2),
scaffold AS (
  SELECT bucket, UNNEST(GENERATE_SERIES(h0, h1)) AS hour FROM (
    SELECT bucket, MIN(hour) AS h0, MAX(hour) AS h1
    FROM per_hour GROUP BY bucket))
SELECT s.bucket, s.hour, COALESCE(p.n, 0) AS n,
       LAST_VALUE(p.mean_value IGNORE NULLS) OVER (
         PARTITION BY s.bucket ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM scaffold s LEFT JOIN per_hour p
  ON p.bucket = s.bucket AND p.hour = s.hour
"""


def q_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic reservoir: exactly min(k, |group|) docs per language by
    hashed-id rank (operators.sampling.per_group_sample) — the 'give me 5
    examples of every stratum' audit query, reproducible across re-runs and
    repartitions."""
    from ..operators.sampling import per_group_sample  # noqa: PLC0415

    docs = t(spark, sf_dir, "documents")
    return per_group_sample(docs, k=5, group_col="lang")


SQL_PER_GROUP_SAMPLE = """
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY lang
    ORDER BY ('0x' || substr(md5('11|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             / 4294967296.0, doc_id) AS rn
  FROM documents) WHERE rn <= 5
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: each purchase
    event becomes a version row with [valid_from, valid_to) from
    consecutive event times per user — LEAD over one user-keyed window,
    NULL valid_to marking the current row. The warehouse-ETL staple for
    turning a change log into an interval table."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"))


SQL_SCD2_HISTORY = """
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       value AS attr_value,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       LEAD(ts) OVER w IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users hash-split into two variants, conversion
    = a purchase above the value threshold (so neither rate is degenerate
    0 or 1); per-variant rates plus the pooled two-proportion
    z statistic. Every input to the math is an exact integer count (one
    distinct-user aggregation), and the z formula runs in fixed-order IEEE
    double on both engines, so even the test statistic hash-matches."""
    ev = t(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.max(((F.col("event_type") == "purchase")
                             & (F.col("value") > 90)).cast("int"))
                     .alias("converted"))
                .withColumn("variant",
                            (F.col("user_id") % 2 == 0).cast("int")))
    counts = (per_user.groupBy("variant")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("converted").cast("long").alias("conv")))
    a = counts.filter(F.col("variant") == 0) \
        .select(F.col("n").alias("n0"), F.col("conv").alias("c0"))
    b = counts.filter(F.col("variant") == 1) \
        .select(F.col("n").alias("n1"), F.col("conv").alias("c1"))
    j = a.crossJoin(b)
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    p0, p1 = c0 / n0, c1 / n1
    pp = (c0 + c1) / (n0 + n1)
    z = (p1 - p0) / F.sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1))
    return j.select("n0", "c0", "n1", "c1",
                    F.round(p0, 6).alias("rate_a"),
                    F.round(p1, 6).alias("rate_b"),
                    F.round(z, 6).alias("z_score"))


SQL_AB_LIFT = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > 90
                  THEN 1 ELSE 0 END)
           AS converted,
         CAST(user_id % 2 = 0 AS INT) AS variant
  FROM events GROUP BY user_id),
counts AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM per_user GROUP BY variant),
j AS (
  SELECT a.n AS n0, a.conv AS c0, b.n AS n1, b.conv AS c1
  FROM (SELECT * FROM counts WHERE variant = 0) a
  CROSS JOIN (SELECT * FROM counts WHERE variant = 1) b)
SELECT n0, c0, n1, c1,
       ROUND(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS rate_a,
       ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS rate_b,
       ROUND((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
             / SQRT((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                    * (1 - CAST(c0 + c1 AS DOUBLE)
                           / CAST(n0 + n1 AS DOUBLE))
                    * (1 / CAST(n0 AS DOUBLE) + 1 / CAST(n1 AS DOUBLE))), 6)
         AS z_score
FROM j
"""


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 dimension lookup: each click event joins the
    purchase-history interval table on its user with
    ``valid_from <= ts < valid_to`` (open current rows match everything
    later) — the warehouse classic "fact resolves the dimension version
    that was true at event time". Equi on user_id + interval residual, so
    Catalyst plans a normal hash/SMJ join; per-user version lists are
    small, the interval filter is a post-join predicate. Aggregated per
    version count so the gate output is compact."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = purch.select(
        F.col("user_id").alias("d_user"),
        F.row_number().over(w).cast("long").alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"))
    j = (clicks.join(dim, (clicks["user_id"] == dim["d_user"])
                     & (clicks["ts"] >= dim["valid_from"])
                     & (clicks["ts"] < F.coalesce(
                         dim["valid_to"],
                         F.lit("9999-12-31 00:00:00").cast("timestamp")))))
    return (j.groupBy("user_id", "version")
            .agg(F.count(F.lit(1)).alias("n_clicks")))


SQL_SCD2_LOOKUP = """
WITH dim AS (
  SELECT user_id AS d_user,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
         ts AS valid_from, LEAD(ts) OVER w AS valid_to
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e.user_id, d.version, CAST(COUNT(*) AS BIGINT) AS n_clicks
FROM events e
JOIN dim d ON e.user_id = d.d_user
          AND e.ts >= d.valid_from
          AND e.ts < COALESCE(d.valid_to, TIMESTAMP '9999-12-31 00:00:00')
WHERE e.event_type = 'click'
GROUP BY e.user_id, d.version
"""


def q_rolling_time_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user rolling sum/count — a RANGE frame over
    event-time seconds (W2 variant: value-based frame, not row-based; tie
    timestamps are peers, so the result is order-independent; second
    truncation is integer floor on both engines — epoch_us // 1e6 in the
    oracle, never float epoch()). The batch
    equivalent of a sliding stream aggregate, and the only window feature
    class (RANGE BETWEEN) the ROWS-frame gates don't cover."""
    ev = t(spark, sf_dir, "events")
    # NTZ has no direct long cast; UTC session tz makes the epoch exact
    # (same pattern as streaming.actions.interval_join), and long-cast
    # truncation matches the oracle's epoch_us // 1e6 integer floor
    sec = F.col("ts").cast("timestamp").cast("long")
    w = (Window.partitionBy("user_id").orderBy(sec)
         .rangeBetween(-3600, 0))
    dec = F.col("value").cast("decimal(28,6)")
    return ev.select(
        "event_id",
        F.round(F.sum(dec).over(w).cast("double"), 4).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_n"))


SQL_ROLLING_TIME_SUMS = """
SELECT event_id,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE), 4) AS hour_sum,
  CAST(COUNT(*) OVER w AS BIGINT) AS hour_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp values to the group's [p05, p95]
    (exact PERCENTILE_CONT thresholds, rounded to 6 dp so both engines
    clamp against bit-identical bounds) and report raw vs winsorized means
    — the outlier-robust scoring pass a quality pipeline runs before
    thresholding. Thresholds are a tiny per-group table broadcast back onto
    the fact scan; no second shuffle of the big side."""
    from ..operators.stats import quantiles_by_group  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    # method pinned: the winsorize CONTRACT is exact thresholds (the
    # oracle clamps against quantile_cont) — auto's approx flip at scale
    # would silently move the clamp bounds
    qs = quantiles_by_group(ev, ["event_type"], "value",
                            qs=(0.05, 0.95), scale=6, method="exact")
    clamped = F.least(F.greatest(F.col("value"), F.col("p5")), F.col("p95"))
    return (ev.join(F.broadcast(qs), "event_type")
            .groupBy("event_type")
            .agg(davg("value").alias("mean_raw"),
                 davg(clamped).alias("mean_winsorized"),
                 F.first("p5").alias("lo"),
                 F.first("p95").alias("hi"),
                 F.count(F.lit(1)).alias("n")))


SQL_WINSORIZED_STATS = f"""
WITH q AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.05), 6) AS lo,
         ROUND(quantile_cont(value, 0.95), 6) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_type,
       {sql_davg('e.value')} AS mean_raw,
       {sql_davg('LEAST(GREATEST(e.value, q.lo), q.hi)')} AS mean_winsorized,
       FIRST(q.lo) AS lo, FIRST(q.hi) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type
"""


def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile column profile per group (PERCENTILE_CONT
    semantics both engines): the generalization of A3's median UDAF to the
    p25/p50/p75/p90/p99 sweep a quality-threshold scan needs. One
    map-side-combinable aggregate; memory O(distinct values per group).

    Stage-budget floor (measured sf0.1, warm, on the exact path):
    1.4-2.1 s = one scan + the exact Percentile value→count map built and
    merged over 583 k DISTINCT doubles (97% of the 600 k rows are unique
    prices — the map is nearly the data) vs DuckDB's 85 ms single
    in-process quantile sort.
    Two reworks were measured and rejected: a (group, value) histogram
    pre-aggregation (1.3-2.1 s — no gain at 97% distinct) and a
    row_number/rank-filter sort plan (1.0-1.5 s locally but it partitions
    the sort by l_returnflag — THREE reducers own the whole table, the
    exact skew that kills at 100 TB). The shipped plan partial-aggregates
    map-side on every input split and only merges maps, so it is the one
    you'd run on a cluster; for unbounded-cardinality columns swap
    F.percentile_approx (same call shape, mergeable KLL-style sketch).

    The gate rides ``method="auto"`` — exact
    below the 64 MB input-size crossover (the sf0.01 oracle check and
    the sf0.1 headline bench stay on the hash-reproducible exact path),
    ``percentile_approx`` above it (sf1's 119 MB scan flips to the
    bounded-memory sketch; rank error ≤ 1e-4 at accuracy 10 000)."""
    from ..operators.stats import quantiles_by_group  # noqa: PLC0415

    li = t(spark, sf_dir, "lineitem")
    return quantiles_by_group(li, ["l_returnflag"], "l_extendedprice")


SQL_QUANTILE_PROFILE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       CAST(COUNT(l_extendedprice) AS BIGINT) AS n_values
FROM lineitem GROUP BY l_returnflag
"""


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bounded-memory quantile sketch: the scale path
    beside q_quantile_profile's exact aggregate (whose value→count map is
    memory-unbounded under skew — the most data-bound gate, sf-ratio
    3.8). KMV-style deterministic bottom-k-by-hash sample per group, two
    salted rank phases so no reducer ever owns a whole group, exact
    PERCENTILE_CONT over the k-sample. The oracle recomputes the
    IDENTICAL sketch state (same md5 bottom-k — the hll_users
    register-recompute pattern), so the gate hash pins both the sampling
    and the estimate."""
    from ..operators.stats import quantile_sketch_by_group  # noqa: PLC0415

    li = t(spark, sf_dir, "lineitem")
    return quantile_sketch_by_group(
        li, ["l_returnflag"], "l_extendedprice",
        hash_cols=["l_orderkey", "l_linenumber", "l_partkey"], k=256)


SQL_QUANTILE_SKETCH = """
WITH rk AS (
  SELECT l_returnflag, l_extendedprice AS v,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag
           ORDER BY md5(CONCAT_WS('|', CAST(l_orderkey AS VARCHAR),
                                  CAST(l_linenumber AS VARCHAR),
                                  CAST(l_partkey AS VARCHAR))),
                    l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n_total
  FROM lineitem WHERE l_extendedprice IS NOT NULL)
SELECT l_returnflag,
       ROUND(quantile_cont(v, 0.25), 4) AS p25,
       ROUND(quantile_cont(v, 0.5), 4) AS p50,
       ROUND(quantile_cont(v, 0.75), 4) AS p75,
       ROUND(quantile_cont(v, 0.9), 4) AS p90,
       ROUND(quantile_cont(v, 0.99), 4) AS p99,
       MAX(n_total) AS n_values,
       CAST(COUNT(*) AS BIGINT) AS n_sampled
FROM rk WHERE rn <= 256
GROUP BY l_returnflag
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase gets the most recent prior-or-equal
    click's (event_id, ts, value) per user — the feature-store backfill
    primitive.  Union-trick plan: one exchange on user_id + one in-partition
    sort, zero joins (``operators/asof.py``); the oracle replays the same
    construction with LAST_VALUE IGNORE NULLS."""
    from ..operators.asof import asof_join  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    return asof_join(ev.filter(F.col("event_type") == "purchase"),
                     ev.filter(F.col("event_type") == "click"),
                     on="user_id")


SQL_ASOF_JOIN = """
WITH u AS (
  SELECT user_id AS k, ts AS uts, 0 AS m, event_id AS ord,
         event_id AS asof_event_id, ts AS asof_ts, value AS asof_value,
         CAST(NULL AS BIGINT) AS lid, CAST(NULL AS TIMESTAMP) AS lts
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 1, event_id,
         NULL, NULL, NULL, event_id, ts
  FROM events WHERE event_type = 'purchase'
), w AS (
  SELECT k, m, lid, lts,
         LAST_VALUE(asof_event_id IGNORE NULLS) OVER win AS asof_event_id,
         LAST_VALUE(asof_ts IGNORE NULLS) OVER win AS asof_ts,
         LAST_VALUE(asof_value IGNORE NULLS) OVER win AS asof_value
  FROM u
  WINDOW win AS (PARTITION BY k ORDER BY uts, m, ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT k AS user_id, lid AS event_id, lts AS ts,
       asof_event_id, asof_ts, asof_value
FROM w WHERE m = 1
"""


def q_salted_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a hot key (l_returnflag: 3 values
    for 600k rows). Result is identical to the direct groupBy — the oracle
    checks the equivalence; the plan bounds every reducer to ~1/16 of a hot
    key's rows."""
    from ..functions.skew import salted_count_sum

    li = t(spark, sf_dir, "lineitem")
    return salted_count_sum(li, ["l_returnflag"], "l_quantity",
                            entropy_col="l_orderkey", buckets=16)


SQL_SALTED_GROUP_COUNT = f"""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_value
FROM lineitem GROUP BY l_returnflag
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salted equi-join (big lineitem × small nation-sized dim):
    the big side salts on its own row entropy, the small side replicates
    B times, the join runs on (key, salt). Row-identical to the plain
    join — the oracle is the unsalted join, so the equivalence IS the
    check; the plan bounds each reducer to ~1/16 of any hot key."""
    from ..functions.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    # a skewed dim key: l_linenumber has 7 values across 600k rows
    dim = (t(spark, sf_dir, "nation")
           .select((F.col("n_nationkey") % 7 + 1).alias("l_linenumber"),
                   "n_name").distinct())
    joined = salted_join(li, dim, key="l_linenumber",
                         entropy_col="l_orderkey", buckets=16)
    return (joined.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("l_orderkey").alias("sum_keys")))


SQL_SALTED_JOIN = """
WITH dim AS (
  SELECT DISTINCT n_nationkey % 7 + 1 AS l_linenumber, n_name FROM nation)
SELECT d.n_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l.l_orderkey) AS BIGINT) AS sum_keys
FROM lineitem l JOIN dim d USING (l_linenumber)
GROUP BY d.n_name
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel, each step strictly after
    the previous and within 7 days of the first view. Greedy-earliest
    chain per user, one min-agg + user-keyed join per step."""
    from ..operators.funnel import funnel_steps

    ev = t(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"],
                        within_seconds=7 * 86400)


SQL_FUNNEL_STEPS = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t_1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_1
    AND e.ts <= s1.t_1 + INTERVAL 604800 SECOND
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_3
  FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_2
    AND e.ts <= s1.t_1 + INTERVAL 604800 SECOND
  GROUP BY e.user_id)
SELECT s1.user_id, s1.t_1, s2.t_2, s3.t_3,
       CAST(1 + CASE WHEN s2.t_2 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN s3.t_3 IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS steps_completed
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z codes over two lineitem dimensions — the multi-column
    layout key behind OPTIMIZE ZORDER file pruning. Pure bit arithmetic,
    value-exact oracle."""
    from ..functions.layout import z_value

    li = t(spark, sf_dir, "lineitem")
    pair = li.select(F.col("l_linenumber").cast("long").alias("a"),
                     F.col("l_quantity").cast("long").alias("b"))
    return (pair.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("count"))
            .withColumn("zval", z_value([F.col("a"), F.col("b")], bits=6)))


def _sql_zorder_values(bits: int = 6) -> str:
    terms = " + ".join(
        f"(((CAST({c} AS BIGINT) >> {i}) & 1) << {i * 2 + j})"
        for i in range(bits) for j, c in enumerate(("a", "b")))
    return f"""
WITH pair AS (
  SELECT CAST(l_linenumber AS BIGINT) AS a, CAST(l_quantity AS BIGINT) AS b
  FROM lineitem)
SELECT a, b, CAST(COUNT(*) AS BIGINT) AS count,
       CAST({terms} AS BIGINT) AS zval
FROM pair GROUP BY a, b
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events table: cohort =
    week of first activity, cells = distinct cohort users active at each
    week offset."""
    from ..operators.funnel import retention_cohorts

    return retention_cohorts(t(spark, sf_dir, "events"), period="week")


SQL_RETENTION_COHORTS = """
WITH fst AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
  FROM events GROUP BY user_id),
active AS (
  SELECT user_id, date_trunc('week', ts) AS period FROM events)
SELECT CAST(f.cohort AS TIMESTAMP) AS cohort,
       CAST(ROUND((epoch(a.period) - epoch(f.cohort)) / 604800.0) AS INT)
         AS period_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM active a JOIN fst f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnosis for a join key (exact distincts so the
    skew_factor matches the oracle): the pre-flight check that tells you
    whether salted_join/salted_count_sum is needed before a 100× run."""
    from ..operators.profile import key_skew_report

    li = t(spark, sf_dir, "lineitem")
    return key_skew_report(li, "l_linenumber", top=5, exact_distinct=True)


SQL_KEY_SKEW = """
WITH stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS nd
  FROM lineitem)
SELECT CAST(l_linenumber AS VARCHAR) AS key,
       CAST(COUNT(*) AS BIGINT) AS count,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n, 6) AS share,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n * nd, 2) AS skew_factor
FROM lineitem CROSS JOIN stats
GROUP BY l_linenumber, n, nd
ORDER BY count DESC, key LIMIT 5
"""


def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-dedup batch equivalent: first event per (user_id, event_type)
    by event time (streaming path uses dropDuplicatesWithinWatermark —
    tested in test_streaming_export)."""
    from ..streaming.actions import dedup_events

    ev = t(spark, sf_dir, "events")
    out = dedup_events(ev, key_cols=("user_id", "event_type"),
                       tiebreak=("event_id",))
    return out.select("event_id", "user_id", "event_type", "ts",
                      F.round("value", 6).alias("value"))


SQL_DEDUP_EVENTS = """
WITH r AS (
  SELECT event_id, user_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT event_id, user_id, event_type, ts, ROUND(value, 6) AS value
FROM r WHERE rn = 1
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 h window, 30 min slide): every event
    lands in window_duration/slide = 2 overlapping windows via the built-in
    ``F.window`` expansion — the batch shape of the Structured Streaming
    ``readStream.groupBy(window(...))`` aggregation (SURVEY §2.9 extension).
    """
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("sum_value"))
            .select(F.col("window.start").alias("win_start"),
                    F.col("window.end").alias("win_end"),
                    "event_type", "n_events", "sum_value"))


# Spark aligns sliding windows to the epoch: starts are the multiples of the
# slide; an event at t belongs to starts floor(t/s)*s - i*s for i in 0..d/s-1
# (all of them valid when d is a multiple of s). Rebuilt with epoch math —
# TIMESTAMP '1970-01-01' + seconds keeps it timezone-free on both engines.
SQL_SLIDING_WINDOW = f"""
WITH w AS (
  SELECT event_type, value,
         TIMESTAMP '1970-01-01' + to_seconds(
           CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - i.i * 1800) AS win_start
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) i)
SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events, {sql_dsum('value')} AS sum_value
FROM w GROUP BY 1, 2, 3
"""


# --- J1 at depth: 3-table join + agg + top-k (TPC-H q3 shape) ----------------

def q_join3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join (lineitem ⨝ orders, SMJ at scale) + broadcast dim
    (customer filter), map-side-combinable agg, TakeOrderedAndProject."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("o_orderkey", "o_orderdate")
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), "o_orderkey")
            .limit(10))


SQL_JOIN3_TOPK = f"""
SELECT o_orderkey, o_orderdate,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_join5_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue by nation for one region —
    a 5-way join where the two facts (lineitem ⨝ orders) sort-merge on the
    order key while every dimension (customer, supplier, nation⨝region)
    broadcasts, including the Q5 signature predicate that the supplier and
    the customer share a nation. One shuffle pair for the fact join + one
    for the final aggregate; Catalyst pushes the region filter through the
    nation join into the broadcast build sides."""
    asia = (t(spark, sf_dir, "nation")
            .join(t(spark, sf_dir, "region")
                  .filter(F.col("r_name") == "ASIA"),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("n_nationkey", "n_name"))
    cust = (t(spark, sf_dir, "customer")
            .join(F.broadcast(asia),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_nationkey").alias("cn"), "n_name"))
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
            .filter(F.col("cn") == F.col("s_nationkey"))
            .groupBy("n_name")
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


SQL_JOIN5_REVENUE = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND s_nationkey = c_nationkey
GROUP BY n_name
"""


def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts
    including zero-order customers — LEFT OUTER join (so the COUNT(col)
    null-skipping semantics matter) feeding two stacked aggregations.
    Both aggs key small domains; the second input is already tiny."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = (t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "1-URGENT")
              .select("o_custkey", "o_orderkey"))
    per_cust = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


SQL_ORDER_COUNT_DIST = """
WITH per_cust AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


_BANDS = ((0.0, 10.0, "low"), (10.0, 40.0, "mid"), (40.0, 75.0, "high"),
          (75.0, 1e9, "extreme"))


def q_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi banding join: events land in value bands via a broadcast
    nested-loop join against a tiny in-memory band table — the class of
    join (no equi key at all) that MUST keep its small side broadcast; the
    big side streams through unshuffled and the aggregate is the only
    exchange."""
    ev = t(spark, sf_dir, "events")
    bands = spark.createDataFrame(list(_BANDS), "lo double, hi double, band string")
    return (ev.join(F.broadcast(bands),
                    (F.col("value") >= F.col("lo"))
                    & (F.col("value") < F.col("hi")))
            .groupBy("band")
            .agg(F.count(F.lit(1)).alias("n"),
                 davg("value").alias("mean_value")))


SQL_BAND_JOIN = f"""
WITH bands(lo, hi, band) AS (VALUES
  {", ".join(f"({lo!r}, {hi!r}, '{b}')" for lo, hi, b in _BANDS)})
SELECT band, CAST(COUNT(*) AS BIGINT) AS n, {sql_davg('value')} AS mean_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the four lineitem measures stacked into
    (measure, value) rows, then per-measure stats — the wide→long
    normalization every metrics store needs. Spark's ``stack`` expands
    in-place (a narrow generate, no shuffle); the single aggregate is the
    only exchange."""
    li = t(spark, sf_dir, "lineitem")
    long = li.select(F.expr(
        "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount, 'tax', l_tax) AS (measure, value)"))
    return (long.groupBy("measure")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("value").alias("total"),
                 F.round(F.min("value"), 4).alias("min_value"),
                 F.round(F.max("value"), 4).alias("max_value")))


SQL_UNPIVOT_MEASURES = f"""
WITH long AS (
  SELECT measure, value FROM (
    UNPIVOT (SELECT l_quantity AS quantity, l_extendedprice AS extendedprice,
                    l_discount AS discount, l_tax AS tax FROM lineitem)
    ON quantity, extendedprice, discount, tax
    INTO NAME measure VALUE value))
SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('value')} AS total,
       ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value
FROM long GROUP BY measure
"""


def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (RATIO_TO_REPORT): each nation's share of global
    supplier balance — an aggregate plus an unpartitioned window total
    over the already-tiny aggregate output (the window runs on ~25 rows,
    never on the fact table). Exact decimal totals make the shares
    engine-identical before rounding."""
    s = t(spark, sf_dir, "supplier")
    per_nation = (s.groupBy("s_nationkey")
                  .agg(F.sum(F.col("s_acctbal").cast("decimal(28,6)"))
                       .alias("bal")))
    w = Window.partitionBy()
    return (per_nation.select(
        "s_nationkey",
        F.round(F.col("bal").cast("double"), 4).alias("balance"),
        F.round((F.col("bal").cast("double")
                 / F.sum("bal").over(w).cast("double")), 6).alias("share")))


SQL_REVENUE_SHARE = """
WITH per_nation AS (
  SELECT s_nationkey, SUM(CAST(s_acctbal AS DECIMAL(28,6))) AS bal
  FROM supplier GROUP BY s_nationkey)
SELECT s_nationkey, ROUND(CAST(bal AS DOUBLE), 4) AS balance,
       ROUND(CAST(bal AS DOUBLE) / CAST(SUM(bal) OVER () AS DOUBLE), 6)
         AS share
FROM per_nation
"""


# --- S9: change-feed batch MERGE (pgsnapshot actions semantics) --------------

def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply_actions over a deterministic changeset derived from orders:
    C/M/D per o_orderkey residue against the customer snapshot."""
    from ..streaming.actions import apply_actions

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    ord_ = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 < 3)
    actions = ord_.select(
        F.lit("N").alias("data_type"),
        F.element_at(F.array(F.lit("C"), F.lit("M"), F.lit("D")),
                     (F.col("o_orderkey") % 3).cast("int") + 1).alias("action"),
        F.col("o_custkey").alias("id"))
    changed = (cust.join(
        actions.filter(F.col("action").isin("C", "M"))
        .select(F.col("id").alias("c_custkey")).distinct(), "c_custkey", "left_semi")
        .select("c_custkey", "c_name",
                F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal")))
    out = apply_actions(cust, actions, changed, "N", id_col="c_custkey")
    return out.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"))


SQL_CDC_APPLY = """
WITH actions AS (
  SELECT 'N' AS data_type,
         CASE o_orderkey % 3 WHEN 0 THEN 'C' WHEN 1 THEN 'M' ELSE 'D' END AS action,
         o_custkey AS id
  FROM orders WHERE o_orderkey % 100 < 3),
acted AS (SELECT DISTINCT id FROM actions),
upsert_ids AS (SELECT DISTINCT id FROM actions WHERE action IN ('C', 'M'))
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
FROM customer WHERE c_custkey NOT IN (SELECT id FROM acted)
UNION ALL
SELECT c_custkey, c_name, ROUND(c_acctbal + 100.0, 2) AS c_acctbal
FROM customer WHERE c_custkey IN (SELECT id FROM upsert_ids)
"""


# --- session windows (streaming-class, batch-checkable) ----------------------

def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.actions import session_counts

    return session_counts(t(spark, sf_dir, "events"), gap="30 minutes")


# gaps-and-islands: a session breaks when the gap to the previous event
# reaches 30 minutes (session_window extends by ts+gap, strict <)
SQL_SESSION_WINDOW = f"""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events, {sql_dsum('value')} AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.actions import capped_sessions

    return capped_sessions(t(spark, sf_dir, "events"),
                           gap_minutes=30, max_duration_minutes=120)


SQL_CAPPED_SESSIONS = f"""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM g),
seg AS (
  SELECT user_id, ts, value, island,
         FLOOR((epoch(ts) - FIRST_VALUE(epoch(ts)) OVER
                (PARTITION BY user_id, island ORDER BY ts
                 ROWS UNBOUNDED PRECEDING)) / 7200.0) AS seg
  FROM s)
SELECT user_id, MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events, {sql_dsum('value')} AS sum_value
FROM seg GROUP BY user_id, island, seg
"""


# --- HLL distinct sketch (engine-exact registers) -----------------------------


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via md5-register
    HyperLogLog, alongside the exact count — the oracle recomputes the
    identical sketch, so even the *approximation* is value-checked."""
    from ..operators import sketch  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    h = sketch.hll_distinct(ev, "user_id", ["event_type"], p=10)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return (h.join(exact, "event_type")
            .select("event_type", "n_exact", "hll_used",
                    F.round("hll_estimate", 6).alias("hll_estimate")))


def _sql_hll_users(p: int = 10) -> str:
    from ..operators.sketch import hll_sql  # noqa: PLC0415

    m = 1 << p
    return f"""
WITH {hll_sql("CAST(user_id AS VARCHAR)", "event_type", p).strip()},
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type)
SELECT e.event_type, ex.n_exact, e.hll_used,
       ROUND(CASE WHEN raw <= {2.5 * m!r} AND v > 0
             THEN {m} * ln({float(m)!r} / v) ELSE raw END, 6) AS hll_estimate
FROM hest e JOIN ex USING (event_type)
"""


def q_theta_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-EXPRESSION cardinalities from theta/KMV sketches
    (``sketch.theta_set_ops``): |clickers|, |purchasers|, their
    intersection AND difference, all from two bottom-k-hash sketches —
    the set operation (A∖B) that HLL's inclusion–exclusion cannot
    express. Bottom-k of a fixed md5 family is a pure function of each
    value set, so the DuckDB oracle rebuilds the identical sketches and
    the identical fixed-order estimator arithmetic: the approximation
    itself is value-hash-gated (the hll_users pattern)."""
    from ..operators import sketch  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    return sketch.theta_set_ops(a, b, "user_id", k=256)


def _sql_theta_sets() -> str:
    from ..operators.sketch import theta_sql  # noqa: PLC0415

    return theta_sql(
        "CAST(user_id AS VARCHAR)",
        "(SELECT user_id FROM events WHERE event_type = 'click')",
        "CAST(user_id AS VARCHAR)",
        "(SELECT user_id FROM events WHERE event_type = 'purchase')",
        k=256)


def q_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimate (|clickers ∩ purchasers|) by
    inclusion–exclusion over MERGEABLE HLL sketches
    (sketch.hll_intersect_estimate): the union sketch is the
    per-register MAX merge — no rescan of either slice — alongside the
    exact semi-join count the oracle also recomputes. The approximation
    itself is value-checked: both engines build the identical register
    tables and apply the identical fixed-order estimate arithmetic."""
    from ..operators import sketch  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    est = sketch.hll_intersect_estimate(a, b, "user_id", p=10)
    # exact |A∩B| as ONE user-keyed flag aggregation (map-side
    # combinable) — rather than a distinct+distinct+semi-join+agg
    # plan: same value, one exchange instead of three, and at
    # sub-second scale the exchange count IS the runtime (see
    # FLOOR_MODEL_r15.json)
    exact = (ev.filter(F.col("event_type").isin("click", "purchase"))
             .groupBy("user_id")
             .agg(F.max(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).alias("_a"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("_b"))
             .filter((F.col("_a") == 1) & (F.col("_b") == 1))
             .agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
    return est.crossJoin(exact)


def _sql_hll_intersect(p: int = 10) -> str:
    from ..operators.sketch import _alpha, hll_sql  # noqa: PLC0415

    m, maxbits = 1 << p, 32 - p
    scale = 1 << (maxbits + 1)
    numer = _alpha(m) * m * m * scale

    def chunk(tag: str, cond: str) -> str:
        sub = f"(SELECT user_id FROM events WHERE event_type = '{cond}')"
        return (hll_sql("CAST(user_id AS VARCHAR)", "", p, table=sub)
                .strip()
                .replace("regs", f"regs_{tag}")
                .replace("hagg", f"hagg_{tag}")
                .replace("hest", f"hest_{tag}"))

    est = (f"CASE WHEN raw <= {2.5 * m!r} AND v > 0 "
           f"THEN {m} * ln({float(m)!r} / v) ELSE raw END")
    return f"""
WITH {chunk('a', 'click')},
{chunk('b', 'purchase')},
regs_u AS (
  SELECT reg, MAX(rank) AS rank FROM (
    SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b) GROUP BY reg),
hagg_u AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS hll_used,
         SUM(CAST(pow(2, {maxbits + 1} - rank) AS BIGINT)) AS s
  FROM regs_u),
hest_u AS (
  SELECT hll_used,
         {numer!r} / CAST(s + ({m} - hll_used) * {scale} AS DOUBLE) AS raw,
         {m} - hll_used AS v
  FROM hagg_u),
fin AS (
  SELECT (SELECT {est} FROM hest_a) AS ea,
         (SELECT {est} FROM hest_b) AS eb,
         (SELECT {est} FROM hest_u) AS eu),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
SELECT ROUND(ea, 6) AS est_a, ROUND(eb, 6) AS est_b,
       ROUND(eu, 6) AS est_union, ROUND(ea + eb - eu, 6) AS est_intersection,
       ex.n_exact
FROM fin, ex
"""


def q_hll_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event-time hour via the mergeable HLL sketch —
    the windowed-rollup shape a streaming pipeline keeps as state (register
    tables merge across windows/shards with groupBy-max), value-checked
    against the identically-recomputed sketch AND the exact count."""
    from ..operators import sketch  # noqa: PLC0415

    ev = t(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour"), "user_id")
    h = sketch.hll_distinct(ev, "user_id", ["hour"], p=10)
    exact = ev.groupBy("hour").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return (h.join(exact, "hour")
            .select("hour", "n_exact", "hll_used",
                    F.round("hll_estimate", 6).alias("hll_estimate")))


def _sql_hll_windowed(p: int = 10) -> str:
    from ..operators.sketch import hll_sql  # noqa: PLC0415

    m = 1 << p
    sub = "(SELECT date_trunc('hour', ts) AS hour, user_id FROM events)"
    return f"""
WITH {hll_sql("CAST(user_id AS VARCHAR)", "hour", p, table=sub).strip()},
ex AS (
  SELECT hour, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM {sub} GROUP BY hour)
SELECT e.hour, ex.n_exact, e.hll_used,
       ROUND(CASE WHEN raw <= {2.5 * m!r} AND v > 0
             THEN {m} * ln({float(m)!r} / v) ELSE raw END, 6) AS hll_estimate
FROM hest e JOIN ex USING (hour)
"""


# --- S5 true mutable-table MERGE/DELETE (sources.mutable) ---------------------


def q_mutable_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercise the versioned copy-on-write table end to end: create orders
    as a MutableTable, MERGE an update+insert batch, DELETE a key range,
    then aggregate the final snapshot. The oracle re-derives the merge
    relationally (anti-join + union), so the storage layer's snapshot
    semantics — not just the expression — are what's being checked."""
    import shutil  # noqa: PLC0415
    from pathlib import Path  # noqa: PLC0415

    from ..sources.mutable import MutableTable  # noqa: PLC0415

    orders = t(spark, sf_dir, "orders")
    path = (Path(__file__).resolve().parents[2]
            / "spark-warehouse" / "_mutable_demo")
    shutil.rmtree(path, ignore_errors=True)
    tab = MutableTable(spark, str(path), key="o_orderkey").create(orders)
    upd = (orders.filter(F.col("o_orderkey") % 10 == 3)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    ins = upd.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    tab.merge(upd.unionByName(ins))
    tab.delete(F.col("o_orderkey") % 10 == 7)
    return (tab.read().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 dsum("o_totalprice", 2).alias("sum_price")))


SQL_MUTABLE_MERGE = f"""
WITH src AS (
  SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT * REPLACE (o_orderkey + 10000000 AS o_orderkey,
                    o_totalprice * 2 AS o_totalprice)
  FROM orders WHERE o_orderkey % 10 = 3),
merged AS (
  SELECT * FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL SELECT * FROM src),
final AS (SELECT * FROM merged WHERE o_orderkey % 10 <> 7)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       {sql_dsum('o_totalprice', 2)} AS sum_price
FROM final GROUP BY o_orderstatus
"""


def q_mutable_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC through the storage layer: apply the same MERGE+DELETE
    as q_mutable_merge, then diff version 0 against the latest manifest.
    The diff only scans buckets whose owning version changed; the oracle
    re-derives the change set relationally from the batch definitions."""
    import shutil  # noqa: PLC0415
    from pathlib import Path  # noqa: PLC0415

    from ..sources.mutable import MutableTable  # noqa: PLC0415

    orders = t(spark, sf_dir, "orders")
    path = (Path(__file__).resolve().parents[2]
            / "spark-warehouse" / "_mutable_diff_demo")
    shutil.rmtree(path, ignore_errors=True)
    tab = MutableTable(spark, str(path), key="o_orderkey").create(orders)
    upd = (orders.filter(F.col("o_orderkey") % 10 == 3)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    ins = upd.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    tab.merge(upd.unionByName(ins))
    tab.delete(F.col("o_orderkey") % 10 == 7)
    return tab.snapshot_diff(0)


SQL_MUTABLE_DIFF = """
SELECT o_orderkey + 10000000 AS o_orderkey, 'insert' AS change
FROM orders WHERE o_orderkey % 10 = 3
UNION ALL
SELECT o_orderkey, 'update' FROM orders
WHERE o_orderkey % 10 = 3 AND o_totalprice * 2 <> o_totalprice
UNION ALL
SELECT o_orderkey, 'delete' FROM orders WHERE o_orderkey % 10 = 7
"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-status
    (count, exact-decimal sum) aggregate is maintained from the mutable
    table's change feed instead of a full rescan — retract the old row of
    every update/delete, apply the new row of every update/insert, add the
    deltas to the stored base aggregate. Decimal arithmetic makes the
    refresh EXACTLY equal to recomputing from scratch (the oracle does the
    recompute), and the change feed is manifest-pruned, so refresh cost
    scales with the mutation, not the table. The aggregate declares its
    tracked columns to snapshot_changes, so the CDC comparison and the
    parquet scan read key + 2 columns instead of the whole 54-column row
    (an update touching only untracked columns is a no-op for this view —
    exactly right for view maintenance)."""
    import shutil  # noqa: PLC0415
    from pathlib import Path  # noqa: PLC0415

    from ..sources.mutable import MutableTable  # noqa: PLC0415

    orders = t(spark, sf_dir, "orders")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    path = (Path(__file__).resolve().parents[2]
            / "spark-warehouse" / "_incr_agg_demo")
    shutil.rmtree(path, ignore_errors=True)
    tab = MutableTable(spark, str(path), key="o_orderkey").create(orders)
    # the maintained view, computed once at version 0 (exact decimal sum)
    base = (tab.read(version=0)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(dec(F.col("o_totalprice"))).alias("s")))
    # the same mutation batch as q_mutable_diff
    upd = (orders.filter(F.col("o_orderkey") % 10 == 3)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    ins = upd.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    tab.merge(upd.unionByName(ins))
    tab.delete(F.col("o_orderkey") % 10 == 7)

    ch = tab.snapshot_changes(0, columns=["o_orderstatus", "o_totalprice"])
    retract = (ch.filter(F.col("change").isin("update", "delete"))
               .select(F.col("old.o_orderstatus").alias("o_orderstatus"),
                       F.lit(-1).cast("long").alias("dn"),
                       (-dec(F.col("old.o_totalprice"))).alias("ds")))
    apply_ = (ch.filter(F.col("change").isin("update", "insert"))
              .select(F.col("new.o_orderstatus").alias("o_orderstatus"),
                      F.lit(1).cast("long").alias("dn"),
                      dec(F.col("new.o_totalprice")).alias("ds")))
    delta = (retract.unionByName(apply_)
             .groupBy("o_orderstatus")
             .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds")))
    return (base.join(delta, "o_orderstatus", "full_outer")
            .select("o_orderstatus",
                    (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
                    .alias("n_orders"),
                    F.round((F.coalesce(F.col("s"), F.lit(0).cast(
                        "decimal(28,6)"))
                        + F.coalesce(F.col("ds"), F.lit(0).cast(
                            "decimal(28,6)"))).cast("double"), 4)
                    .alias("total_price"))
            .filter(F.col("n_orders") > 0))


SQL_INCREMENTAL_AGG = """
WITH final AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
              ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 10 <> 7
  UNION ALL
  SELECT o_orderstatus, o_totalprice * 2
  FROM orders WHERE o_orderkey % 10 = 3)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DOUBLE), 4)
         AS total_price
FROM final GROUP BY o_orderstatus
"""


QUERIES = {
    "mutable_merge": q_mutable_merge,
    "mutable_diff": q_mutable_diff,
    "incremental_agg": q_incremental_agg,
    "hll_users": q_hll_users,
    "hll_intersect": q_hll_intersect,
    "theta_sets": q_theta_sets,
    "hll_windowed": q_hll_windowed,
    "interval_join": q_interval_join,
    "interval_join_outer": q_interval_join_outer,
    "stream_enrich": q_stream_enrich,
    "asof_join": q_asof_join,
    "quantile_profile": q_quantile_profile,
    "quantile_sketch": q_quantile_sketch,
    "rolling_time_sums": q_rolling_time_sums,
    "per_group_sample": q_per_group_sample,
    "event_transitions": q_event_transitions,
    "group_regression": q_group_regression,
    "rollup_counts": q_rollup_counts,
    "cube_counts": q_cube_counts,
    "scalar_subquery": q_scalar_subquery,
    "gap_fill": q_gap_fill,
    "pivot_counts": q_pivot_counts,
    "rank_family": q_rank_family,
    "set_ops": q_set_ops,
    "scd2_history": q_scd2_history,
    "scd2_lookup": q_scd2_lookup,
    "ab_lift": q_ab_lift,
    "winsorized_stats": q_winsorized_stats,
    "session_window": q_session_window,
    "capped_sessions": q_capped_sessions,
    "join3_topk": q_join3_topk,
    "join5_revenue": q_join5_revenue,
    "order_count_dist": q_order_count_dist,
    "band_join": q_band_join,
    "unpivot_measures": q_unpivot_measures,
    "revenue_share": q_revenue_share,
    "cdc_apply": q_cdc_apply,
    "group_count": q_group_count,
    "multi_group_count": q_multi_group_count,
    "tag_values": q_tag_values,
    "tag_explode": q_tag_explode,
    "median_by_group": q_median_by_group,
    "weighted_median": q_weighted_median,
    "weighted_median_by_group": q_weighted_median_by_group,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "range_join": q_range_join,
    "impute_median": q_impute_median,
    "distinct_on": q_distinct_on,
    "window_lag": q_window_lag,
    "running_sums": q_running_sums,
    "union_distinct": q_union_distinct,
    "union_slices": q_union_slices,
    "case_classify": q_case_classify,
    "filter_predicates": q_filter_predicates,
    "array_ops": q_array_ops,
    "first_int": q_first_int,
    "scalar_aggs": q_scalar_aggs,
    "haversine": q_haversine,
    "point_wkt": q_point_wkt,
    "tumbling_window": q_tumbling_window,
    "sliding_window": q_sliding_window,
    "dedup_events": q_dedup_events,
    "salted_group_count": q_salted_group_count,
    "salted_join": q_salted_join,
    "funnel_steps": q_funnel_steps,
    "key_skew": q_key_skew,
    "retention_cohorts": q_retention_cohorts,
    "zorder_values": q_zorder_values,
}

ORACLES = {
    "mutable_merge": SQL_MUTABLE_MERGE,
    "mutable_diff": SQL_MUTABLE_DIFF,
    "incremental_agg": SQL_INCREMENTAL_AGG,
    "hll_users": _sql_hll_users(),
    "hll_intersect": _sql_hll_intersect(),
    "theta_sets": _sql_theta_sets(),
    "hll_windowed": _sql_hll_windowed(),
    "interval_join": SQL_INTERVAL_JOIN,
    "interval_join_outer": SQL_INTERVAL_JOIN_OUTER,
    "stream_enrich": SQL_STREAM_ENRICH,
    "asof_join": SQL_ASOF_JOIN,
    "quantile_profile": SQL_QUANTILE_PROFILE,
    "quantile_sketch": SQL_QUANTILE_SKETCH,
    "rolling_time_sums": SQL_ROLLING_TIME_SUMS,
    "per_group_sample": SQL_PER_GROUP_SAMPLE,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "group_regression": SQL_GROUP_REGRESSION,
    "rollup_counts": SQL_ROLLUP_COUNTS,
    "cube_counts": SQL_CUBE_COUNTS,
    "scalar_subquery": SQL_SCALAR_SUBQUERY,
    "gap_fill": SQL_GAP_FILL,
    "pivot_counts": SQL_PIVOT_COUNTS,
    "rank_family": SQL_RANK_FAMILY,
    "set_ops": SQL_SET_OPS,
    "scd2_history": SQL_SCD2_HISTORY,
    "scd2_lookup": SQL_SCD2_LOOKUP,
    "ab_lift": SQL_AB_LIFT,
    "winsorized_stats": SQL_WINSORIZED_STATS,
    "session_window": SQL_SESSION_WINDOW,
    "capped_sessions": SQL_CAPPED_SESSIONS,
    "join3_topk": SQL_JOIN3_TOPK,
    "join5_revenue": SQL_JOIN5_REVENUE,
    "order_count_dist": SQL_ORDER_COUNT_DIST,
    "band_join": SQL_BAND_JOIN,
    "unpivot_measures": SQL_UNPIVOT_MEASURES,
    "revenue_share": SQL_REVENUE_SHARE,
    "cdc_apply": SQL_CDC_APPLY,
    "group_count": SQL_GROUP_COUNT,
    "multi_group_count": SQL_MULTI_GROUP_COUNT,
    "tag_values": SQL_TAG_VALUES,
    "tag_explode": SQL_TAG_EXPLODE,
    "median_by_group": SQL_MEDIAN_BY_GROUP,
    "weighted_median": SQL_WEIGHTED_MEDIAN,
    "weighted_median_by_group": SQL_WEIGHTED_MEDIAN_BY_GROUP,
    "semi_join": SQL_SEMI_JOIN,
    "anti_join": SQL_ANTI_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "impute_median": SQL_IMPUTE_MEDIAN,
    "distinct_on": SQL_DISTINCT_ON,
    "window_lag": SQL_WINDOW_LAG,
    "running_sums": SQL_RUNNING_SUMS,
    "union_distinct": SQL_UNION_DISTINCT,
    "union_slices": SQL_UNION_SLICES,
    "case_classify": SQL_CASE_CLASSIFY,
    "filter_predicates": SQL_FILTER_PREDICATES,
    "array_ops": SQL_ARRAY_OPS,
    "first_int": SQL_FIRST_INT,
    "scalar_aggs": SQL_SCALAR_AGGS,
    "haversine": SQL_HAVERSINE,
    "point_wkt": SQL_POINT_WKT,
    "tumbling_window": SQL_TUMBLING_WINDOW,
    "sliding_window": SQL_SLIDING_WINDOW,
    "dedup_events": SQL_DEDUP_EVENTS,
    "salted_group_count": SQL_SALTED_GROUP_COUNT,
    "salted_join": SQL_SALTED_JOIN,
    "funnel_steps": SQL_FUNNEL_STEPS,
    "key_skew": SQL_KEY_SKEW,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "zorder_values": _sql_zorder_values(),
}
