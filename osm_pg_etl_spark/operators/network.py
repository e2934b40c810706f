"""Network extraction + attribute rules — SURVEY §2.2 P4-P9, §2.3 J6, §2.1 S5-S6.

Builds the ``car_network`` (``osm-road-graphs.sql:8-28``) and
``complete_network`` (``osm-complete-graphs.sql:8-16,59-151``) tables from
``ways``, including:

- the include/exclude tag filters, preserving SQL three-valued logic:
  ``DELETE WHERE cond`` removes only rows where cond is TRUE, so rows with
  NULL tags survive — expressed as ``filter(~coalesce(cond, False))``;
- median speed-limit imputation as a broadcast left-join + coalesce
  (the UPDATE…FROM at ``osm-road-graphs.sql:49-54``);
- the ordered UPDATE cascade for per-mode access flags compiled into a
  single column expression per mode (``osm-complete-graphs.sql:63-151``),
  reproducing the reference's rule order *and* its operator-precedence
  quirk (``x IS NULL AND a OR b`` ≡ ``(x IS NULL AND a) OR b`` at
  ``:122-127`` and ``:146-151`` — the OR branch bypasses the NULL guard).

Scale: everything here is a narrow map over ``ways`` plus one broadcast
join against a tiny per-highway-class median table — no shuffle of the
fact table at any data size.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.arrays import array_first, array_last, first_int
from ..functions.geo import linestring_length_km
from ..functions.maps import tag_get
from .stats import median_by_group

# osm-road-graphs.sql:16-17
CAR_HIGHWAY_INCLUDE = (
    "motorway", "primary", "tertiary", "secondary", "primary_link",
    "tertiary_link", "secondary_link", "trunk", "residential",
    "unclassified", "living_street",
)

# osm-road-graphs.sql:21-27 — (tag key, denylisted values)
CAR_EXCLUDE_RULES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("bicycle", ("designated",)),
    ("foot", ("designated",)),
    ("bus", ("designated",)),
    ("footway", ("sidewalk", "crossing")),
    ("motor_vehicle", ("no", "private")),
    ("access", ("no", "private")),
    ("service", ("parking_aisle", "parking")),
)


def _network_projection(ways: DataFrame, extra: dict[str, Column]) -> DataFrame:
    """Shared projection of ``osm-road-graphs.sql:10-12`` /
    ``osm-complete-graphs.sql:10-14``. Length is geodesic km everywhere
    (the reference mixes planar meters and geodesic km; SURVEY §2.8 F10)."""
    cols = {
        "start_node": array_first("nodes"),
        "end_node": array_last("nodes"),
        "edge_id": F.col("id"),
        "tags": F.col("tags"),
        "nodes": F.col("nodes"),
        "length": linestring_length_km("linestring"),
        "speed_limit": first_int(tag_get("tags", "maxspeed")),
        "highway": tag_get("tags", "highway"),
        "oneway": tag_get("tags", "oneway"),
        "geom": F.col("linestring"),
    }
    cols.update(extra)
    return ways.select(*[c.alias(n) for n, c in cols.items()])


def car_network(ways: DataFrame) -> DataFrame:
    """``graphs.car_network`` (``osm-road-graphs.sql:8-28``): include-list
    filter on highway, then the exclusion DELETE re-expressed as a
    NULL-preserving inverse filter."""
    net = _network_projection(
        ways.filter(tag_get("tags", "highway").isin(*CAR_HIGHWAY_INCLUDE)), {})
    excl: Column = F.lit(False)
    for key, values in CAR_EXCLUDE_RULES:
        excl = excl | tag_get("tags", key).isin(*values)
    # DELETE WHERE excl drops TRUE rows only; NULL (missing tag) rows stay.
    return net.filter(~F.coalesce(excl, F.lit(False)))


# Every tag the mode-flag cascade probes beyond the always-projected
# highway/service/access — projected ONCE as plain columns by
# complete_network so with_mode_flags(tag=F.col) compiles each probe to
# an attribute reference instead of re-evaluating the tag expression at
# every probe site (the re-evaluating form measured 3× slower).
MODE_CASCADE_TAGS = ("bicycle", "cycleway", "foot", "footway",
                     "motor_vehicle", "bus")


def complete_network(ways: DataFrame) -> DataFrame:
    """``graphs.complete_network`` (``osm-complete-graphs.sql:8-16``): every
    highway-tagged way, with access/service — and every other tag the
    mode-flag cascade probes — projected as plain columns so the cascade
    can run in plain-column (single-evaluation) form."""
    return _network_projection(
        ways.filter(tag_get("tags", "highway").isNotNull()),
        {"service": tag_get("tags", "service"),
         "access": tag_get("tags", "access"),
         **{k: tag_get("tags", k) for k in MODE_CASCADE_TAGS}},
    )


def highway_maxspeed_values(network: DataFrame) -> DataFrame:
    """``tags_summary.highway_maxspeed_values`` (``osm-road-graphs.sql:32-40``)."""
    return (network.groupBy("highway", "speed_limit")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy("highway", F.desc("count")))


def impute_speed_limit(network: DataFrame,
                       medians_from: DataFrame | None = None) -> DataFrame:
    """Median imputation UPDATE…FROM (``osm-road-graphs.sql:43-54``,
    ``osm-complete-graphs.sql:33-46``): per-highway exact median of known
    speed limits, imputed into NULL rows.

    The reference's target column is INTEGER, so PostgreSQL rounds the
    numeric median half-away-from-zero on assignment — reproduced with
    ``round().cast("int")``. The median table is one row per highway class:
    broadcast join, zero shuffle of the network table.

    ``medians_from``: compute the per-highway medians over THIS table
    instead of ``network``. The osm_directed_graph gate imputes the
    *merged* network from the pre-split car network's medians — identical
    to imputing before the split (every merged segment copies
    (highway, speed_limit) verbatim from its single parent way, and the
    reference's UPDATE runs on the pre-split table), while letting the
    gate ride the shared cached ``merged`` table."""
    medians = median_by_group(
        network if medians_from is None else medians_from,
        ["highway"], "speed_limit", alias="_med")
    return (network.join(broadcast(medians), "highway", "left")
            .withColumn("speed_limit",
                        F.coalesce(F.col("speed_limit"),
                                   F.round(F.col("_med")).cast("int")))
            .drop("_med"))


# --- UPDATE-cascade compiler (P9) -------------------------------------------

Rule = tuple[Callable[[Column], Column], int]


def compile_update_cascade(initial: Column, rules: Sequence[Rule]) -> Column:
    """Compile an ordered sequence of ``UPDATE ... SET col = v WHERE cond``
    into one column expression, preserving sequential-update semantics:
    each rule fires only where its condition is TRUE (NULL → row untouched),
    and later rules see the value produced by earlier ones (conditions
    receive the *current* value expression, so ``col IS NULL AND ...``
    guards behave exactly as in the reference)."""
    current = initial
    for cond_of, value in rules:
        current = F.when(cond_of(current), F.lit(value)).otherwise(current)
    return current


def _t(key: str) -> Column:
    return tag_get("tags", key)


def mode_rule_sets(tg: Callable[[str], Column] = _t
                   ) -> tuple[tuple[Rule, ...], tuple[Rule, ...],
                              tuple[Rule, ...]]:
    """Build the (car, pedestrian, bicycle) cascade rule sets with ``tg``
    as the tag accessor. The default probes the ``tags`` map; passing
    ``F.col`` reads pre-projected plain tag columns instead — the probe
    then compiles to an attribute reference + ``INSET`` set-membership
    rather than re-evaluating the tag expression at every one of its ~15
    references (measured 3× on q_osm_mode_flags at sf0.1: 2.1 → 0.75 s —
    Catalyst's CollapseProject keeps the non-cheap tag expressions in
    their own projection when each is referenced more than once, so each
    tag is computed exactly once per row).

    ``access``/``service``/``highway`` are always read as plain columns:
    every caller (complete_network's projection, the plain-column gate)
    provides them."""
    # osm-complete-graphs.sql:68-80 — all-mode restrictions
    all_mode_zero: tuple[Callable[[Column], Column], ...] = (
        lambda cur: F.col("access").isin(
            "no", "private", "permit", "customers", "forestry",
            "agricultural", "military", "emergency", "bus", "delivery",
            "restricted"),
        lambda cur: F.col("service").isin(
            "drive-through", "emergency_access", "bus"),
        lambda cur: F.col("highway").isin(
            "disused", "dismantled", "razed", "rest_area", "corridor",
            "construction", "abandoned", "raceway", "proposed", "rest_area",
            "planned", "platform"),
    )
    car: tuple[Rule, ...] = tuple((c, 0) for c in all_mode_zero) + (
        # osm-complete-graphs.sql:84-87
        (lambda cur: tg("highway").isin("steps", "footway", "pedestrian",
                                        "cycleway", "bridleway", "elevator",
                                        "sidewalk"), 0),
        # osm-complete-graphs.sql:88-97
        (lambda cur: tg("bicycle").isin("designated")
            | tg("cycleway").isin("designated")
            | tg("foot").isin("designated")
            | tg("footway").isin("sidewalk", "crossing", "yes")
            | tg("motor_vehicle").isin("no", "private")
            | tg("service").isin("parking_aisle", "parking")
            | tg("bus").isin("designated"), 0),
        # osm-complete-graphs.sql:99-104 (NULL-guarded)
        (lambda cur: cur.isNull() & tg("highway").isin(
            "motorway", "primary", "tertiary", "secondary", "primary_link",
            "tertiary_link", "secondary_link", "trunk", "trunk_link",
            "motorway_link", "motorway_junction"), 1),
    )
    pedestrian: tuple[Rule, ...] = tuple((c, 0) for c in all_mode_zero) + (
        # osm-complete-graphs.sql:108-111
        (lambda cur: tg("highway").isin("motorway", "trunk", "trunk_link",
                                        "motorway_link",
                                        "motorway_junction"), 0),
        # osm-complete-graphs.sql:112-115
        (lambda cur: tg("bus").isin("designated"), 0),
        # osm-complete-graphs.sql:117-121 (NULL-guarded)
        (lambda cur: cur.isNull() & tg("highway").isin(
            "steps", "footway", "pedestrian", "bridleway", "elevator",
            "sidewalk", "living_street", "path"), 1),
        # osm-complete-graphs.sql:122-127 — precedence quirk preserved:
        # (pedestrian IS NULL AND foot=designated) OR footway IN (...)
        (lambda cur: (cur.isNull() & tg("foot").isin("designated"))
            | tg("footway").isin("sidewalk", "crossing", "yes"), 1),
    )
    bicycle: tuple[Rule, ...] = tuple((c, 0) for c in all_mode_zero) + (
        # osm-complete-graphs.sql:132-135
        (lambda cur: tg("highway").isin("motorway", "trunk", "trunk_link",
                                        "motorway_link",
                                        "motorway_junction"), 0),
        # osm-complete-graphs.sql:136-139
        (lambda cur: tg("bus").isin("designated"), 0),
        # osm-complete-graphs.sql:141-145 (NULL-guarded)
        (lambda cur: cur.isNull() & tg("highway").isin(
            "cycleway", "living_street"), 1),
        # osm-complete-graphs.sql:146-151 — same precedence quirk
        (lambda cur: (cur.isNull() & tg("bicycle").isin("designated"))
            | tg("cycleway").isin("designated"), 1),
    )
    return car, pedestrian, bicycle


CAR_RULES, PEDESTRIAN_RULES, BICYCLE_RULES = mode_rule_sets()


def with_mode_flags(network: DataFrame,
                    tag: Callable[[str], Column] | None = None) -> DataFrame:
    """Apply the full mode-flag cascade (``osm-complete-graphs.sql:59-151``):
    adds ``car``/``pedestrian``/``bicycle`` smallint-like columns with values
    in {0, 1, NULL}.

    ``tag``: tag accessor for the rule conditions — default probes the
    ``tags`` map column; pass ``F.col`` when the network has the tag
    values pre-projected as plain columns (see :func:`mode_rule_sets`)."""
    car, ped, bike = (CAR_RULES, PEDESTRIAN_RULES, BICYCLE_RULES) \
        if tag is None else mode_rule_sets(tag)
    null = F.lit(None).cast("int")
    return (network
            .withColumn("car", compile_update_cascade(null, car))
            .withColumn("pedestrian", compile_update_cascade(null, ped))
            .withColumn("bicycle", compile_update_cascade(null, bike)))
