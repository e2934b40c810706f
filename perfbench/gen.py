"""Seeded OSM extract generator and its ground truth.

One generator makes every workload's input: a set of disjoint towns, each a
street grid. Streets run along grid lines and are cut into ways spanning
one to three blocks, with zero to two shape nodes per block, so most nodes
belong to one way and intersections to two to four (realistic sharing, unlike
the TPC-H-derived gate world). Dead-end spurs, non-car ways (footway,
cycleway, parking aisles, private access) and every oneway form the directed
expansion distinguishes are mixed in. Stand-alone POI nodes feed the tag
catalog.

Outputs, under ``<cache>/<size>-<towns>x<rows>x<cols>-s<seed>/``:

- ``extract.osm.pbf``: written with the engine's own ``write_pbf``;
- ``nodes.parquet``, ``ways.parquet``, ``way_nodes.parquet``: pgsnapshot
  layout (ways carry their assembled linestring);
- ``directed.parquet``: the car network's directed edge list;
- ``batch/``: a seeded change batch (``ways``, ``way_nodes``, ``changed``);
- ``truth.json``: expected counts computed here in pure Python.

Coordinates are integers of 1e-7 degrees turned into floats exactly as the
PBF reader does, so the PBF and parquet forms hold equal values.

Usage: ``python3 perfbench/gen.py --seed 1 --size medium``
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

EARTH_RADIUS_KM = 6371.0088          # functions/geo.py
CAR_HIGHWAY = frozenset((           # operators/network.py CAR_HIGHWAY_INCLUDE
    "motorway", "primary", "tertiary", "secondary", "primary_link",
    "tertiary_link", "secondary_link", "trunk", "residential",
    "unclassified", "living_street"))
CAR_EXCLUDE = (("bicycle", ("designated",)), ("foot", ("designated",)),
               ("bus", ("designated",)), ("footway", ("sidewalk", "crossing")),
               ("motor_vehicle", ("no", "private")),
               ("access", ("no", "private")),
               ("service", ("parking_aisle", "parking")))


@dataclass(frozen=True)
class Size:
    towns: int
    rows: int
    cols: int


# medium's towns are small: the rounds of connected_components and
# shortest_paths_weighted grow with a town's hop diameter
SIZES = {
    "small": Size(towns=2, rows=12, cols=12),
    "medium": Size(towns=30, rows=4, cols=4),
}

# The shares below are chosen for coverage, not measured from real OSM:
# each value is one that the car filter, the directed expansion or the speed
# parse treats differently, and every extract holds each of them. Grid
# streets are 92% car roads, so every town stays one connected car network
# whatever the seed (steady sssp and component rounds). The rest (service,
# footway, cycleway) exercises the filter, as do the spurs, which carry most
# of the non-car classes. Motorways without a oneway tag exercise the
# directed expansion's NULL quirk (see :func:`directions`).
_STREET = (("residential", .55), ("tertiary", .12), ("secondary", .08),
           ("primary", .06), ("unclassified", .06), ("living_street", .02),
           ("motorway", .03), ("service", .03), ("footway", .03),
           ("cycleway", .02))
_SPUR = (("residential", .3), ("service", .3), ("footway", .25),
         ("cycleway", .15))
# every oneway form directed_network distinguishes; reversible drops out
_ONEWAY = ((None, .68), ("yes", .12), ("no", .12), ("-1", .05),
           ("reversible", .03))
# missing (imputed), plain, with a unit (first_int keeps the digits) and
# digit-free (parses to NULL)
_MAXSPEED = ((None, .4), ("50", .25), ("30", .15), ("50 mph", .1),
             ("none", .1))
_SPUR_P, _POI_P = .08, .05           # dead-end spurs, POIs per intersection
_POI = (("amenity", ("cafe", "school", "bank", "pharmacy")),
        ("shop", ("bakery", "supermarket", "kiosk")),
        ("leisure", ("park", "playground")), ("tourism", ("hotel", "museum")),
        ("railway", ("station", "level_crossing")), ("office", ("company",)),
        ("craft", ("carpenter",)), ("sport", ("soccer", "tennis")))
_T0 = np.datetime64("2020-01-01T00:00:00", "s")


def _pick(rng, table):
    vals, probs = zip(*table)
    return vals[int(rng.choice(len(vals), p=np.array(probs) / sum(probs)))]


def _deck(rng, table, n: int) -> list:
    """``n`` values from ``table``'s (value, share) pairs in fixed counts
    (largest remainder), in seeded order: every seed gets the same multiset,
    so sizes and the tag mix do not vary with the seed."""
    vals, shares = zip(*table)
    exact = [sh * n / sum(shares) for sh in shares]
    counts = [int(e) for e in exact]
    short = n - sum(counts)
    by_remainder = sorted(range(len(vals)), key=lambda i: counts[i] - exact[i])
    for i in by_remainder[:short]:
        counts[i] += 1
    deck = [v for v, c in zip(vals, counts) for _ in range(c)]
    return [deck[i] for i in rng.permutation(n)]


def _spans(rng, blocks: int, span) -> list[int]:
    """Way lengths in blocks covering a street of ``blocks`` blocks: the
    values of ``range(*span)`` in turn, the last one cut to fit, in seeded
    order."""
    out: list[int] = []
    vals = range(*span)
    while sum(out) < blocks:
        out.append(vals[len(out) % len(vals)])
    out[-1] -= sum(out) - blocks
    return [out[i] for i in rng.permutation(len(out))]


def _coord(raw: int) -> float:
    """1e-7-degree integer → float, the PBF reader's formula."""
    return 1e-9 * (0 + 100 * float(raw))


def _meta(rng) -> dict:
    uid = int(rng.integers(1, 40))
    return {"version": int(rng.integers(1, 6)), "user_id": uid,
            "user_name": f"user{uid}",
            "tstamp": _T0 + np.timedelta64(int(rng.integers(0, 10**8)), "s"),
            "changeset_id": int(rng.integers(1, 10**6))}


def _way_tags(rng, name: str, hw: str, oneway) -> dict:
    tags = {"highway": hw, "name": name}
    if oneway is not None:
        tags["oneway"] = oneway
    speed = _pick(rng, _MAXSPEED)
    if speed is not None:
        tags["maxspeed"] = speed
    if hw == "service" and rng.random() < .5:
        tags["service"] = "parking_aisle"
    if hw == "residential" and rng.random() < .05:
        tags["access"] = "private"
    if rng.random() < .2:
        tags["surface"] = "asphalt" if rng.random() < .7 else "gravel"
    if rng.random() < .05:
        tags["amenity"] = "parking"
    return tags


def build_world(seed: int, towns: int, rows: int, cols: int,
                shape_nodes=(0, 3), span=(1, 4), tags=None) -> dict:
    """Nodes and ways of ``towns`` disjoint ``rows`` × ``cols`` street grids.

    ``shape_nodes`` and ``span``: half-open ranges of shape nodes per block
    and of blocks per way. Counts are dealt from fixed decks (see
    :func:`_deck`), so the entity counts depend on the size alone.
    ``tags``: one tag dict for every way, which also turns off jitter,
    spurs and POIs (a dealt mix when None). Returns ``{"nodes": [...],
    "ways": [...]}`` of dicts in ``write_pbf``'s layout."""
    rng = np.random.default_rng(seed)
    nodes: list[dict] = []
    ways: list[dict] = []
    step = 20_000                        # 0.002 degrees between intersections
    jitter = 0 if tags is not None else 2_000

    def node(lon_raw: int, lat_raw: int, node_tags=None) -> int:
        nid = len(nodes) + 1
        nodes.append({"id": nid, "lon": _coord(lon_raw),
                      "lat": _coord(lat_raw), "tags": node_tags or {},
                      **_meta(rng)})
        return nid

    def way(refs: list[int], name: str, hw: str, oneway) -> None:
        wtags = dict(tags) if tags is not None \
            else _way_tags(rng, name, hw, oneway)
        ways.append({"id": len(ways) + 1, "nodes": refs, "tags": wtags,
                     **_meta(rng)})

    for t in range(towns):
        lon0, lat0 = 100_000_000 + t * 500_000, 450_000_000 + t * 300_000
        grid = [[node(lon0 + c * step, lat0 + r * step,
                      {"highway": "traffic_signals"}
                      if tags is None and rng.random() < .1 else None)
                 for c in range(cols)] for r in range(rows)]
        lines = [(f"Row {t}-{r}",
                  [(grid[r][c], lon0 + c * step, lat0 + r * step)
                   for c in range(cols)]) for r in range(rows)]
        lines += [(f"Column {t}-{c}",
                   [(grid[r][c], lon0 + c * step, lat0 + r * step)
                    for r in range(rows)]) for c in range(cols)]
        spans = [_spans(rng, len(line) - 1, span) for _, line in lines]
        n_ways = sum(map(len, spans))
        classes = iter(_deck(rng, _STREET, n_ways))
        oneways = iter(_deck(rng, _ONEWAY, n_ways))
        shapes = iter(_deck(rng, [(k, 1) for k in range(*shape_nodes)],
                            sum(len(line) - 1 for _, line in lines)))
        for (name, line), lengths in zip(lines, spans):
            i = 0
            for n in lengths:
                refs = [line[i][0]]
                for j in range(i, i + n):
                    (_, x0, y0), (nid1, x1, y1) = line[j], line[j + 1]
                    k = next(shapes)
                    for s in range(1, k + 1):
                        off = int(rng.integers(-jitter, jitter + 1)) \
                            if jitter else 0
                        fx = x0 + (x1 - x0) * s // (k + 1)
                        fy = y0 + (y1 - y0) * s // (k + 1)
                        refs.append(node(fx + (off if y0 != y1 else 0),
                                         fy + (off if x0 != x1 else 0)))
                    refs.append(nid1)
                way(refs, name, next(classes), next(oneways))
                i += n
        if tags is None:
            sites = rows * cols
            n_spurs, n_pois = round(_SPUR_P * sites), round(_POI_P * sites)
            spur_len = _deck(rng, ((1, 1), (2, 1), (3, 1)), n_spurs)
            spur_hw = _deck(rng, _SPUR, n_spurs)
            spur_ow = _deck(rng, _ONEWAY, n_spurs)
            for i, site in enumerate(sorted(rng.choice(sites, n_spurs,
                                                       replace=False))):
                r, c = divmod(int(site), cols)
                x, y = lon0 + c * step, lat0 + r * step
                refs = [grid[r][c]] + [node(x + s * step // 8,
                                            y + s * step // 7)
                                       for s in range(1, spur_len[i] + 1)]
                way(refs, f"Close {t}-{r}-{c}", spur_hw[i], spur_ow[i])
            for site in sorted(rng.choice(sites, n_pois, replace=False)):
                r, c = divmod(int(site), cols)
                key, vals = _POI[int(rng.integers(len(_POI)))]
                node(lon0 + c * step + step // 3,
                     lat0 + r * step + step // 4,
                     {key: vals[int(rng.integers(len(vals)))],
                      "name": f"POI {t}-{r}-{c}"})
    return {"nodes": nodes, "ways": ways}


# ---------------------------------------------------------------------------
# ground truth (pure Python mirror of the reference semantics)
# ---------------------------------------------------------------------------


def haversine_km(lon1, lat1, lon2, lat2) -> float:
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = (math.sin(dlat / 2) ** 2 + math.cos(math.radians(lat1))
         * math.cos(math.radians(lat2)) * math.sin(dlon / 2) ** 2)
    return 2.0 * EARTH_RADIUS_KM * math.asin(min(1.0, math.sqrt(a)))


def is_car(tags: dict) -> bool:
    """``car_network``'s include list and NULL-preserving exclusions."""
    if tags.get("highway") not in CAR_HIGHWAY:
        return False
    return not any(tags.get(k) in vals for k, vals in CAR_EXCLUDE)


def split_segments(ways: list[dict]) -> list[tuple[int, int, int]]:
    """``merged_network`` as (way id, first seq, last seq) ranges: split at
    interior nodes used more than once among ``ways`` (occurrences, not
    distinct ways); ways of ≤ 2 nodes never split; a shared final node is a
    boundary and a dead-end tail closes the way."""
    count: dict[int, int] = {}
    for w in ways:
        for n in w["nodes"]:
            count[n] = count.get(n, 0) + 1
    out = []
    for w in ways:
        refs = w["nodes"]
        last = len(refs) - 1
        bounds = [i for i in range(1, last + 1) if count[refs[i]] > 1]
        if last <= 1 or not any(i < last for i in bounds):
            out.append((w["id"], 0, last))
            continue
        lo = 0
        for b in bounds:
            out.append((w["id"], lo, b))
            lo = b
        if lo < last:
            out.append((w["id"], lo, last))
    return out


def directions(tags: dict) -> tuple[str, ...]:
    """``directed_network``'s slices under SQL three-valued logic: a
    motorway with no oneway tag matches none and drops out."""
    hw, ow = tags.get("highway"), tags.get("oneway")
    out: tuple[str, ...] = ()
    if (ow is None or ow == "no") and hw != "motorway":
        out += ("f", "r")
    if ow == "yes" or (hw == "motorway" and ow is not None and ow != "-1"):
        out += ("f",)
    if ow == "-1":
        out += ("r",)
    return out


def count_components(edges) -> int:
    """Connected components of an edge list, by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(x) for x in parent})


def network_truth(nodes: list[dict], ways: list[dict]) -> dict:
    """Expected merged/directed network of the car filter, plus the
    complete (any highway) network's segment count."""
    pos = {n["id"]: (n["lon"], n["lat"]) for n in nodes}
    car = [w for w in ways if is_car(w["tags"])]
    by_id = {w["id"]: w for w in car}
    segs, directed = [], []
    for wid, lo, hi in split_segments(car):
        w = by_id[wid]
        refs = w["nodes"][lo:hi + 1]
        length = sum(haversine_km(*pos[a], *pos[b])
                     for a, b in zip(refs, refs[1:]))
        segs.append((wid, refs[0], refs[-1], len(refs), length))
        for d in directions(w["tags"]):
            e = (refs[0], refs[-1]) if d == "f" else (refs[-1], refs[0])
            directed.append((*e, wid, length,
                             first_int(w["tags"].get("maxspeed"))))
    complete = [w for w in ways if "highway" in w["tags"]]
    return {
        "car_ways": len(car),
        "car_segments": len(segs),
        "car_length_km": sum(s[4] for s in segs),
        "complete_segments": len(split_segments(complete)),
        "directed_edges": len(directed),
        "components": count_components((a, b) for a, b, *_ in directed),
        "segments": segs,
        "directed": directed,
    }


def first_int(v):
    """``functions.arrays.first_int``: the first run of digits, or None."""
    digits = "".join(c if c.isdigit() else " " for c in v or "").split()
    return int(digits[0]) if digits else None


def change_batch(seed: int, ways: list[dict]) -> tuple[list, list]:
    """The change batch: delete ways, drop the last node of ≥ 3-node ways,
    and tag ways ``access=private`` (out of the car filter), each kind
    covering exactly 1% of the way_nodes refs (about 1% of the ways), so
    every seed changes the same number of refs. Returns (new ways, changed
    way ids)."""
    rng = np.random.default_rng([seed, 1])
    budget = round(.01 * sum(len(w["nodes"]) for w in ways))
    order = rng.permutation(len(ways)).tolist()
    taken: set[int] = set()

    def pick(min_nodes: int) -> set[int]:
        left, out = budget, set()
        for i in order:
            n = len(ways[i]["nodes"])
            if i not in taken and min_nodes <= n <= left:
                out.add(ways[i]["id"])
                taken.add(i)
                left -= n
                if not left:
                    break
        return out

    deleted, truncated, retagged = pick(1), pick(3), pick(1)
    out = []
    for w in ways:
        if w["id"] in truncated:
            w = {**w, "nodes": w["nodes"][:-1]}
        elif w["id"] in retagged:
            w = {**w, "tags": {**w["tags"], "access": "private"}}
        if w["id"] not in deleted:
            out.append(w)
    return out, sorted(deleted | truncated | retagged)


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------


def _write_tables(out: str, nodes: list[dict], ways: list[dict],
                  with_nodes: bool = True) -> None:
    tags_t = pa.map_(pa.string(), pa.string())
    ts = pa.timestamp("us", tz="UTC")
    meta = [("version", pa.int32()), ("user_id", pa.int32()),
            ("tstamp", ts), ("changeset_id", pa.int64())]

    def common(rows):
        cols = {"id": pa.array([r["id"] for r in rows], pa.int64())}
        for name, typ in meta:
            vals = [r[name] for r in rows]
            if name == "tstamp":
                vals = np.array(vals, dtype="datetime64[us]")
            cols[name] = pa.array(vals, typ)
        cols["tags"] = pa.array([list(r["tags"].items()) for r in rows],
                                tags_t)
        return cols

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    pos = {n["id"]: (n["lon"], n["lat"]) for n in nodes}
    if with_nodes:
        write("nodes", {**common(nodes),
                        "lon": pa.array([n["lon"] for n in nodes]),
                        "lat": pa.array([n["lat"] for n in nodes])})
    point = pa.struct([("lon", pa.float64()), ("lat", pa.float64())])
    write("ways", {**common(ways),
                   "nodes": pa.array([w["nodes"] for w in ways],
                                     pa.list_(pa.int64())),
                   "linestring": pa.array(
                       [[{"lon": pos[n][0], "lat": pos[n][1]}
                         for n in w["nodes"]] for w in ways],
                       pa.list_(point))})
    write("way_nodes", {
        "way_id": pa.array([w["id"] for w in ways for _ in w["nodes"]],
                           pa.int64()),
        "node_id": pa.array([n for w in ways for n in w["nodes"]],
                            pa.int64()),
        "sequence_id": pa.array([i for w in ways
                                 for i in range(len(w["nodes"]))],
                                pa.int32())})


def _write_directed(out: str, directed: list[tuple]) -> None:
    names = ("start_node", "end_node", "edge_id", "length", "speed_limit")
    types = (pa.int64(), pa.int64(), pa.int64(), pa.float64(), pa.int32())
    pq.write_table(pa.table({n: pa.array([e[i] for e in directed], t)
                             for i, (n, t) in enumerate(zip(names, types))}),
                   os.path.join(out, "directed.parquet"))


def _to_pbf_dicts(rows: list[dict]) -> list[dict]:
    return [{**r, "tstamp": r["tstamp"].astype("datetime64[ms]")}
            for r in rows]


def generate(seed: int, size: str, cache: str = CACHE) -> str:
    """Write (once) and return the extract directory for (seed, size)."""
    from osm_pg_etl_spark.sources.pbf import write_pbf

    spec = SIZES[size]
    out = os.path.join(cache, f"{size}-{spec.towns}x{spec.rows}x{spec.cols}"
                              f"-s{seed}")
    if os.path.exists(os.path.join(out, "truth.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    world = build_world(seed, spec.towns, spec.rows, spec.cols)
    nodes, ways = world["nodes"], world["ways"]
    write_pbf(os.path.join(tmp, "extract.osm.pbf"), _to_pbf_dicts(nodes),
              _to_pbf_dicts(ways))
    _write_tables(tmp, nodes, ways)
    net = network_truth(nodes, ways)
    _write_directed(tmp, net["directed"])
    truth = {k: v for k, v in net.items() if k not in ("segments",
                                                         "directed")}
    truth.update(seed=seed, size=size, nodes=len(nodes), ways=len(ways),
                 way_nodes=sum(len(w["nodes"]) for w in ways),
                 highway_ways=sum("highway" in w["tags"] for w in ways),
                 highway_oneway_ways=sum("highway" in w["tags"]
                                         and "oneway" in w["tags"]
                                         for w in ways))
    new_ways, changed = change_batch(seed, ways)
    bdir = os.path.join(tmp, "batch")
    os.makedirs(bdir)
    _write_tables(bdir, nodes, new_ways, with_nodes=False)
    pq.write_table(pa.table({"way_id": pa.array(changed, pa.int64())}),
                   os.path.join(bdir, "changed.parquet"))
    bnet = network_truth(nodes, new_ways)
    changed_ids = set(changed)
    truth["batch"] = {
        "changed": len(changed),
        "changed_refs": sum(len(w["nodes"]) for w in ways
                            if w["id"] in changed_ids),
        "car_segments": bnet["car_segments"],
        "directed_edges": bnet["directed_edges"]}
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    try:
        os.rename(tmp, out)
    except OSError:                      # a concurrent writer won the race
        import shutil
        shutil.rmtree(tmp)
    return out


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", choices=sorted(SIZES), required=True)
    p.add_argument("--cache", default=CACHE)
    args = p.parse_args(argv)
    print(generate(args.seed, args.size, args.cache))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    main()
