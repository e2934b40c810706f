"""Distributed graph algorithms over edge-list DataFrames.

The reference stops at exporting a minimal edge list to igraph for network
analysis (``osm-pg-etl.md:31-105``: ``Graph.TupleList`` → components /
centrality → CSV COPY back). For 100 TB graphs that single-process hop is
the bottleneck, so the first analysis step — connected components — is
implemented natively on DataFrames here; the igraph export
(:mod:`.export`) stays available for the long tail of single-node analyses.

Connected components doubles as the *dedup clustering* step of a training
-data pipeline: near-duplicate pairs (MinHash/SimHash/embedding) are edges,
and each document keeps the minimum doc_id of its component as the
canonical representative.

Algorithm: alternating large-star/small-star contraction [Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014]. Each round rewires
edges toward neighborhood minima; the edge set converges to a star forest
whose centers are the component minima in O(log²) rounds *independent of
graph diameter* — a continental road network (diameter in the thousands)
converges in tens of rounds where plain hash-min label propagation
needs diameter-many. Every step is a groupBy-min
+ equi-join on node id (shuffle-keyed the same way), lineage truncated per
round; convergence is a cheap (count, hash-sum) fixpoint on the edge set.

The loops share two drivers: :func:`_relax_frontier` (frontier
Bellman-Ford, for every shortest-path operator) and :func:`_until_stable`
(run until the observed signature repeats: components, the radius
shortcut doubling, k-core). Static per-round tables live in
:func:`_iter_cache` scopes, which release their cache on exit.
"""

from __future__ import annotations

import itertools
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# unique observed-metric names for _ckpt_observe (one per materialization;
# the name only has to be unique within a single QueryExecution, but a
# process-wide counter keeps debugging unambiguous)
_PROBE_SEQ = itertools.count()

# cap on shortest_paths_radius's shortcut doubling (truncation is safe)
_MAX_SHORTCUT_ROUNDS = 20
# label_propagation checkpoints every this many rounds
_LPA_CHECKPOINT_EVERY = 4


def symmetric_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of an edge list: both directions, self-loops dropped,
    deduplicated."""
    e = edges.select(F.col(src).cast("long").alias("a"),
                     F.col(dst).cast("long").alias("b"))
    return (e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct())


@contextmanager
def _cached(df: DataFrame):
    """Cache ``df`` for the ``with`` block and unpersist it on exit, also
    when the block raises. Whatever the operator returns must be
    materialized (checkpointed) inside the block: a plan that still reads
    the table after the scope closes would silently recompute it."""
    df = df.cache()
    try:
        yield df
    finally:
        df.unpersist()


def _iter_cache(df: DataFrame, *keys: str):
    """Scoped cache (:func:`_cached`) of a table that a round loop will
    equi-join on ``keys[0]`` every iteration: localCheckpoint (rounds
    embed a plan LEAF, so per-round optimizer cost stays flat), then
    hash-partition on the join key, sort within partitions by all join
    keys, and cache.

    The cache — not the checkpoint — is what makes the rounds cheap: an
    InMemoryRelation preserves outputPartitioning AND outputOrdering, so
    every round's sort-merge join reads the table with NO exchange and NO
    sort, while a bare ``localCheckpoint`` reports UnknownPartitioning
    from its LogicalRDD (verified on 4.1.2), so every round would
    re-shuffle and re-sort the full table. One partitioning established
    once, reused by every keyed round — guide §2.4. The partition count
    follows ``spark.sql.shuffle.partitions`` (scale-configured, not
    hard-coded); a mismatch on the other (per-round, much smaller) side of
    the join costs only that side's exchange.

    The checkpoint runs at the call; the cache is registered only when the
    scope is entered. So a loop can build its next tables from the current
    ones, release the current scope, and only then enter the next."""
    return _cached(df.localCheckpoint()
                   .repartition(keys[0])
                   .sortWithinPartitions(*keys))


def _ckpt_observe(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` with the given AGGREGATE expressions folded
    into the materialization job as observed metrics (guide §1.4/§2.1).

    Every fixpoint loop in this module must read a per-round scalar (row
    count, change count, or a (count, hash) signature) from the table it
    just checkpointed. Running that as a separate ``.agg().collect()`` /
    ``.count()`` costs one extra scheduler job per round locally AND — the
    100-TB cost — one extra full pass over the round's materialized RDD.
    ``Dataset.observe`` computes the same aggregates in the checkpoint's
    own tasks (CollectMetricsExec is a pass-through; the checkpointed rows
    are identical), and the metrics arrive with the action's completion
    event (verified on 4.1.2), so the probe becomes free.

    The metrics are read SYNCHRONOUSLY from the executed plan's
    ``QueryExecution.observedMetrics`` (complete when the action returns:
    the DAGScheduler merges task accumulators before job completion) —
    NOT via ``Observation.get``, which waits on the asynchronous listener
    bus: under the event backlog of a many-job session that wait measured
    SLOWER than the separate probe job it replaces (osm_louvain_refined
    +2–3 s/run), while the synchronous read beats both (102 ms vs 123 ms
    listener vs 180 ms separate-job per checkpoint+probe round, idle
    session, 30 reps).

    The observed values equal the separate aggregation's exactly: a
    localCheckpoint computes every partition exactly once. (On a cluster
    with speculative execution a duplicated task attempt could distort a
    metric; signature COMPARISONS tolerate that the same way they already
    tolerate xxhash collisions — a distorted signature can only fail to
    match, forcing one extra round, unless it collides.)

    The synchronous read leans on private API
    (``QueryExecution.observedMetrics`` + ``PythonSQLUtils.toPyRow``); a
    Spark minor bump that moves either falls back to one separate probe
    job over the checkpointed rows — same values (the checkpoint is
    materialized and deterministic), just one more job per round, so
    every loop in this module degrades gracefully instead of breaking.

    Returns ``(checkpointed_df, metrics_dict)``.
    """
    name = f"_ckpt_probe_{next(_PROBE_SEQ)}"
    od = df.observe(name, *metrics)
    ck = od.localCheckpoint()
    try:
        return ck, _read_observed(od, name)
    except Exception:
        return ck, ck.agg(*metrics).collect()[0].asDict()


def _read_observed(od: DataFrame, name: str) -> dict:
    """Synchronous observed-metrics read off the executed plan (private
    API; see _ckpt_observe). Split out so tests can monkeypatch it to
    raise and exercise the public-API fallback."""
    from pyspark.serializers import CPickleSerializer

    jrow = od._jdf.queryExecution().observedMetrics().apply(name)
    utils = getattr(od.sparkSession._jvm,
                    "org.apache.spark.sql.api.python.PythonSQLUtils")
    return CPickleSerializer().loads(utils.toPyRow(jrow)).asDict()


def _sig_metrics(*hash_cols: str) -> tuple:
    """The (count, xxhash-sum) fixpoint-signature aggregates used by the
    contraction/doubling loops, as observe-able metric expressions."""
    return (F.count(F.lit(1)).alias("c"),
            F.coalesce(F.sum(F.xxhash64(*hash_cols).cast("decimal(38,0)")),
                       F.lit(0)).alias("h"))


def _until_stable(step, state: DataFrame, metrics: tuple,
                  max_rounds: int, sig: dict | None = None):
    """Signature-stability loop: ``state = step(state)``, checkpointed with
    ``metrics`` observed in the checkpoint job (:func:`_ckpt_observe`),
    until the observed signature repeats or ``max_rounds`` run out. ``sig``
    is the starting state's signature when the caller already has it.
    Returns ``(state, rounds)``; the round that finds the repeat counts."""
    rounds = 0
    while rounds < max_rounds:
        state, m = _ckpt_observe(step(state), *metrics)
        rounds += 1
        if m == sig:
            break
        sig = m
    return state, rounds


def _relax_frontier(dist: DataFrame, relax, keys: list[str],
                    max_rounds: int):
    """Frontier Bellman-Ford over ``dist`` (``keys`` + ``dist``).
    ``relax(frontier)`` returns the candidate rows (``keys`` + ``dist``)
    reached from the frontier, the rows whose distance improved in the
    previous round.

    Relaxing only the frontier gives the same table as full relaxation,
    round for round: a row whose distance did not change already
    contributed its edges, with the same value, the round after it last
    improved, and (min, +) only accumulates. Existing rows carry their
    distance in ``prev`` and candidates carry NULL, so after the per-key
    min the improved rows are exactly ``prev IS NULL OR dist < prev``;
    their count rides the checkpoint job as an observed metric. Returns
    ``(dist, rounds, changed)``, where ``changed`` is the count still
    improving in the last round (0 at the fixpoint, -1 if no round ran).
    """
    improved = F.col("prev").isNull() | (F.col("dist") < F.col("prev"))
    frontier, rounds, changed = dist, 0, -1
    while rounds < max_rounds and changed != 0:
        cand = relax(frontier).select(
            *keys, "dist", F.lit(None).cast("double").alias("prev"))
        cur = dist.select(*keys, "dist", F.col("dist").alias("prev"))
        new, m = _ckpt_observe(
            cur.unionByName(cand)
            .groupBy(*keys).agg(F.min("dist").alias("dist"),
                                F.min("prev").alias("prev")),
            F.count(F.when(improved, 1)).alias("chg"))
        frontier = new.filter(improved).select(*keys, "dist")
        dist = new.select(*keys, "dist")
        changed = m["chg"]
        rounds += 1
    return dist, rounds, changed


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 50,
                         return_rounds: bool = False):
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable from it — deterministic
    regardless of partitioning or iteration order (every step is a min over
    a set).

    Alternating star contraction (Kiveris et al. 2014), edges kept oriented
    larger→smaller so each undirected edge is stored once:

    - **large-star** (per node u over its full neighborhood Γ(u)): link
      every neighbor v > u to m = min(Γ(u) ∪ {u}).
    - **small-star** (per node u over its smaller neighbors): link every
      v ∈ Γ≤(u) ∪ {u} to their minimum.

    Both are a groupBy-min plus an equi-join on the same node key (AQE
    coalesces the tiny late rounds); the edge set shrinks monotonically
    toward a star forest, detected by a (count, xxhash-sum) fixpoint —
    one scalar collect per round, no change-join. ``localCheckpoint``
    truncates lineage so plan size stays constant (a real cluster job
    would use a checkpoint dir for fault tolerance instead).

    ``return_rounds=True`` additionally returns the number of contraction
    rounds — the scale-stress harness asserts the O(log²) bound on
    long-path graphs where diameter-bound propagation would need
    thousands of rounds.
    """
    und = symmetric_edges(edges, src, dst).localCheckpoint()
    nodes = und.select(F.col("a").alias("node")).distinct().localCheckpoint()
    e = und.where(F.col("a") > F.col("b")).localCheckpoint()

    def contract(e):
        # large-star over the symmetric view; output (v, m) keeps the
        # larger→smaller orientation since m <= u < v
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (sym.groupBy("a").agg(F.min("b").alias("_mn"))
                .select("a", F.least("_mn", "a").alias("m")))
        ls = (sym.join(mins, "a")
              .where(F.col("b") > F.col("a"))
              .select(F.col("b").alias("a"), F.col("m").alias("b"))
              .where(F.col("a") != F.col("b"))
              .distinct())
        # small-star over the oriented edges: all of Γ≤(u) ∪ {u} → min
        mins2 = ls.groupBy("a").agg(F.min("b").alias("m"))
        return (ls.join(mins2, "a")
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .unionByName(mins2.select("a", F.col("m").alias("b")))
                .where(F.col("a") != F.col("b"))
                .distinct())

    e, rounds = _until_stable(contract, e, _sig_metrics("a", "b"), max_iter)

    parents = e.select(F.col("a").alias("node"),
                       F.col("b").alias("component"))
    out = (nodes.join(parents, "node", "left")
           .select("node",
                   F.coalesce("component", F.col("node")).alias("component")))
    return (out, rounds) if return_rounds else out


def shortest_paths(edges: DataFrame, source: int, max_hops: int = 4,
                   src: str = "src", dst: str = "dst",
                   weight: str = "w") -> DataFrame:
    """Single-source shortest distances using at most ``max_hops`` edges —
    ``max_hops`` rounds of synchronous Bellman-Ford relaxation, the routing
    primitive behind the reference's "further routing with iGraph"
    (``osm-road-graphs.sql:56``, ``osm-pg-etl.md:31-62``) run distributed.

    Each round is one equi-join on the frontier + a min-aggregation; with
    ``max_hops`` = graph diameter it is exact SSSP. Results are
    deterministic: float ``(min, +)`` is still a monotone semiring
    (x ≤ y ⇒ a+x ≤ a+y in IEEE), so the k-round result equals the exact
    minimum over all ≤k-edge path sums. Returns (node, dist); unreached
    nodes are absent. The rounds relax only the frontier
    (:func:`_relax_frontier`), which yields the full-relaxation table
    round for round, and stop early once no distance improves.
    """
    dist = edges.sparkSession.createDataFrame([(int(source), 0.0)],
                                              "node long, dist double")
    with _iter_cache(edges.select(F.col(src).cast("long").alias("u"),
                                  F.col(dst).cast("long").alias("v"),
                                  F.col(weight).cast("double").alias("w")),
                     "u") as e:
        dist, _, _ = _relax_frontier(
            dist,
            lambda f: (e.join(f, e["u"] == f["node"])
                       .select(e["v"].alias("node"),
                               (f["dist"] + e["w"]).alias("dist"))),
            ["node"], max_hops)
    return dist


def shortest_paths_weighted(edges: DataFrame, source,
                            src: str = "src", dst: str = "dst",
                            weight: str = "w", max_rounds: int = 200,
                            return_rounds: bool = False):
    """Exact single-source weighted shortest distances: synchronous
    Bellman-Ford relaxed to the FIXPOINT, not a hop bound — the missing
    piece between :func:`shortest_paths` (exact only when ``max_hops`` ≥
    diameter, and road networks have diameters in the hundreds) and the
    reference's pgrouting/igraph routing step (``etl/osm-load.sh:17``
    loads pgrouting; ``osm-pg-etl.md:31-62`` routes in igraph).

    Each round relaxes only from the FRONTIER (:func:`_relax_frontier`),
    whose per-round tables equal full relaxation's, which keeps the
    unrolled full-relaxation oracle exact. Frontiers shrink fast once the
    wave passes, so late rounds join a handful of rows against the edge
    list instead of every settled node. Convergence is an EXACT set test
    folded into the same aggregation (doubles compare exactly because
    both engines compute the same left-to-right path sums). Worst case
    rounds = longest shortest path in edges (bounded by ``max_rounds``);
    on topology-merged road graphs the measured count is tens, not
    hundreds.

    ``source`` may be a single node id (anything ``int()`` accepts that
    is not a bool or an iterable — numpy scalars included; returns
    (node, dist)) or a LIST of ids — multi-source mode keys everything
    on (s, node) so all waves advance in the same rounds and k sources
    cost the same shuffle count as one (the many-to-many accessibility
    primitive; returns (s, node, dist)). Unreached nodes are absent
    either way; round count returned when ``return_rounds``.

    If ``max_rounds`` is exhausted before the fixpoint the distances are
    TRUNCATED (a high-diameter graph would otherwise return incomplete
    output indistinguishable from a converged result), so a
    ``RuntimeWarning`` is emitted; callers that need a hard guarantee
    pass ``return_rounds=True`` and assert ``rounds < max_rounds``.
    """
    import warnings
    from collections.abc import Iterable

    if isinstance(source, bool):
        raise TypeError("source must be a node id or a list of node ids, "
                        "not a bool")
    single = not isinstance(source, Iterable)
    sources = [int(source)] if single else [int(x) for x in source]
    # multi-source: every wave advances in the SAME rounds keyed on
    # (s, node) — k sources cost the same shuffle count as one (the
    # sigma_table pattern), the many-to-many accessibility primitive
    dist = edges.sparkSession.createDataFrame(
        [(s, s, 0.0) for s in sources], "s long, node long, dist double")
    # keyed on u: every relaxation round joins the static edge list on the
    # frontier's node key without re-shuffling or re-sorting it
    with _iter_cache(edges.select(F.col(src).cast("long").alias("u"),
                                  F.col(dst).cast("long").alias("v"),
                                  F.col(weight).cast("double").alias("w")),
                     "u") as e:
        dist, rounds, changed = _relax_frontier(
            dist,
            lambda f: (e.join(f, e["u"] == f["node"])
                       .select(f["s"], e["v"].alias("node"),
                               (f["dist"] + e["w"]).alias("dist"))),
            ["s", "node"], max_rounds)
    if changed:
        warnings.warn(
            f"shortest_paths_weighted stopped at max_rounds={max_rounds} "
            f"before the fixpoint ({changed} distances still improving); "
            "returned distances are truncated", RuntimeWarning,
            stacklevel=2)
    if single:
        dist = dist.select("node", "dist")
    return (dist, rounds) if return_rounds else dist


def shortest_paths_radius(edges: DataFrame, source,
                          delta: float,
                          src: str = "src", dst: str = "dst",
                          weight: str = "w", max_rounds: int = 200,
                          return_rounds: bool = False):
    """Exact weighted SSSP whose round count is bounded by DISTANCE
    BUCKETS, not graph hop diameter — the scale path past
    :func:`shortest_paths_weighted`, whose synchronous Bellman-Ford pays
    one Spark job per hop of the shortest-path tree (exactly N rounds on
    an N-node path per ``scale_stress.py sssp``; a continent road graph —
    the reference's real routing target, ``etl/osm-load.sh:17`` loads
    pgrouting for it — has hop diameters in the thousands).

    Radius stepping [Blelloch, Gu, Sun & Tangwongsan, "Parallel Shortest
    Paths Using Radius Stepping", SPAA 2016]: first augment the edge list
    with SHORTCUTS — the min-plus closure of all sub-``delta`` paths,
    built by log-doubling (square the shortcut set, keep sums < Δ, stop
    at a (count, hash) fixpoint — ≤ log₂(hops-within-Δ) rounds) — then
    run the ordinary frontier Bellman-Ford on the augmented list. Every
    shortcut carries a real path length, so augmented distances equal
    original distances EXACTLY; but with all sub-Δ hops collapsed to one
    edge, any two consecutive frontier rounds advance the wave ≥ Δ
    (standard radius-stepping argument), so relaxation rounds ≤
    2·max_dist/Δ + heavy-edge hops. Total Spark-job rounds =
    shortcut-doubling + relaxation: on the N-path with Δ=64 that is
    ~6 + N/32 instead of N.

    Cost model for choosing Δ: shortcut storage is Σ_u |ball(u, Δ)| —
    pick Δ so the average Δ-ball holds O(k) nodes (road networks: Δ of a
    few km ⇒ tens of neighbors) and both the doubling join and the
    per-round frontier fan-out stay k-bounded. ``_MAX_SHORTCUT_ROUNDS``
    caps the doubling; truncation is SAFE (fewer shortcuts only means
    more relaxation rounds, never wrong distances). Weights must be
    non-negative. Same source/dispatch/return contract as
    :func:`shortest_paths_weighted`.
    """
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"),
                      F.col(weight).cast("double").alias("w"))
         .localCheckpoint())
    # NOTE the shortcut-doubling loop below deliberately keeps plain
    # per-round localCheckpoints: sc changes every round (the self-join
    # squares it), so there is no static table whose partitioning a
    # later round could reuse — _iter_cache would only add a per-round
    # exchange + cache-store for nothing.
    sc = (e.filter((F.col("w") < F.lit(float(delta))) & (F.col("u") != F.col("v")))
          .groupBy("u", "v").agg(F.min("w").alias("w"))
          .localCheckpoint())

    def square(sc):
        hop = (sc.alias("x").join(sc.alias("y"),
                                  F.col("x.v") == F.col("y.u"))
               .select(F.col("x.u").alias("u"), F.col("y.v").alias("v"),
                       (F.col("x.w") + F.col("y.w")).alias("w"))
               .filter((F.col("w") < F.lit(float(delta)))
                       & (F.col("u") != F.col("v"))))
        return sc.unionByName(hop).groupBy("u", "v").agg(F.min("w").alias("w"))

    sc, sc_rounds = _until_stable(square, sc, _sig_metrics("u", "v"),
                                  _MAX_SHORTCUT_ROUNDS)
    # no checkpoint on aug: shortest_paths_weighted _iter_cache-s its own
    # projection of it, so materializing here would just double the pass
    aug = (e.unionByName(sc)
           .groupBy("u", "v").agg(F.min("w").alias("w")))
    out = shortest_paths_weighted(aug, source, src="u", dst="v",
                                  weight="w", max_rounds=max_rounds,
                                  return_rounds=return_rounds)
    if return_rounds:
        dist, bf_rounds = out
        return dist, sc_rounds + bf_rounds
    return out


def line_graph_transitions(directed: DataFrame,
                           src: str = "start_node", dst: str = "end_node",
                           weight: str = "length",
                           restrictions: DataFrame | None = None,
                           forbid_uturn: bool = True) -> DataFrame:
    """Edge-based (line-graph) expansion for turn-aware routing — the
    pgrouting capability the reference installs beyond plain SSSP
    (``etl/osm-load.sh:17`` loads pgrouting, whose edge-based routing /
    turn-restriction support is its point over a naive Dijkstra; cf.
    Winter 2002, "Modeling costs of turns in route planning").

    L-nodes are the directed edges (u, v) — parallel duplicates collapse
    to their MIN weight, which is the edge routing would pick anyway —
    and each output row is one PERMITTED transition
    (from_u, via, to_v, w): traveling edge (from_u → via) may continue
    onto edge (via → to_v), paying that edge's weight ``w``.
    ``forbid_uturn`` drops immediate reversals (to_v = from_u, the
    default every router ships); ``restrictions`` is an optional
    (from_u, via, to_v) table of banned turns removed by one left-anti
    join. One equi-join on the shared node key builds the whole
    expansion — transitions per node are deg_in·deg_out, the classic
    line-graph blowup, confined per node exactly like a bucketed join.
    """
    e = (directed.select(F.col(src).cast("long").alias("u"),
                         F.col(dst).cast("long").alias("v"),
                         F.col(weight).cast("double").alias("w"))
         .filter(F.col("u") != F.col("v"))
         .groupBy("u", "v").agg(F.min("w").alias("w")))
    a = e.select(F.col("u").alias("from_u"), F.col("v").alias("via"))
    b = e.select(F.col("u").alias("via"), F.col("v").alias("to_v"),
                 F.col("w"))
    trans = a.join(b, "via")
    if forbid_uturn:
        trans = trans.filter(F.col("to_v") != F.col("from_u"))
    if restrictions is not None:
        trans = trans.join(
            restrictions.select("from_u", "via", "to_v"),
            ["from_u", "via", "to_v"], "left_anti")
    return trans.select("from_u", "via", "to_v", "w")


def _via_way_stateful_transitions(trans: DataFrame, e0: DataFrame,
                                  via_restrictions: list[dict],
                                  banned_triples: set[tuple[int, int, int]],
                                  forbid_uturn: bool = True) -> DataFrame:
    """Expand the permitted-transition table with CHAIN STATE so via-WAY
    restrictions (``relations.via_way_turn_restrictions`` output) are
    enforceable: a restriction binds only to paths traversing its entire
    via chain, which a node-keyed triple cannot express.

    The construction is the classic graph-expansion (shadow-state) trick,
    generalized to a prefix automaton so restrictions sharing chain
    prefixes stay correct: a state is the SET of (restriction, position)
    pairs whose chain matches the path suffix. Entering a chain's first
    edge from a restricted from-edge redirects the transition into the
    automaton (the state-0 row is removed); following a chain advances
    it; diverging falls back to state 0; at a completed chain the
    restriction's exit rule bites — ``no_*`` removes the exit
    transition(s), ``only_*`` removes every other exit. States and the
    extra rows are enumerated driver-side (restriction tables are
    broadcast-scale; rows ≈ Σ chain length · out-degree) and unioned
    onto the base table; the big table is touched only by one left-anti
    join removing the redirected entry rows. Output adds ``st_from``/
    ``st_to`` (0 = normal) to the (from_u, via, to_v, w) schema.
    """
    chains = {r["rid"]: r["chain"] for r in via_restrictions}
    kinds = {r["rid"]: r["kind"] for r in via_restrictions}
    exits = {r["rid"]: set(r["exits"]) for r in via_restrictions}

    # seeds: (entry edge, first chain edge) -> activated (rid, 1) set
    seeds: dict[tuple[tuple[int, int], tuple[int, int]], set] = {}
    for r in via_restrictions:
        c1 = r["chain"][0]
        for fe in r["entries"]:
            seeds.setdefault((tuple(fe), tuple(c1)), set()).add(
                (r["rid"], 1))

    # out-edges (with weights) at every chain node — the only part of the
    # graph the automaton needs; bounded by Σ chain nodes · out-degree
    nodes = sorted({n for c in chains.values() for e in c for n in e})
    out_edges: dict[int, list[tuple[int, float]]] = {}
    for row in (e0.where(F.col("u").isin(*nodes))
                .select("u", "v", "w").collect()):
        out_edges.setdefault(int(row["u"]), []).append(
            (int(row["v"]), float(row["w"])))

    state_ids: dict[frozenset, int] = {}
    rows: list[tuple[int, int, int, float, int, int]] = []
    removed: list[tuple[int, int, int]] = []
    queue: list[frozenset] = []

    def _intern(s: frozenset) -> int:
        if s not in state_ids:
            state_ids[s] = len(state_ids) + 1
            queue.append(s)
        return state_ids[s]

    def _next_state(cur_edge: tuple[int, int], nxt: tuple[int, int],
                    active: frozenset) -> frozenset:
        adv = {(rid, pos + 1) for rid, pos in active
               if pos < len(chains[rid]) and chains[rid][pos] == nxt}
        # a transition can simultaneously be another restriction's entry
        adv |= seeds.get((cur_edge, nxt), set())
        return frozenset(adv)

    # entry redirections from state 0
    for (fe, c1), active in sorted(seeds.items(),
                                   key=lambda kv: (kv[0], )):
        fu, n0 = fe
        if forbid_uturn and c1[1] == fu:
            continue   # entry reversing its from-edge is a u-turn
        if (fu, n0, c1[1]) in banned_triples:
            continue   # base already bans this turn outright
        w = dict(out_edges.get(n0, ()))
        if c1[1] not in w:
            continue   # chain head not traversable here
        sid = _intern(frozenset(active))
        rows.append((fu, n0, c1[1], w[c1[1]], 0, sid))
        removed.append((fu, n0, c1[1]))

    while queue:
        s = queue.pop()
        sid = state_ids[s]
        # all members share the current edge by construction
        rid0, pos0 = next(iter(s))
        u, v = chains[rid0][pos0 - 1]
        terminal_no = {t for rid, pos in s
                       if pos == len(chains[rid])
                       and kinds[rid].startswith("no_")
                       for t in exits[rid]}
        only_sets = [exits[rid] for rid, pos in s
                     if pos == len(chains[rid])
                     and kinds[rid].startswith("only_")]
        for to_v, w in sorted(out_edges.get(v, ())):
            if forbid_uturn and to_v == u:
                continue
            if (u, v, to_v) in banned_triples:
                continue
            if to_v in terminal_no:
                continue
            if any(to_v not in allowed for allowed in only_sets):
                continue
            nxt = _next_state((u, v), (v, to_v), s)
            rows.append((u, v, to_v, w, sid,
                         _intern(nxt) if nxt else 0))

    spark = trans.sparkSession
    base = trans.select("from_u", "via", "to_v", "w",
                        F.lit(0).alias("st_from"), F.lit(0).alias("st_to"))
    if removed:
        rm = spark.createDataFrame(sorted(set(removed)),
                                   "from_u long, via long, to_v long")
        base = base.join(F.broadcast(rm), ["from_u", "via", "to_v"],
                         "left_anti")
    if rows:
        extra = spark.createDataFrame(
            rows, "from_u long, via long, to_v long, w double, "
                  "st_from int, st_to int")
        base = base.unionByName(extra)
    return base


def turn_restricted_distances(directed: DataFrame, source: int,
                              src: str = "start_node",
                              dst: str = "end_node",
                              weight: str = "length",
                              restrictions: DataFrame | None = None,
                              forbid_uturn: bool = True,
                              max_rounds: int = 200,
                              return_rounds: bool = False,
                              via_way_restrictions: list[dict]
                              | None = None):
    """Turn-aware single-source shortest distances: Bellman-Ford over
    the LINE GRAPH (:func:`line_graph_transitions`), where state is
    "cheapest way to arrive at node v having just traversed edge
    (u, v)" — the edge-based routing formulation that makes banned
    turns and U-turn prohibitions expressible at all (node-keyed
    distances cannot represent "you may be at v, but not if you came
    from u"). The reference delegates exactly this to pgrouting.

    Same frontier relaxation (:func:`_relax_frontier`) as
    :func:`shortest_paths_weighted`, keyed on the edge pair (u, v):
    initial state is every edge leaving ``source`` at its own weight;
    each round relaxes permitted transitions from the frontier. Returns
    (node, dist) — the min over all permitted arriving edges, with the
    source itself at 0.0; nodes unreachable under the restriction set
    are absent. Worst-case rounds = longest shortest edge-path
    (``max_rounds``-bounded, truncation warns like the node-keyed
    operator).

    ``via_way_restrictions`` (``relations.via_way_turn_restrictions``
    output) switches the state key from the edge pair to
    (edge pair, chain state): the transition table is expanded by
    :func:`_via_way_stateful_transitions` and the same fixpoint runs
    over the expanded keys — via-WAY restrictions bind only to paths
    traversing their full chain, exactly pgrouting's edge-chain
    semantics. Without it the state key is the plain edge pair.
    """
    import warnings

    trans = line_graph_transitions(directed, src, dst, weight,
                                   restrictions, forbid_uturn)
    e0 = (directed.select(F.col(src).cast("long").alias("u"),
                          F.col(dst).cast("long").alias("v"),
                          F.col(weight).cast("double").alias("w"))
          .filter(F.col("u") != F.col("v"))
          .groupBy("u", "v").agg(F.min("w").alias("w")))
    stateful = bool(via_way_restrictions)
    if stateful:
        chain_nodes = {n for r in via_way_restrictions
                       for e in r["chain"] for n in e}
        banned: set[tuple[int, int, int]] = set()
        if restrictions is not None and chain_nodes:
            banned = {(int(r["from_u"]), int(r["via"]), int(r["to_v"]))
                      for r in restrictions
                      .where(F.col("via").isin(*sorted(chain_nodes)))
                      .collect()}
        trans = _via_way_stateful_transitions(
            trans, e0, via_way_restrictions, banned, forbid_uturn)
    dist = (e0.filter(F.col("u") == int(source))
            .select("u", "v", F.col("w").alias("dist"))
            .localCheckpoint())
    if stateful:
        dist = dist.withColumn("st", F.lit(0))
    keys = ["u", "v", "st"] if stateful else ["u", "v"]
    # keyed on (from_u, via[, st_from]): every relaxation round joins the
    # static transition table on exactly these frontier keys
    with _iter_cache(trans, "from_u", "via",
                     *(["st_from"] if stateful else [])) as trans:
        def relax(f):
            cond = (trans["from_u"] == f["u"]) & (trans["via"] == f["v"])
            if stateful:
                cond = cond & (trans["st_from"] == f["st"])
            return trans.join(f, cond).select(
                F.col("via").alias("u"), F.col("to_v").alias("v"),
                *([F.col("st_to").alias("st")] if stateful else []),
                (F.col("dist") + F.col("w")).alias("dist"))

        dist, rounds, changed = _relax_frontier(dist, relax, keys,
                                                max_rounds)
    if changed:
        warnings.warn(
            f"turn_restricted_distances stopped at max_rounds="
            f"{max_rounds} before the fixpoint ({changed} still "
            "improving); distances are truncated", RuntimeWarning,
            stacklevel=2)
    spark = directed.sparkSession
    src_row = spark.createDataFrame([(int(source), 0.0)],
                                    "node long, dist double")
    per_node = (dist.groupBy(F.col("v").alias("node"))
                .agg(F.min("dist").alias("dist"))
                .unionByName(src_row)
                .groupBy("node").agg(F.min("dist").alias("dist")))
    return (per_node, rounds) if return_rounds else per_node


def sigma_table(edges: DataFrame, sources: list[int], max_depth: int = 6,
                directed: bool = False,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """Forward phase of Brandes' betweenness: per (source, node) the BFS
    distance and the number of shortest paths (σ), for every node within
    ``max_depth`` hops of any source. All sources advance in the same
    level-synchronous rounds — one frontier join + anti-join + group-sum
    per level, keyed on (s, node), so k sources cost the same shuffle
    count as one. Integer-exact, hence hash-stable. Returns
    (s, node, dist, sigma)."""
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    if not directed:
        e = e.unionByName(e.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    spark = edges.sparkSession
    srcs = spark.createDataFrame([(int(s),) for s in sources], "s long")
    # one consolidated visited table, checkpointed once per level: an
    # accumulate-frontier-parts variant (anti-join against a union of
    # per-level checkpointed leaves) was measured slower — reading k
    # separate materialized leaves each level costs more task/stage
    # overhead than one RDD (osm_reachability sf0.01 build 9.4 s →
    # 10.5 s). The next level's frontier is ``visited.filter(dist == d)``
    # (a scan of the one materialized RDD), and the emptiness probe rides
    # the same job as an observed conditional count: each level re-reads
    # the visited leaf once more in exchange for one job barrier and one
    # materialization per level instead of two.
    visited = srcs.select("s", F.col("s").alias("node"),
                          F.lit(0).alias("dist"),
                          F.lit(1).cast("long").alias("sigma"))
    # keyed on u: every BFS level joins the frontier on e["u"]
    with _iter_cache(e.filter(F.col("u") != F.col("v")).distinct(),
                     "u") as e:
        for d in range(1, max_depth + 1):
            frontier = visited.filter(F.col("dist") == d - 1)
            cand = (frontier.join(e, frontier["node"] == e["u"])
                    .select("s", F.col("v").alias("node"), "sigma"))
            nxt = (cand.join(visited.select("s", "node"), ["s", "node"],
                             "left_anti")
                   .groupBy("s", "node").agg(F.sum("sigma").alias("sigma"))
                   .select("s", "node", F.lit(d).alias("dist"), "sigma"))
            visited, m = _ckpt_observe(
                visited.unionByName(nxt),
                F.count(F.when(F.col("dist") == d, F.lit(1))).alias("c"))
            if m["c"] == 0:
                break
    return visited


def harmonic_centrality(edges: DataFrame, sources: list[int],
                        max_depth: int = 6, directed: bool = False,
                        src: str = "src", dst: str = "dst") -> DataFrame:
    """Harmonic closeness restricted to the sampled sources and depth:
    H(v) = Σ_s 1/d(s, v) over sources with 0 < d ≤ max_depth — the
    closeness-family metric from the reference's igraph step
    (``osm-pg-etl.md:31-105``) in its unbounded-graph-safe harmonic form
    (disconnected pairs contribute 0 instead of breaking the mean). One
    aggregation over the multi-source BFS table; with sources = all nodes
    and full depth this is exact harmonic centrality."""
    vis = sigma_table(edges, sources, max_depth, directed, src, dst)
    return (vis.filter(F.col("dist") > 0)
            .groupBy("node")
            .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic")))


def betweenness(edges: DataFrame, sources: list[int], max_depth: int = 6,
                directed: bool = False, src: str = "src", dst: str = "dst",
                ) -> DataFrame:
    """Betweenness centrality restricted to shortest paths that start at
    one of ``sources`` and use at most ``max_depth`` edges — the
    distributed stand-in for the reference's igraph centrality step
    (``osm-pg-etl.md:31-105``: export edge list → igraph → centrality →
    COPY back), which no longer fits one process at 100 TB.

    Exact Brandes [Brandes 2001] on the sampled source set: with
    ``sources`` = all nodes and ``max_depth`` ≥ diameter this IS exact
    betweenness; with k sampled sources it is the Brandes-Pich estimator
    (scale by n/k). The dependency accumulation runs level-synchronously
    for all sources at once: after the σ forward phase, each BFS level L
    (deepest first) does one join from level-L nodes back to their
    level-(L-1) predecessors along shortest-path DAG edges, accumulating
    δ(v) = Σ_w σ(v)/σ(w) · (1 + δ(w)). 2·depth bounded-size shuffles
    total, keyed (s, node) throughout — no per-source driver loop.

    Undirected graphs count each unordered pair once (igraph's
    convention), i.e. the summed dependencies are halved. Returns
    (node, betweenness) for every node on some counted shortest path;
    isolated / never-intermediate nodes report 0 via the final left join.
    """
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    if not directed:
        e = e.unionByName(e.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    # vis keyed on node: every level joins (s, node) / node==u, both
    # satisfied by HashPartitioning(node); e keyed on u for the same
    # per-level predecessor join
    with _iter_cache(sigma_table(edges, sources, max_depth, directed,
                                 src, dst), "node") as vis, \
            _iter_cache(e.filter(F.col("u") != F.col("v")).distinct(),
                        "u") as e:
        lmax = vis.agg(F.max("dist")).collect()[0][0] or 0
        # delta rows exist for every visited node at levels >= the one
        # being processed; start with 0 at the deepest level
        delta = (vis.filter(F.col("dist") == lmax)
                 .select("s", "node", F.lit(0.0).alias("delta")))
        acc = delta
        for lev in range(lmax, 0, -1):
            succ = (vis.filter(F.col("dist") == lev)
                    .join(delta, ["s", "node"])
                    .select("s", F.col("node").alias("w"),
                            F.col("sigma").alias("sigma_w"), "delta"))
            pred = (vis.filter(F.col("dist") == lev - 1)
                    .select("s", "node", "sigma"))
            contrib = (pred.join(e, pred["node"] == e["u"])
                       .join(succ, ["s"])
                       .where(F.col("v") == F.col("w"))
                       .groupBy("s", "node")
                       .agg(F.sum(F.col("sigma") / F.col("sigma_w")
                                  * (F.lit(1.0) + F.col("delta")))
                            .alias("_c")))
            delta = (pred.join(contrib, ["s", "node"], "left")
                     .select("s", "node",
                             F.coalesce("_c", F.lit(0.0)).alias("delta"))
                     .localCheckpoint())
            acc = acc.unionByName(delta)
        half = 1.0 if directed else 2.0
        bc = (acc.filter(F.col("node") != F.col("s"))
              .groupBy("node")
              .agg((F.sum("delta") / half).alias("betweenness")))
        # the output reads vis (its node list, the deepest level's zero
        # deltas), so it is materialized before the scope releases vis
        return (vis.select("node").distinct().join(bc, "node", "left")
                .select("node", F.coalesce("betweenness", F.lit(0.0))
                        .alias("betweenness"))
                .localCheckpoint())


def betweenness_exact(edges: DataFrame, wave_size: int = 32,
                      max_depth: int = 64, directed: bool = False,
                      src: str = "src", dst: str = "dst",
                      return_waves: bool = False):
    """EXACT all-source betweenness, batched: every node is a Brandes
    source, processed in ceil(V/``wave_size``) waves over the shared
    level-synchronous σ/δ machinery (:func:`betweenness` — which this
    completes: with all sources and unbounded depth, Brandes-Pich IS
    Brandes). Betweenness is additive over sources, so the waves'
    per-node dependency sums simply add — one union + node-keyed
    group-sum at the end, lineage truncated per wave.

    The wave loop is driver-side, but streamed (r11, VERDICT task 8):
    source ids arrive through ``toLocalIterator`` over the SORTED
    distinct-node table one partition at a time, so driver memory is
    O(wave_size + one partition), never O(V) — the earlier
    ``collect()`` held the full vertex list. Exact all-source
    betweenness still inherently enumerates V sources (O(V·E) work — at
    100 TB you run the sampled Brandes-Pich gate `osm_betweenness`
    instead; this operator retires the reference's "export to igraph
    for exact centrality" residue for the graphs that fit that budget,
    keeping per-wave cluster memory at wave_size·V σ rows).
    ``max_depth`` is a safety bound, not a truncation: each wave's BFS
    stops when its frontier empties, so any value ≥ the graph's diameter
    gives exact results. Returns (node, betweenness); per-wave source
    counts via ``return_waves``.
    """
    und = symmetric_edges(edges, src, dst)
    # sorted + localCheckpoint: deterministic wave composition (the
    # hash gate depends on it) and a materialized table the iterator
    # can stream while the wave jobs run
    nodes_df = (und.select("a").distinct().orderBy("a")
                .localCheckpoint())
    total = None
    waves = []

    def run_wave(wave: list, total):
        waves.append(len(wave))
        bc = betweenness(edges, wave, max_depth=max_depth,
                         directed=directed, src=src, dst=dst)
        return bc if total is None else (
            total.unionByName(bc)
            .groupBy("node").agg(F.sum("betweenness").alias("betweenness"))
            .localCheckpoint())

    wave: list = []
    for row in nodes_df.toLocalIterator():
        wave.append(row["a"])
        if len(wave) == wave_size:
            total = run_wave(wave, total)
            wave = []
    if wave:
        total = run_wave(wave, total)
    if total is None:
        total = und.select(F.col("a").alias("node"),
                           F.lit(0.0).alias("betweenness"))
    return (total, waves) if return_waves else total


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst",
                    ) -> DataFrame:
    """Per-node triangle participation and local clustering coefficient —
    the standard graph-structure signal (community density, spam/anomaly
    detection on document-link graphs; igraph exposes it as transitivity).

    Degree-oriented "compact-forward" counting [Latapy 2008; Suri &
    Vassilvitskii 2011]: each undirected edge is oriented from the
    (degree, id)-smaller endpoint to the larger, so every wedge is
    enumerated at its lowest-degree apex — the join fan-out per node is
    bounded by its *oriented* out-degree ≤ O(√m) on any graph, which is
    what keeps the self-join from exploding on hub nodes at scale. Each
    triangle {a,b,c} with a<b<c in the order is found exactly once as
    wedge (a→b, a→c) closed by edge (b→c). Returns
    (node, degree, n_triangles, clustering) for every node with degree
    ≥ 1; clustering = 2T / (deg·(deg−1)), 0 when degree < 2."""
    # und and e are checkpointed, not cached: the operator returns a lazy
    # plan, so a cache would have to outlive the call (or be dropped
    # before the action starts, re-inlining the whole upstream edge
    # pipeline at each reference — osm_triangles at sf0.01 planned 341
    # jobs/run). und is referenced ~10× across the unrolled wedge plan,
    # and e (the oriented edge list) thrice, as e1/e2/closer; the
    # checkpoints turn every reference into an RDD-scan leaf instead of a
    # full logical subtree the analyzer re-walks (~7 s with a cache).
    und = symmetric_edges(edges, src, dst).localCheckpoint()
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    e = (und.join(deg.select(F.col("a").alias("a"), F.col("d").alias("da")),
                  "a")
         .join(deg.select(F.col("a").alias("b"), F.col("d").alias("db")),
               "b")
         .filter(F.struct("da", "a") < F.struct("db", "b"))
         .select("a", "b", "da", "db")
         .localCheckpoint())
    e1 = e.select(F.col("a").alias("u"), F.col("b").alias("v"),
                  F.col("db").alias("dv"))
    e2 = e.select(F.col("a").alias("u"), F.col("b").alias("w"),
                  F.col("db").alias("dw"))
    wedges = (e1.join(e2, "u")
              .filter(F.struct("dv", "v") < F.struct("dw", "w"))
              .select("u", "v", "w"))
    closer = e.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tris = wedges.join(closer, ["v", "w"])
    per_node = (tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("n_triangles")))
    out = (deg.select(F.col("a").alias("node"), F.col("d").alias("degree"))
           .join(per_node, "node", "left")
           .select("node", "degree",
                   F.coalesce("n_triangles", F.lit(0)).cast("long")
                   .alias("n_triangles")))
    return out.withColumn(
        "clustering",
        F.when(F.col("degree") >= 2,
               F.round(2.0 * F.col("n_triangles")
                       / (F.col("degree") * (F.col("degree") - 1)), 6))
        .otherwise(F.lit(0.0)))


def pagerank(edges: DataFrame, n_iter: int = 10, damping: float = 0.85,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Power-iteration PageRank over a directed edge list — the standard
    graph-quality signal a web-scale training-data pipeline ranks documents
    by (the reference's igraph step exposes the same metric;
    ``osm-pg-etl.md:31-105``). Fixed ``n_iter`` synchronous iterations of

        pr(v) ← (1-d)/n + d · (Σ_{u→v} pr(u)/outdeg(u) + dangling/n)

    with the dangling mass redistributed uniformly, so total mass stays 1
    and the result is partition-independent (each iteration is one
    join + groupBy-sum keyed on node id; lineage truncated per round).
    Returns (node, pagerank) over all nodes appearing in ``edges``."""
    return _power_iteration(edges, None, n_iter, damping, src, dst)


def personalized_pagerank(edges: DataFrame, seeds: list[int],
                          n_iter: int = 10, damping: float = 0.85,
                          src: str = "src", dst: str = "dst") -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to the
    ``seeds`` instead of spreading uniformly, so scores measure proximity
    to the trusted seed set — the seed-expansion ranking a curation
    pipeline uses to grade documents by link-closeness to a known-good
    core (the CommonCrawl-style "rank from Wikipedia seeds" recipe).
    Same fixed-iteration synchronous machinery as :func:`pagerank`;
    total mass stays 1 over the seeded surface."""
    return _power_iteration(edges, [int(s) for s in seeds], n_iter,
                            damping, src, dst)


def _power_iteration(edges: DataFrame, seeds: list[int] | None,
                     n_iter: int, damping: float,
                     src: str, dst: str) -> DataFrame:
    with ExitStack() as scope:
        e = scope.enter_context(_cached(
            edges.select(F.col(src).cast("long").alias("u"),
                         F.col(dst).cast("long").alias("v"))
            .distinct()))
        nodes = scope.enter_context(_cached(
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .distinct()))
        n = nodes.count() if seeds is None else len(seeds)
        out = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
        # keyed on u: every power iteration joins pr on links["u"]
        links = scope.enter_context(
            _iter_cache(e.join(out, "u").select("u", "v", "outdeg"), "u"))
        if seeds is None:
            is_seed = F.lit(True)
            pr = nodes.select("node", F.lit(1.0 / n).alias("pr"))
        else:
            is_seed = F.col("node").isin(seeds)
            pr = nodes.select(
                "node",
                F.when(is_seed, F.lit(1.0 / n)).otherwise(F.lit(0.0))
                .alias("pr"))
        for i in range(n_iter):
            contrib = (links.join(pr, links["u"] == pr["node"])
                       .select(F.col("v").alias("node"),
                               (F.col("pr") / F.col("outdeg")).alias("w")))
            inflow = contrib.groupBy("node").agg(F.sum("w").alias("inflow"))
            # dangling nodes (no out-edges) leak their mass; redistribute
            # it. Computed as a broadcast one-row aggregate inside the
            # plan — no driver action per iteration, the whole round stays
            # one lazy DAG
            dang = (pr.join(out.select(F.col("u").alias("node")),
                            "node", "left_anti")
                    .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_m")))
            base = (F.lit((1.0 - damping) / n)
                    + (F.lit(damping) * F.col("_m")) / F.lit(float(n)))
            # seeded runs teleport only to the seed set
            base = base if seeds is None else \
                F.when(is_seed, base).otherwise(F.lit(0.0))
            pr = (nodes.join(inflow, "node", "left")
                  .crossJoin(F.broadcast(dang))
                  .select("node",
                          (base
                           + F.lit(damping) * F.coalesce("inflow", F.lit(0.0)))
                          .alias("pr")))
            # materialize every SECOND round — the iteration count is fixed
            # (no per-round probe), so two rounds ride one checkpoint job
            # (guide §9 pattern). In the unmaterialized round the next
            # round's three references to ``pr`` (contrib, dang, the
            # update) re-read the same subtree, but its inflow exchange and
            # dangling broadcast are deduped by ReuseExchange, so the
            # duplicated work is two node-sized post-shuffle joins — less
            # than a job barrier + full materialization locally, and one
            # fewer full pass over the rank table per pair of rounds at
            # scale. The LAST round is always materialized: the scope
            # releases the caches on exit, so the returned plan must not
            # read them.
            if i % 2 == 1 or i == n_iter - 1:
                pr = pr.localCheckpoint()
    return pr.select("node", F.col("pr").alias("pagerank"))


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   pair_cols: tuple[str, str] = ("id_a", "id_b")) -> DataFrame:
    """Cluster near-duplicate pairs into groups and pick one canonical
    document per group (the minimum id, mirroring ``exact_duplicates``'
    ``MIN(doc_id) AS keep_id``). Documents in no pair are their own
    cluster. Returns (doc_id, cluster_id, is_canonical)."""
    comp = connected_components(pairs, src=pair_cols[0], dst=pair_cols[1])
    d = docs.select(F.col(id_col).cast("long").alias(id_col))
    return (d.join(comp, d[id_col] == comp["node"], "left")
            .select(
                id_col,
                F.coalesce("component", F.col(id_col)).alias("cluster_id"))
            .withColumn("is_canonical",
                        (F.col(id_col) == F.col("cluster_id")).cast("boolean")))


def dedup_canonical_by(docs: DataFrame, pairs: DataFrame, score_col: str,
                       id_col: str = "doc_id",
                       pair_cols: tuple[str, str] = ("id_a", "id_b")
                       ) -> DataFrame:
    """Quality-aware canonical selection: like :func:`dedup_clusters`, but
    the kept document per near-dup cluster is the HIGHEST-``score_col``
    one (ties to the smallest id) instead of the smallest id — what a
    curation pipeline actually wants when duplicates differ in quality
    (keep the longest / best-scored copy, not the first-crawled). One
    ``max_by(id, struct(score, -id))`` per cluster past the components —
    a single extra cluster-keyed aggregate. Returns
    (doc_id, cluster_id, score_col, is_canonical)."""
    comp = connected_components(pairs, src=pair_cols[0], dst=pair_cols[1])
    d = docs.select(F.col(id_col).cast("long").alias(id_col),
                    F.col(score_col))
    clustered = (d.join(comp, d[id_col] == comp["node"], "left")
                 .select(id_col, score_col,
                         F.coalesce("component", F.col(id_col))
                         .alias("cluster_id")))
    best = (clustered.groupBy("cluster_id")
            .agg(F.max_by(F.col(id_col),
                          F.struct(F.col(score_col),
                                   (-F.col(id_col)).alias("_nid")))
                 .alias("keep_id")))
    return (clustered.join(best, "cluster_id")
            .select(id_col, "cluster_id", score_col,
                    (F.col(id_col) == F.col("keep_id")).cast("boolean")
                    .alias("is_canonical")))


def label_propagation(edges: DataFrame, n_iter: int = 4,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Community detection by synchronous label propagation, determinized
    — the native replacement for the reference workflow's igraph
    ``community_label_propagation()`` step (``osm-pg-etl.md:31-105``
    exports the edge list precisely for analyses like this).

    Every node starts with its own id as its label; each round every node
    simultaneously adopts the most frequent label among its neighbours,
    ties broken by the smallest label (classic LPA is randomized — the
    (count DESC, label ASC) tie-break makes the result a pure function of
    the edge set, so it is stable under partitioning and retries and
    oracle-checkable). Fixed ``n_iter`` rounds rather than a convergence
    test: LPA on near-clique communities stabilizes in a few rounds, and a
    fixed unroll keeps the DuckDB oracle expressible.

    Per round: one equi-join of the label table to the symmetric edge list
    on the source key + the (count DESC, label ASC) argmax per node,
    written as one shuffle and two plain aggregates: the joined
    (b, label) rows are hash-partitioned on ``b`` once — hash(b) clusters
    (b, label), so the label-count aggregate, the argmax aggregate and
    the NEXT round's join on the renamed key all reuse that single
    exchange. ``min(struct(-count, label))`` is exactly
    ``mode(label, deterministic=True)`` (most frequent, ties to the
    lowest — count negation is exact on longs); the mode formulation it
    replaces shuffled ObjectHashAggregate value→count map buffers (an
    object aggregate with a 128-key sort-based fallback) where this
    shuffles plain rows through codegen'd hash + sort aggregates.
    Equivalence pinned by test_lpa_two_phase_argmax_equals_mode. All
    shuffles are keyed on node id; nothing is collected to the driver.

    The edge table is a plain ``localCheckpoint``, not ``_iter_cache``
    (hash-partition on the round join key + sort + cache): with only
    ``n_iter`` = 4 keyed rounds the extra partition+sort+cache-store pass
    and the pinned partition count (which AQE can no longer coalesce at
    small scale) cost more than the four saved edge-side exchanges (the
    A/B is recorded in OPTIMIZATION_r15.md §1). The many-round operators
    (pagerank, betweenness, Bellman-Ford SSSP — tens of keyed rounds over
    the same static table) do amortize the build and ride
    ``_iter_cache``.
    Returns (node, community).
    """
    e = symmetric_edges(edges, src, dst).localCheckpoint()
    labels = (e.select(F.col("a").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    for i in range(n_iter):
        labels = (e.join(labels.withColumnRenamed("id", "a"), "a")
                  .select("b", "label")
                  .repartition("b")
                  .groupBy("b", "label")
                  .agg(F.count(F.lit(1)).alias("_n"))
                  .groupBy(F.col("b").alias("id"))
                  .agg(F.min(F.struct((-F.col("_n")).alias("nn"),
                                      F.col("label").alias("lb")))
                       .alias("_w"))
                  .select("id", F.col("_w.lb").alias("label")))
        # mid-run lineage truncation only for LONG runs: each checkpoint
        # is a full job barrier (~0.35 s locally), so short fixed unrolls
        # (the 4-round gate) run as one multi-stage job, while plan depth
        # stays bounded when callers iterate dozens of rounds
        if (i + 1) % _LPA_CHECKPOINT_EVERY == 0 and i + 1 < n_iter:
            labels = labels.localCheckpoint()
    return labels.select(F.col("id").alias("node"),
                         F.col("label").alias("community"))


def _louvain_round(wedges: DataFrame, labels: DataFrame, deg: DataFrame,
                   m2: float) -> DataFrame:
    """One synchronous Louvain move round on a weighted symmetric edge
    list ``(a, b, w)`` (a != b; self-loop weight lives inside ``deg``).

    Every node simultaneously evaluates the modularity gain of joining
    each neighbouring community (plus staying put) and finds the argmax:
    score(x→c) = w(x→c) − k_x · Σtot′(c) / 2m, where Σtot′ excludes x's
    own degree when c is its current community (the node is lifted out
    before comparing, per the standard Louvain ΔQ; the 1/m and constant
    terms common to all candidates are dropped). Ties break to the
    smallest community id, and the move is APPLIED only when the winning
    community's id is smaller than the node's current label — the
    min-label rule from parallel Louvain practice (cf. Grappolo's
    minimum-labeling heuristic, Lu/Halappanavar/Kalyanaraman 2015;
    Ghosh et al. 2018): unconstrained synchronous moves let adjacent
    nodes swap/chase labels (measured: modularity goes NEGATIVE on the
    car graph), while monotonically-decreasing labels make every chase
    resolve downhill — per-node labels are non-increasing, so rounds
    can't oscillate (measured Q 0.20 vs LPA's 0.02 at sf0.01; the
    restrict-candidates-first alternative scored 0.18 and was rejected).
    The round is thus a pure function of the edge set —
    partition/retry-stable and oracle-checkable. Every term is an exact
    integer until one double multiply/divide in fixed order, so DuckDB
    computes bit-identical scores.

    Cost: ONE edge-sized exchange per round (r15 §13). The joined
    candidate rows are hash-partitioned on ``a`` once, right after the
    edges⋈labels join: hash(a) clusters (a, cb), so the w(x→c)
    aggregate, the node-sized broadcast joins and the final per-node
    argmax all run on that single partitioning with no further
    edge-sized exchange. The previous shape paid three — the (a, cb)
    aggregate exchange, a union + re-aggregate that injected the node's
    own community as a zero-weight candidate, and the argmax partial→
    final exchange. The self candidate is folded into the SAME argmax
    aggregate as a second min over a per-row-constant struct (Σtot is
    joined a second time on ``ca``; same broadcast table), so no stage,
    join or exchange is added for it. Nothing driver-side.
    """
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("cb"))
    cur = labels.select(F.col("id").alias("a"), F.col("label").alias("ca"))
    ctot = (labels.join(deg, "id")
            .groupBy(F.col("label").alias("cb"))
            .agg(F.sum("k").alias("tot")))
    # hash(a) satisfies the (a, cb) clustering requirement, so this is
    # the round's only edge-sized exchange; the map-side combine the
    # (a, cb) aggregate exchange used to get is worth ~nothing here
    # (neighbours sit in distinct communities for most rounds, so the
    # partial aggregate barely shrank the shuffle it replaced — and the
    # two downstream edge-sized exchanges it fed are gone entirely)
    k2c = (wedges.join(lb, "b")
           .select("a", "cb", "w")
           .repartition("a")
           .groupBy("a", "cb").agg(F.sum("w").alias("w2c")))
    sc = (k2c.join(cur, "a")
          .join(deg.withColumnRenamed("id", "a"), "a")
          .join(ctot, "cb")
          .join(ctot.select(F.col("cb").alias("_sca"),
                            F.col("tot").alias("_stot")),
                F.col("ca") == F.col("_sca"))
          .withColumn("tot_adj",
                      F.col("tot") - F.when(F.col("cb") == F.col("ca"),
                                            F.col("k")).otherwise(F.lit(0)))
          .withColumn("score",
                      F.col("w2c").cast("double")
                      - F.col("k").cast("double")
                      * F.col("tot_adj").cast("double") / F.lit(m2)))
    # argmax as ONE aggregate instead of a row_number window (guide §2.3):
    # min(struct(-score, cb, …)) expresses the same (score DESC, cb ASC)
    # argmax — double negation is an exact IEEE sign flip, and cb is
    # unique within an a-group (k2c is grouped by (a, cb)) so the
    # trailing payload field never compares. A struct buffer is not
    # hash-aggregatable, so this plans as a partial+final SortAggregate —
    # still strictly less work than the window it replaces (no row
    # buffering, group-key-only comparator), and here both halves run
    # on the one a-partitioning with no exchange between them.
    # Equivalence pinned by test_louvain_round_argmax_agg_equals_window.
    #
    # The node's own community is always a candidate (w2c contribution
    # 0, tot_adj = tot − k). Instead of unioning a zero-weight stub into
    # the candidate table and re-aggregating it (an edge-sized exchange),
    # its struct is computed per-row from the ca-keyed Σtot join (every
    # row of an a-group carries the identical value, so min() just
    # selects it) and folded into the argmax with least(). When (a, ca)
    # has intra-community edges the TRUE self candidate is already among
    # the sc rows with its real w2c ≥ 0, and since score is monotonically
    # non-decreasing in w2c with every other term fixed, this zero-weight
    # copy is dominated (ns_self ≥ ns_true, same cb = ca; on exact double
    # ties the structs are identical), so least(min, self) equals the min
    # over the unioned candidate set bit-for-bit. w ≥ 0 always (1 on the
    # unweighted path, floor(km·1e6) ≥ 0 on the weighted path, and
    # contraction sums preserve sign). The self ns is written as
    # −(0.0 − x), not x: struct orderings are total (−0.0 < +0.0), and
    # the unioned formulation produced −0.0 for a zero self score
    # (x = +0.0 whenever the node is its community's only member, i.e.
    # every node in a level's first round) — the direct form would yield
    # +0.0 and could flip an exact-zero tie.
    win = F.min(F.struct((-F.col("score")).alias("ns"),
                         F.col("cb").alias("cb"),
                         F.col("ca").alias("ca"))).alias("_w")
    selfw = F.min(F.struct(
        (-(F.lit(0.0)
           - F.col("k").cast("double")
           * (F.col("_stot") - F.col("k")).cast("double")
           / F.lit(m2))).alias("ns"),
        F.col("ca").alias("cb"),
        F.col("ca").alias("ca"))).alias("_s")
    return (sc.groupBy("a").agg(win, selfw)
            .select(F.col("a").alias("id"),
                    F.least("_w", "_s").alias("_m"))
            .select(F.col("id"),
                    F.when(F.col("_m.cb") < F.col("_m.ca"),
                           F.col("_m.cb")).otherwise(F.col("_m.ca"))
                    .alias("label")))


def louvain(edges: DataFrame, rounds: tuple = (6, 4, 3),
            src: str = "src", dst: str = "dst",
            weight: str | None = None,
            early_stop: bool = True,
            return_rounds: bool = False):
    """Distributed Louvain community detection: ``rounds[l]`` synchronous
    move rounds at level ``l``, contracting communities into super-nodes
    between levels — the native replacement for the LAST igraph export in
    the reference workflow (``osm-pg-etl.md:31-105`` feeds the edge list
    to igraph's modularity-optimizing community detection; README's
    decision table tracked this as the one remaining single-node step).

    Level 1 runs on the unweighted simple graph (w = 1). Contraction sums
    inter-community edge weights into the next level's edge list and sums
    member degrees into the super-node degree (which thereby carries the
    intra-community/self-loop weight — no explicit self-loop table is
    needed because the move score only reads w(x→c) for c ≠ x plus Σtot,
    and Σtot is exactly the degree sum). The directed weight total 2m is
    invariant across levels, so one scalar ``m2`` (a bounded one-row
    collect) serves every round.

    Moves are min-label gated (see :func:`_louvain_round`), so per-node
    labels are non-increasing within a level and rounds cannot oscillate;
    fixed round counts keep the DuckDB oracle expressible as a finite
    unroll, and the gate asserts the resulting modularity beats the LPA
    partition's on the car graph (measured 0.20 vs 0.02 at sf0.01 with
    the default rounds). Per level: O(rounds) node-keyed shuffle joins;
    ``localCheckpoint`` truncates lineage per round (cluster jobs would
    use a checkpoint dir).

    ``weight`` names an INTEGER edge-weight column (e.g. metres — cast
    the float length with floor(km·10⁶) so every Σtot/k/w aggregate stays
    an exact integer and the oracle hashes bit-identically); parallel
    duplicate edges collapse to their MIN weight, mirroring the
    unweighted path's distinct(). ``None`` keeps w = 1.

    ``rounds`` is a BUDGET, not a fixed cost: with ``early_stop``
    (default) each level stops as soon as the label table reaches a
    fixpoint — detected by the same (count, xxhash-sum) scalar the
    components loop uses, folded onto the already-checkpointed labels —
    because min-label-gated moves are idempotent at the fixpoint, the
    result is IDENTICAL to running the full budget (the fixed-unroll
    DuckDB oracles stay valid), while converged cluster runs skip the
    dead barrier rounds. Each check is one extra scalar job (~0.35 s
    local floor), so checks are skipped where they cannot pay: the
    first two rounds of a level (labels virtually always still move)
    and a level's final budgeted round (nothing left to save) — on the
    sf0.1 car graph, which does NOT converge inside the default budget,
    this caps the telemetry overhead at 4 checks instead of 13.
    ``return_rounds=True`` additionally returns the per-level executed
    round counts (telemetry for ``scale_stress.py louvain``).

    Returns (node, community) for every original node.
    """
    # we keyed on b: every move round's first join is wedges⋈labels on b
    # (_louvain_round); deg keyed on id: every round joins it on id / a
    if weight is None:
        first = _iter_cache(symmetric_edges(edges, src, dst), "b")
    else:
        raw = edges.select(F.col(src).cast("long").alias("a"),
                           F.col(dst).cast("long").alias("b"),
                           F.col(weight).cast("long").alias("w"))
        first = _iter_cache(
            raw.unionByName(raw.select(F.col("b").alias("a"),
                                       F.col("a").alias("b"), "w"))
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b").agg(F.min("w").alias("w")), "b")
    # ``level`` holds the current level's cached tables; each contraction
    # checkpoints the next level's tables, releases this level's, then
    # caches the next
    with ExitStack() as level:
        e = level.enter_context(first)
        we = e if weight is not None else e.select(
            "a", "b", F.lit(1).cast("long").alias("w"))
        deg = level.enter_context(
            _iter_cache(we.groupBy(F.col("a").alias("id"))
                        .agg(F.sum("w").alias("k")), "id"))
        m2 = float(deg.agg(F.sum("k")).collect()[0][0] or 0)
        if m2 == 0:
            out = (e.select(F.col("a").alias("node"),
                            F.col("a").alias("community")).distinct()
                   .localCheckpoint())
            return (out, [0] * len(rounds)) if return_rounds else out
        orig = None  # original node -> current-level community
        executed: list[int] = []
        for li, n_rounds in enumerate(rounds):
            labels = deg.select("id", F.col("id").alias("label"))
            sig = None
            done = 0
            for _ in range(n_rounds):
                done += 1
                if early_stop and 3 <= done < n_rounds:
                    # convergence signature observed inside the round's
                    # own checkpoint job — the check costs no pass
                    labels, row = _ckpt_observe(
                        _louvain_round(we, labels, deg, m2),
                        *_sig_metrics("id", "label"))
                    if row == sig:
                        break
                    sig = row
                else:
                    labels = _louvain_round(we, labels, deg,
                                            m2).localCheckpoint()
            executed.append(done)
            if orig is None:
                orig = labels
            else:
                orig = (orig.join(labels.select(F.col("id").alias("label"),
                                                F.col("label")
                                                .alias("label2")),
                                  "label")
                        .select("id", F.col("label2").alias("label"))
                        .localCheckpoint())
            if li < len(rounds) - 1:
                la = labels.select(F.col("id").alias("a"),
                                   F.col("label").alias("ca"))
                lbj = labels.select(F.col("id").alias("b"),
                                    F.col("label").alias("cb"))
                # b-join first: we is b-partitioned, so the heavier join
                # of the contraction runs exchange-free on the we side
                nxt_we = _iter_cache(
                    we.join(lbj, "b").join(la, "a")
                    .filter(F.col("ca") != F.col("cb"))
                    .groupBy(F.col("ca").alias("a"), F.col("cb").alias("b"))
                    .agg(F.sum("w").alias("w")), "b")
                nxt_deg = _iter_cache(labels.join(deg, "id")
                                      .groupBy(F.col("label").alias("id"))
                                      .agg(F.sum("k").alias("k")), "id")
                level.close()
                we = level.enter_context(nxt_we)
                deg = level.enter_context(nxt_deg)
    out = orig.select(F.col("id").alias("node"),
                      F.col("label").alias("community"))
    return (out, executed) if return_rounds else out


def modularity_of(edges: DataFrame, labels: DataFrame,
                  src: str = "src", dst: str = "dst",
                  strict: bool = True) -> DataFrame:
    """Newman modularity of an arbitrary (node, community) partition over
    the undirected simple graph: Q = intra/m − Σ_c (D_c/2m)². Every term
    is an exact integer count until two double divisions in fixed order,
    so the score is engine-identical to 9 digits (the q_osm_modularity
    construction, generalized to any partition). Returns one row
    (n_communities, modularity).

    ``labels`` must cover EVERY node appearing in ``edges`` — the
    edge⋈label join is inner, so a missing endpoint would silently drop
    its edges, shrinking 2m and skewing Q. ``strict`` (default) verifies
    the contract with one small anti-join count and raises on violation;
    pass ``strict=False`` only when coverage is guaranteed by
    construction (e.g. labels came from an algorithm run on the same
    edge list)."""
    und = symmetric_edges(edges, src, dst).localCheckpoint()
    # r15: materialize the partition once — ``labels`` is typically a
    # lazy multi-round plan (LPA / Louvain), and this function references
    # it four times (coverage check, n_comm count, both join sides), so
    # without the checkpoint the whole community algorithm re-executed
    # per reference (q_osm_modularity: 2 LPA runs at build + the join
    # sides at exec; sf0.01 build 8.5 s → 5.3 s with this + the caller
    # checkpointing the shared edge list).
    labels = labels.localCheckpoint()
    if strict:
        missing = (und.select(F.col("a").alias("node")).distinct()
                   .join(labels.select("node"), "node", "left_anti")
                   .count())
        if missing:
            raise ValueError(
                f"modularity_of: {missing} edge endpoint(s) missing from "
                "labels — the partition must cover every node in edges")
    la = labels.select(F.col("node").alias("a"),
                       F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"),
                       F.col("community").alias("cb"))
    j = und.join(la, "a").join(lb, "b")
    tot = j.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum((F.col("ca") == F.col("cb")).cast("long")).alias("intra2"))
    deg = (j.groupBy("a", "ca").agg(F.count(F.lit(1)).alias("k"))
           .groupBy("ca").agg(F.sum("k").alias("dc")))
    sq = deg.crossJoin(tot).agg(
        F.sum((F.col("dc").cast("double") / F.col("m2").cast("double"))
              * (F.col("dc").cast("double") / F.col("m2").cast("double")))
        .alias("sum_sq"))
    n_comm = labels.select("community").distinct().count()
    row = (tot.crossJoin(sq)
           .select((F.col("intra2").cast("double")
                    / F.col("m2").cast("double")
                    - F.col("sum_sq")).alias("q")))
    return row.select(
        F.lit(n_comm).cast("long").alias("n_communities"),
        F.round("q", 9).alias("modularity"))


def refine_connected(edges: DataFrame, labels: DataFrame,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """Leiden-style refinement of a community partition: split every
    community into its CONNECTED pieces — the well-connectedness
    guarantee that is Leiden's headline fix to Louvain (Traag, Waltman &
    van Eck 2019, "From Louvain to Leiden": Louvain can emit internally
    disconnected communities; splitting a disconnected community never
    decreases modularity, so Q(refined) ≥ Q(input) always, with strict
    improvement exactly when a violation existed).

    Implementation: restrict the undirected edge list to intra-community
    pairs (labels never cross, so components cannot leak between
    communities), run the existing O(log²)-round star-contraction
    :func:`connected_components` on that subgraph, and relabel each node
    by its piece's minimum node id (nodes with no intra-community edge
    become their own singleton). Two label joins + the components rounds;
    everything keyed on node id. ``labels`` is (node, community) as
    returned by :func:`louvain` / :func:`label_propagation`.
    """
    und = symmetric_edges(edges, src, dst)
    la = labels.select(F.col("node").alias("a"),
                       F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"),
                       F.col("community").alias("cb"))
    intra = (und.join(la, "a").join(lb, "b")
             .filter(F.col("ca") == F.col("cb"))
             .select(F.col("a").alias("src"), F.col("b").alias("dst")))
    pieces = connected_components(intra)
    return (labels.join(pieces.select("node",
                                      F.col("component").alias("_piece")),
                        "node", "left")
            .select("node",
                    F.coalesce("_piece", F.col("node")).alias("community")))


def k_core(edges: DataFrame, k: int = 2, src: str = "src", dst: str = "dst",
           max_rounds: int = 30, return_rounds: bool = False):
    """Nodes of the ``k``-core — the maximal subgraph where every node has
    degree ≥ k — with their within-core degree: (node, core_deg).

    Simultaneous peeling: each round drops *every* node whose current
    degree is < k (and its incident edges) at once, so a pendant path of
    length L peels in L/2 rounds, not L; on a topology-merged road graph
    (degree-2 chains already contracted) the fixpoint lands in a handful
    of rounds.  Per round: one groupBy-count on the node key + two
    semi-joins on the same key — no new shuffle keys, AQE coalesces the
    shrinking tail.  ``localCheckpoint`` truncates lineage per round
    (cluster jobs would use a checkpoint dir); convergence is an edge-count
    fixpoint (the edge set only shrinks, so count equality IS stability —
    no hash needed).
    """
    count = (F.count(F.lit(1)).alias("c"),)
    e, m0 = _ckpt_observe(symmetric_edges(edges, src, dst), *count)

    def peel(e):
        keep = (e.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k).select("a"))
        return (e.join(keep, "a", "left_semi")
                .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
                .select("a", "b"))

    e, rounds = _until_stable(peel, e, count, max_rounds, sig=m0)
    out = (e.groupBy("a").agg(F.count(F.lit(1)).alias("core_deg"))
           .filter(F.col("core_deg") >= k)
           .select(F.col("a").alias("node"), "core_deg"))
    return (out, rounds) if return_rounds else out
