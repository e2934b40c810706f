"""Product-path benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload network_analyze --seed 1 \\
        --seconds 1 --trace 0

Runs single-process on ``local[nproc]``, closed loop with one client: the
next pass starts when the previous one ends. The extract is generated (and
cached under ``perfbench/.cache``) before anything is timed. Set-up (a cold
SparkSession, the workload's untimed state, one warm-up pass) is timed
once. Timed passes follow until ``--seconds`` have passed, one at least;
the outputs of the last pass are then checked against the generator's
ground truth.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns the Spark
UI on, runs half the time untraced and half traced, and prints every
per-layer metric. The last stdout line is the result; the line before it
holds the details (environment, per-pass samples, mismatches).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CALLS = ("pbf.read_nodes", "pbf.read_ways", "pbf.read_way_nodes",
         "pbf.assemble", "io.read_osm", "io.write", "tags.catalog",
         "network.car", "network.complete", "topology.merged_car",
         "topology.merged_complete", "topology.incremental",
         "graphs.directed", "export.csv", "graph_algo.components",
         "graph_algo.pagerank", "graph_algo.communities", "graph_algo.sssp")
END_TO_END = ("wall_s", "rows_per_s", "setup_s", "peak_rss_mb", "ok_ratio")
COUNTS = ("pbf.blobs", "pbf.entities", "topology.segments", "graphs.edges",
          "export.bytes", "topology.affected_ratio")


def per_layer_names() -> list[str]:
    from probe import PASS_METRICS, SPAN_METRICS

    return ([f"{c}.{m}" for c in CALLS for m in SPAN_METRICS] + list(COUNTS)
            + ["session.start_s", *PASS_METRICS, "trace.overhead_s"])


def _environ(trace: bool) -> None:
    """Spark settings for the run; every file Spark writes stays under
    ``perfbench/.cache``."""
    scratch = os.path.join(HERE, ".cache", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    # not get_spark's 8g: with it the heap grows to whatever GC timing
    # leaves, and peak_rss_mb spread 0.35 (IQR/median) over ten seeds of
    # the network workload, more than any bound a benchmark may declare
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={scratch} -XX:-UsePerfData").strip()


def _highest_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples above it."""
    return int(100 * (1 - 10 / n)) if n >= 20 else None


class Run:
    """One run of one workload: set-up, timed passes, checks."""

    def __init__(self, workload: str, seed: int):
        import gen
        from workloads import WORKLOADS

        self.cls = WORKLOADS[workload]
        self.data = gen.generate(seed, self.cls.size)
        self.out = os.path.join(HERE, ".cache", "out",
                                f"{workload}-{os.getpid()}")
        self.spark = self.wl = None

    def setup(self) -> tuple[float, float]:
        """Session start, the workload's untimed state and one warm-up
        pass: what a CLI user pays on every subcommand. Returns (session
        start seconds, set-up seconds)."""
        from osm_pg_etl_spark.session import get_spark
        from probe import Probe

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        start = time.perf_counter() - t0
        self.wl = self.cls(self.spark, self.data, self.out)
        self.wl.prepare()
        warm = Probe(self.spark, traced=False)
        warm.begin_pass()
        self.wl.run_pass(warm)
        warm.end_pass(0.0)
        return start, time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers under
        it) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()      # the gateway exits on EOF
            gateway.proc.wait(timeout=60)

    def measure(self, traced: bool, seconds: float):
        """Timed passes for ``seconds``, one at least."""
        from probe import Probe

        p = Probe(self.spark, traced)
        end = time.perf_counter() + seconds
        while not p.passes or time.perf_counter() < end:
            p.begin_pass()
            t0 = time.perf_counter()
            self.wl.run_pass(p)
            p.end_pass(time.perf_counter() - t0)
        return p

    def check(self, probes, traced: bool) -> tuple[dict, int, int]:
        """Outputs against the ground truth. Returns (mismatches by call,
        calls attempted, calls failed): a wrong output fails every timed
        call that produced it."""
        bad = self.wl.check(traced)
        made = [m for p in probes for m in p.calls_per_pass]
        return (bad, sum(sum(m.values()) for m in made),
                sum(n for m in made for name, n in m.items() if name in bad))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environ(bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    from probe import environment, peak_rss_mb

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    run = Run(args.workload, args.seed)
    try:
        start, setup = run.setup()
        if args.trace:
            plain = run.measure(False, args.seconds / 2)
            traced = run.measure(True, args.seconds / 2)
            probes = [plain, traced]
        else:
            plain = traced = run.measure(False, args.seconds)
            probes = [plain]
        t_check = time.perf_counter()
        bad, attempted, failed = run.check(probes, bool(args.trace))
        check_s = time.perf_counter() - t_check
        env = environment(run.spark, args.seed, {run.cls.size: run.data})
        rss = peak_rss_mb(run.spark)
    finally:
        run.stop()
        shutil.rmtree(run.out, ignore_errors=True)

    walls = [p["pass.wall_s"] for p in plain.passes]
    wall = statistics.median(walls)
    values = {                          # END_TO_END, in declared order
        "wall_s": wall,
        "rows_per_s": run.wl.rows() / wall,
        "setup_s": setup,
        "peak_rss_mb": rss,
        "ok_ratio": 1 - failed / attempted,
    }
    if args.trace:
        values = dict.fromkeys(per_layer_names(), 0.0)
        for name in set().union(*traced.passes) - {"pass.wall_s"}:
            values[name] = statistics.median(p.get(name, 0.0)
                                             for p in traced.passes)
        values.update(run.wl.counts)
        values["session.start_s"] = start
        values["trace.overhead_s"] = statistics.median(
            p["pass.wall_s"] for p in traced.passes) - wall
    section = declared["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in section}
    print(json.dumps({"detail": {
        "workload": args.workload, "environment": env,
        "rows_per_pass": run.wl.rows(), "samples": len(walls),
        "wall_s_samples": walls,
        "highest_percentile": _highest_percentile(len(walls)),
        "session_start_s": start, "check_s": check_s,
        "mismatches": bad}}))
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
