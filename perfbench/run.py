"""Benchmark of metastore_spark, run in-process against its public entry
points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --describe

Run from the root of a checkout. A run sets up three times from an empty
warehouse, warms up, then measures whole rounds of the workload's fixed
operation mix until ``--seconds`` have passed. The last line of stdout is
one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of a traced round (spans recorded around calls into the library,
job/stage/task counts from the status tracker) measured between two
untraced rounds. Logs go to stderr. The exit code is 1 when an output
check fails. Everything the run writes stays under perfbench/_work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from common import (
    Paths, SpanIndex, Tracer, apply_environment, cpu_steal, generate_data,
    host_settings, log, median, peak_rss_mb, start_session, stop_session,
    wrap_library,
)
from registry_cold import RegistryCold
from rest_search import RestSearch
from snapshot_ingest import SnapshotIngest
import spec

# sf0.01: the registry queries are dispatch-bound at this size, and a run
# (set-ups, warm-up and the timed rounds) takes about a minute
SF = 0.01
SETUP_REPS = 3


class RegistryIngest:
    """The cache-cold registry pass and the snapshot CDC loop, one round
    of each in turn: the build layer and the table format's write and
    read paths, which share the snapshot planner."""

    name = "registry_ingest"
    # the query's warm-up passes come first (see registry_cold)
    warm_rounds = 1

    def __init__(self, ctx):
        self.parts = (RegistryCold(ctx), SnapshotIngest(ctx))

    def wrap(self, tracer) -> None:
        for p in self.parts:
            p.wrap(tracer)

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def warmup(self, tracer) -> None:
        # the CDC loop's first commits and reads load code the query
        # pass then runs through as well, so they go first
        for p in reversed(self.parts):
            p.warmup(tracer)

    def round(self, tracer):
        return [op for p in self.parts for op in p.round(tracer)]

    def checks(self):
        return [c for p in self.parts for c in p.checks()]

    def layer_metrics(self, idx, ops) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            out.update(p.layer_metrics(idx, ops))
        return out


WORKLOADS = {w.name: w for w in (RestSearch, RegistryIngest)}


class Context:
    def __init__(self, spark, sf_dir: str, seed: int, paths: Paths):
        self.spark, self.sf_dir, self.seed, self.paths = spark, sf_dir, seed, paths


def _measure(wl, seconds: float, tracer):
    """Whole rounds until ``seconds`` have elapsed (at least one)."""
    ops: list[tuple[str, float, bool]] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        ops += wl.round(tracer)
    return ops, time.perf_counter() - t0


def _per_layer(wl, setup_idx, idx, ops, wall, ops_ref, wall_ref,
               get_spark_s, builds) -> dict[str, float]:
    m = {name: 0.0 for name in spec.units("per_layer")}
    m["session.get_spark_s"] = get_spark_s
    m["session.peak_rss_mb"] = peak_rss_mb()
    m["search.index_build_s"] = sum(
        s.dur for s in setup_idx.named("search.build_index")) / SETUP_REPS
    m["serve.open_ms"] = 1e3 * sum(
        s.dur for s in setup_idx.all if s.layer == "serve") / SETUP_REPS
    m["serve.builds"] = builds
    m["trace.overhead_pct"] = 100.0 * (
        (wall / len(ops)) / (wall_ref / len(ops_ref)) - 1.0)
    covered = sum(s.dur for s in idx.roots())
    m["trace.unaccounted_pct"] = 100.0 * (wall - covered) / wall
    for layer, t in idx.layer_self().items():
        m[f"self.{layer}_pct"] = 100.0 * t / wall
    m.update(wl.layer_metrics(idx, ops))
    return m


def run(args, paths: Paths) -> dict:
    t_run = time.perf_counter()

    def phase(what: str) -> None:
        log(f"{what} at {time.perf_counter() - t_run:.1f} s")

    paths.reset_run_dirs()
    settings = host_settings(paths)
    apply_environment(paths, settings)
    log("settings", json.dumps(settings))
    sf_dir = generate_data(paths, SF)
    spark, get_spark_s = start_session(paths)
    phase("session up")
    tracer = Tracer(spark.sparkContext)
    try:
        wl = WORKLOADS[args.workload](Context(spark, sf_dir, args.seed, paths))
        wrap_library(tracer)
        wl.wrap(tracer)

        tracer.enabled = bool(args.trace)
        setups = []
        for _ in range(SETUP_REPS):
            spark.catalog.clearCache()
            paths.wipe_warehouse()
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        tracer.enabled = False
        log(f"set-ups {[round(s, 3) for s in setups]} s")
        wl.warmup(tracer)
        warm_ops = []
        for i in range(wl.warm_rounds):
            t0 = time.perf_counter()
            ops = wl.round(tracer)
            warm_ops += ops
            log(f"warm-up round {i + 1}: {time.perf_counter() - t0:.3f} s ("
                + " ".join(f"{k}={1e3 * d:.0f}" for k, d, _ in ops) + ")")
        phase("warm-up done")

        stores = paths.warehouse_entries()
        ops_ref, wall_ref = [], 0.0
        if args.trace:
            # untraced rounds before and after the traced one, so the
            # overhead estimate cancels drift that is linear in time
            ops_ref, wall_ref = _measure(wl, args.seconds, tracer)
            tracer.enabled, tracer.phase = True, "timed"
        steal0 = cpu_steal()
        ops, wall = _measure(wl, args.seconds, tracer)
        steal1 = cpu_steal()
        tracer.enabled = False
        if args.trace:
            after, wall_after = _measure(wl, args.seconds, tracer)
            ops_ref, wall_ref = ops_ref + after, wall_ref + wall_after
        builds = len(paths.warehouse_entries() - stores)
        phase("timed rounds done")

        checks = wl.checks() + [("no store built while timed", builds == 0)]
        all_ops = warm_ops + ops_ref + ops
        failed = sum(not ok for _k, _dt, ok in all_ops) + sum(
            not ok for _n, ok in checks)
        attempted = len(all_ops) + len(checks)
        log(f"{len(ops)} ops in {wall:.3f} s; {len(checks)} checks; "
            f"{failed} failed; CPU steal while timed "
            f"{100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1f}%")
        log("ops " + " ".join(f"{k}={1e3 * d:.0f}" for k, d, _ in ops))

        if args.trace:
            tracer.attach_counts()
            metrics = _per_layer(
                wl, SpanIndex(tracer.spans, "setup"),
                SpanIndex(tracer.spans, "timed"), ops, wall, ops_ref,
                wall_ref, get_spark_s, builds,
            )
            os.makedirs(paths.traces, exist_ok=True)
            out = os.path.join(
                paths.traces, f"{args.workload}-seed{args.seed}.jsonl")
            with open(out, "w") as fh:
                for sp in tracer.spans:
                    fh.write(json.dumps(sp.as_dict()) + "\n")
            log(f"{len(tracer.spans)} spans written to {out}")
            units = spec.units("per_layer")
        else:
            metrics = {
                "setup_s": median(setups),
                "latency_p50_ms": 1e3 * median([dt for _k, dt, _ok in ops]),
                "throughput_ops_s": len(ops) / wall,
            }
            units = spec.units("end_to_end")
        if set(metrics) != set(units):
            raise RuntimeError(
                "metrics differ from BENCHMARK.json: "
                f"{sorted(set(metrics) ^ set(units))}")
    finally:
        tracer.unwrap_all()
        stop_session(spark)
        phase("session stopped")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true",
                    help="print the workloads and metrics as JSON")
    args = ap.parse_args(argv)
    spec.check(WORKLOADS)
    if args.describe:
        print(json.dumps(spec.describe(), indent=1))
        return 0
    if not args.workload:
        ap.error("--workload is required")
    paths = Paths(os.path.dirname(os.path.abspath(__file__)))
    paths.require_program()
    # stdout carries only the result line: anything else written to fd 1
    # (the JVM and Python workers inherit it) goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    result = run(args, paths)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
