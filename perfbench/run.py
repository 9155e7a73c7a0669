#!/usr/bin/env python3
"""Benchmark of the BigCLAM engine on seeded planted-community graphs.

    python3 perfbench/run.py --workload fit_dense --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the seed's inputs (cached under
``perfbench/_work``), starts ``local[nproc]`` sessions, times one fit,
serves held-out nodes until ``--seconds`` have passed since the fit
began, checks every output, and prints one JSON object as the last line
of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
times an untraced and then a traced fit, reports the per-layer metrics
of the traced one plus the tracing overhead, and writes the spans to
``perfbench/_work/trace-*.json``. See ``perfbench/README.md`` for the
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "bigclam_apachespark_spark"
SETUP_REPS = 3
DRIVER_MEM = "1g"  # the heap fills to its cap, so VmHWM repeats; with 2g it varied by ~30%

# Top spans whose joined stage metrics are reported per layer.
TOP_SPANS = {
    "run": ("run",),
    "fit": ("bigclam.bigclam_fit", "bigclam_long.bigclam_fit_long"),
    "serve": ("serve",),
}
STAGE_METRICS = [
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("executor_run_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("core_idle_frac", "ratio"),
]
LAYER_SECONDS = [
    "edgelist.read_edge_list",
    "graph.symmetrize",
    "graph.ego_conductance",
    "graph.local_min_seeds",
    "bigclam.seed_membership",
    "bigclam.init_factors",
    "bigclam.edge_fv_relation",
    "bigclam.gradient_state",
    "bigclam.line_search_updates",
    "bigclam.apply_updates",
    "bigclam.sum_f",
    "bigclam_long.init_factors_long",
    "bigclam_long.edge_stats_long",
    "bigclam_long.gradient_long",
    "bigclam_long.line_search_updates_long",
    "bigclam_long.apply_updates_long",
    "bigclam_long.loglikelihood_long",
    "bigclam_long.fold_in_long",
    "bigclam.sink_write",
    "checkpointing.checkpoint_fresh",
]


def pin_env() -> dict:
    """The environment the engine runs in, through the variables its
    session factory (and Spark) already read."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def layer_metrics(rep, plain_wall: float, tracer, stages, cores: int, dense: bool, n_vertices: int) -> dict:
    """Per-layer metrics of one traced fit and its serving."""
    import tracer as TR

    m = {f"{name}.s": (tracer.layer_seconds(name), "s") for name in LAYER_SECONDS}
    m["bigclam.extract_invert.s"] = (
        tracer.layer_seconds("bigclam.extract_communities") + tracer.layer_seconds("bigclam.invert_communities"),
        "s",
    )
    m["checkpointing.checkpoint_fresh.calls"] = (tracer.counters[TR.CHECKPOINT + ".calls"], "count")
    m["edgelist.rows"] = (rep.counts["edgelist.rows"], "count")
    m["graph.seeds"] = (rep.counts["graph.seeds"], "count")
    m["bigclam.iterations"] = (rep.iterations if dense else 0, "count")
    updated = tracer.counters["bigclam.line_search_updates.rows"]
    m["bigclam.accept_ratio"] = (updated / (rep.iterations * n_vertices) if dense else 0.0, "ratio")
    m["bigclam_long.nnz"] = (rep.nnz_long, "count")
    m["bigclam.sink_bytes"] = (rep.sink_bytes, "bytes")

    joined = TR.join_stages(tracer.spans, stages)
    for top, names in TOP_SPANS.items():
        spans = [s for s in tracer.spans if s.name in names]
        agg = {f: sum(joined[s.id][f] for s in spans) for f, _ in STAGE_METRICS[:-1]}
        wall = TR.union_length([(s.start, s.end) for s in spans])
        agg["core_idle_frac"] = 1.0 - agg["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
        for f, unit in STAGE_METRICS:
            m[f"{top}.{f}"] = (agg[f], unit)
    m["tracing_overhead_s"] = (rep.wall_s - plain_wall, "s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the {PACKAGE} package is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import SPECS, prepare, run_rep, warmup, warmup_inputs

    if args.workload not in SPECS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(SPECS)}", file=sys.stderr)
        return 2
    spec = SPECS[args.workload]
    env = pin_env()
    inp = prepare(spec, args.seed, WORK)
    small = warmup_inputs(spec, WORK)

    from bigclam_apachespark_spark.session import get_spark

    setups, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        warmup(spark, small)
        setups.append(time.perf_counter() - t0)
    gateway = spark.sparkContext._gateway
    cores = int(env["SPARK_GRAFT_CPUS"])

    tracer = stage_log = traced = None
    if args.trace:
        import tracer as TR

        tracer = TR.Tracer(run_id=f"{spec.name}-{args.seed}-{os.getpid()}")
        stage_log = TR.StageLog(spark)
        polled = {n for names in TOP_SPANS.values() for n in names}
        tracer.on_close = lambda sp: stage_log.poll() if sp.name in polled else None

    try:
        # One timed fit per run; serving fills the rest of --seconds. A
        # traced run follows an untraced fit, which does not serve, with
        # a traced one, which does.
        deadline = time.perf_counter() + args.seconds
        plain = run_rep(spark, spec, inp, WORK, serve_until=None if tracer else deadline)
        if tracer is not None:
            traced = run_rep(spark, spec, inp, WORK, tracer, serve_until=time.perf_counter() + args.seconds)
            stage_log.poll()
        rss = vm_hwm_mb(gateway.proc.pid) + vm_hwm_mb("self")
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    reps = [plain] if traced is None else [plain, traced]
    for i, rep in enumerate(reps):
        print(
            f"# fit {i + 1}{' traced' if rep is traced else ''}: wall_s={rep.wall_s:.2f} fit_s={rep.fit_s:.2f} "
            f"serve_batches={len(rep.serve_ms)} f1={rep.f1:.4f}",
            file=sys.stderr,
        )
    checks = [ok for r in reps for _, ok in r.checks]
    for name in sorted({name for r in reps for name, ok in r.checks if not ok}):
        print(f"check failed: {name}", file=sys.stderr)

    if args.trace:
        stages = stage_log.sorted()
        m = layer_metrics(traced, plain.wall_s, tracer, stages, cores, spec.layout == "dense", len(inp.vertices))
        tracer.dump(
            os.path.join(WORK, f"trace-{spec.name}-{args.seed}.json"),
            stages,
            cores,
            {"env": env, "workload": spec.name, "seed": args.seed},
        )
    else:
        serve = plain.serve_ms
        m = {
            "setup_s": (statistics.median(setups), "s"),
            "wall_s": (plain.wall_s, "s"),
            "fit_s": (plain.fit_s, "s"),
            "final_nll_per_edge": (plain.nll_per_edge, "nats"),
            "community_f1": (plain.f1, "ratio"),
            "serve_p50_ms": (statistics.median(serve), "ms"),
            "serve_p90_ms": (statistics.quantiles(serve, n=10, method="inclusive")[-1], "ms"),
            "serve_nodes_per_s": (plain.served_nodes / (sum(serve) / 1000.0), "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
    print(f"# {spec.name} seed={args.seed} env={json.dumps(env)}", file=sys.stderr)
    result = {
        "correct": all(checks),
        "attempted": len(checks),
        "failed": len(checks) - sum(checks),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
