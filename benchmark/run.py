#!/usr/bin/env python3
"""Repository benchmark for networkx_graph_spark.

One workload, one fresh process:

    python3 benchmark/run.py --workload web_kernels --seed 1 --seconds 1 --trace 0

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on Spark's event log, tags every
job with the span it ran in, and reports the per-layer metrics instead.
A failed output check makes the exit code 1.

Every workload, untraced then traced, with a summary table:

    python3 benchmark/run.py --all [--seed 1] [--report benchmark/traces]

Run from the root of a checkout; everything the run writes goes under
``.bench_work/`` there. See benchmark/README.md for the workloads and the
metric definitions.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 2

# (span name, counters) reported with --trace 1; counters that stay zero
# on every workload that runs the span are left out. ``s`` is the median
# wall of one call; the other counters are medians over calls too.
FULL = ("s", "jobs", "tasks", "exec_run_s", "gc_s", "shuffle_read_mb",
        "shuffle_write_mb", "spill_mb", "task_skew", "driver_gap_s")
QUERY = ("s", "jobs", "tasks", "exec_run_s", "shuffle_write_mb", "task_skew", "driver_gap_s")
LAYERS = (
    ("session.get_spark", ("s",)),
    ("sources.datagen.powerlaw_edges", ("s", "jobs")),
    ("sources.pages_synth.synth_pages", ("s", "jobs", "exec_run_s")),
    ("sources.pages.pages_to_edges", FULL),
    ("sources.pages.encode_edges", FULL),
    ("graph.build", ("s", "jobs", "shuffle_write_mb")),
    ("graph.node_id", ("s", "jobs")),
    ("kernels.pagerank", FULL),
    ("kernels.components", FULL),
    ("kernels.lpa", FULL),
    ("kernels.triangles", FULL),
    ("operators.sssp.shortest_path", QUERY),
    ("operators.sssp.shortest_paths", QUERY),
    ("operators.zigzag.shortest_zigzag_path", QUERY),
    ("operators.bindings.distance_to_bindings", QUERY),
    ("operators.ubodt.build_ubodt", FULL),
)
SETUP_SPANS = {"session.get_spark", "sources.datagen.powerlaw_edges",
               "sources.pages_synth.synth_pages", "graph.build"}
LAYER_EXTRAS = ("kernels.pagerank.iters", "kernels.pagerank.superstep_wall_s",
                "plans.supersteps.checkpoint_mb", "plans.supersteps.checkpoints")
UNITS = {"s": "s", "jobs": "count", "tasks": "count", "exec_run_s": "s", "gc_s": "s",
         "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "task_skew": "ratio", "driver_gap_s": "s", "iters": "count",
         "superstep_wall_s": "s", "checkpoint_mb": "MB", "checkpoints": "count"}
E2E_UNITS = {"wall_s": "s", "setup_s": "s", "throughput_per_s": "1/s", "build_per_s": "1/s",
             "peak_rss_gb": "GB"}


def _unit(metric: str) -> str:
    return UNITS[metric.rsplit(".", 1)[1]]


def _prepare_env() -> None:
    """Keep every file the JVM, Spark and Python write inside the checkout."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, ROOT)
    from networkx_graph_spark.session import get_spark  # fails outside a full checkout

    from benchmark import harness
    from benchmark.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[workload]
    # a SIGTERM unwinds through the finally below, so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.adopt_orphans()
    _prepare_env()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_dir = os.path.join(WORK, "eventlog", str(os.getpid())) if trace else None
    if log_dir:
        os.makedirs(log_dir)
    facts = harness.host_facts()
    nproc = facts["nproc"]
    tracer = harness.Tracer()
    spark = None
    try:
        with tracer.span("session.get_spark") as sp_session:
            spark = get_spark(app_name=f"nxgb-{workload}", master=f"local[{nproc}]",
                              shuffle_partitions=nproc,
                              extra_conf=harness.session_conf(WORK, log_dir))
        if trace:
            tracer.sc = spark.sparkContext
        ctx = Ctx(spark, tracer, seed, run_dir, nproc)
        # peak RSS covers set-up and the passes, not the checks
        with harness.RssSampler() as rss:
            setup_s = []
            for _ in range(SETUP_REPS):
                t0 = time.time()
                wl.setup(ctx)
                setup_s.append(time.time() - t0)
            warm = [wl.run_pass(ctx, k) for k in range(wl.warmup_passes)]
            timed_from = time.time()
            passes, pass_s = [], []
            while not passes or time.time() - timed_from < seconds:
                with tracer.span("pass") as sp:
                    passes.append(wl.run_pass(ctx, len(warm) + len(passes)))
                pass_s.append(sp.s)
        check_from = time.time()
        checks = wl.check(ctx, warm + passes)
        check_s = time.time() - check_from
        throughput, build = wl.rates(ctx, passes)
        extras = wl.extras(ctx, passes)
    except Exception:
        # an operation that raises fails the run: report it as one failed
        # operation, with no metrics, and exit non-zero
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        harness.stop_spark(spark)
    failed = [name for name, ok in checks if not ok]
    e2e = {
        "wall_s": statistics.median(pass_s),
        "setup_s": sp_session.s + statistics.median(setup_s),
        "throughput_per_s": throughput,
        "build_per_s": build,
        "peak_rss_gb": rss.peak / 1024.0 ** 3,
    }
    detail = {"workload": workload, "seed": seed, "host": facts, "passes": len(passes),
              "pass_s": pass_s, "setup_reps_s": setup_s, "session_s": sp_session.s, "check_s": check_s,
              "rate_names": wl.rate_names, "end_to_end": e2e, "extras": extras,
              "failed_checks": failed}
    if trace:
        logs = glob.glob(os.path.join(log_dir, "*"))
        counters = harness.all_span_counters(tracer.spans, logs[0])
        layers = {}
        for span_name, keys in LAYERS:
            # setup spans are medians over the setup repetitions, the rest
            # over calls in the timed passes
            after = 0.0 if span_name in SETUP_SPANS else timed_from
            calls = [counters[s.id] for s in tracer.named(span_name, after)]
            for key in keys:
                layers[f"{span_name}.{key}"] = statistics.median(c[key] for c in calls) if calls else 0.0
            detail.setdefault("calls", {})[span_name] = len(calls)
        for name in LAYER_EXTRAS:
            layers[name] = float(extras.get(name, 0.0))
        detail["layers"] = layers
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
        shutil.rmtree(log_dir, ignore_errors=True)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not failed, "attempted": len(checks),
                      "failed": len(failed), "metrics": metrics}))
    return 0 if not failed else 1


# ---------------------------------------------------------------- --all
def _sub(workload: str, seed: int, seconds: float, trace: int) -> tuple[int, dict, dict]:
    with subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True) as proc:
        try:
            out, _ = proc.communicate(timeout=900)
        except subprocess.TimeoutExpired:
            proc.terminate()  # on SIGTERM the run stops its JVM before exiting
            out, _ = proc.communicate()
    lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
    detail = next((x["detail"] for x in lines if "detail" in x), {})
    return proc.returncode, detail, lines[-1] if lines else {}


def run_all(seed: int, seconds: float, report: str | None) -> int:
    from benchmark.workloads import WORKLOADS

    rc_all = 0
    print(f"{'workload':15} {'metric':32} {'value':>14}  unit")
    for name in WORKLOADS:
        rc, plain, res = _sub(name, seed, seconds, 0)
        rc_t, traced, res_t = _sub(name, seed, seconds, 1)
        rc_all |= rc | rc_t
        if not plain or not traced:
            print(f"{name:15} run failed (exit codes {rc}, {rc_t})")
            rc_all |= 1
            continue
        e2e = dict(plain["end_to_end"])
        rows = [(k, v, E2E_UNITS[k]) for k, v in e2e.items()]
        for name_, key in zip(plain["rate_names"], ("throughput_per_s", "build_per_s")):
            rows.append((name_, e2e[key], "1/s"))
        attempted, failed = res.get("attempted", 0), res.get("failed", 0)
        rows.append(("failed_ratio", failed / attempted if attempted else 1.0, "ratio"))
        rows += [(k, v, "s" if k.endswith("_s") else "count")
                 for k, v in plain.get("extras", {}).items() if not k.startswith(("kernels", "plans"))]
        for k, v, unit in rows:
            print(f"{name:15} {k:32} {_fmt(v):>14}  {unit}")
        if report:
            _write_report(report, name, plain, traced)
    return rc_all


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, (int, float)) else str(v)


def _write_report(out_dir: str, name: str, plain: dict, traced: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    layers = traced.get("layers", {})
    w0, w1 = plain["end_to_end"]["wall_s"], traced["end_to_end"]["wall_s"]
    lines = [
        f"# {name}: traced per-layer table",
        "",
        f"Seed {plain['seed']}, host: {json.dumps(plain['host'])}.",
        "",
        f"Tracing overhead: wall_s {w0:.3f} s untraced vs {w1:.3f} s traced "
        f"({(w1 - w0) / w0 * 100:+.1f}%); setup_s {plain['end_to_end']['setup_s']:.3f} s vs "
        f"{traced['end_to_end']['setup_s']:.3f} s.",
        "",
        "Each value is the median over calls of the span (calls column). Spans "
        "not run by this workload are omitted.",
        "",
        "| span | calls | " + " | ".join(FULL) + " |",
        "|---|---:|" + "---:|" * len(FULL),
    ]
    for span_name, keys in LAYERS:
        calls = traced.get("calls", {}).get(span_name, 0)
        if not calls:
            continue
        cells = [f"{layers[f'{span_name}.{k}']:.3f}" if k in keys else "" for k in FULL]
        lines.append(f"| {span_name} | {calls} | " + " | ".join(cells) + " |")
    extra = [f"- `{k}` = {layers[k]:.4g}" for k in LAYER_EXTRAS if layers.get(k)]
    if extra:
        lines += ["", *extra]
    ex = plain.get("extras", {})
    if ex:
        lines += ["", "Untraced extras: " + ", ".join(f"`{k}` = {_fmt(v)}" for k, v in ex.items())]
    with open(os.path.join(out_dir, f"{name}.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from benchmark.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--report", help="with --all: write per-layer tables to this directory")
    args = ap.parse_args(argv)
    if args.all:
        return run_all(args.seed, args.seconds, args.report)
    if not args.workload:
        ap.error("--workload or --all is required")
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
