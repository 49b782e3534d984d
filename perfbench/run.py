#!/usr/bin/env python3
"""Lake benchmark: run one named workload and print its metrics.

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 10 --trace 0

Workloads: ``lake_mixed`` (reads beside writes and maintenance on one
table, and the streaming ingest path into another), ``analytics``
(relational and LLM-kernel registry queries). Each runs in this one
process on ``local[<cpus>]`` with one closed-loop client. Inputs come
only from ``--seed``.

``--trace 0`` prints the end-to-end metrics, measured with tracing off
after an untimed warm-up, over a window of a fixed number of ops that
``--seconds`` sets (see README.md), so the tail percentile never depends
on the engine's speed. ``--trace 1`` measures an untraced half-window
and then a traced half-window, and prints the per-layer metrics of the
traced half plus the tracing overhead (traced minus untraced end-to-end
figures); the spans are written to ``.perfbench_out/``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries sample counts,
tail percentiles, the workload's own named figures and the session
settings. All scratch data lives in one directory under ``.perfbench_run/``
that is removed on exit. Exit code 0 only when every correctness check
passed and every metric was measured.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

WORKLOADS = ("lake_mixed", "analytics")


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metrics(ctx: harness.Context, outcome: harness.Outcome,
             spec: dict) -> dict:
    if not ctx.traced:
        e2e = harness.e2e_metrics(outcome.windows[0])
        e2e["setup_s"] = (ctx.setup_s(), "s")
        e2e["peak_rss_mb"] = (ctx.peaks["engine"], "MB")
        return e2e
    plain, traced = outcome.windows
    # a layer the workload does not reach reads 0
    layers = {m["name"]: (0.0, m["unit"]) for m in spec["per_layer"]}
    layers.update(harness.common_layers(ctx, ctx.tracer))
    layers.update(outcome.layers)
    p50 = harness.p50
    layers["trace.overhead_op_p50_s"] = (
        p50(traced.latencies()) - p50(plain.latencies()), "s")
    layers["trace.overhead_ops_per_s"] = (
        traced.ops_per_s() - plain.ops_per_s(), "1/s")
    return layers


def main(argv: list[str]) -> int:
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if args.trace else "end_to_end"]}
    settings = harness.machine_settings()
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-",
                               dir=os.path.join(ROOT, ".perfbench_run"))
    harness.configure_env(ROOT, run_dir, settings)
    ctx = harness.Context(args.workload, args.seed, args.seconds,
                          bool(args.trace), run_dir, settings)
    t_run = time.perf_counter()
    try:
        try:
            importlib.import_module(harness.PACKAGE)
        except ImportError as exc:
            print(f"cannot import the engine package {harness.PACKAGE!r} "
                  f"from {ROOT}: {exc}", file=sys.stderr)
            return 2
        workload = importlib.import_module(f"perfbench.{args.workload}")
        ctx.start_session()
        outcome = workload.run(ctx)
        metrics = _metrics(ctx, outcome, spec)
        if ctx.tracer is not None:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
    except Exception:  # noqa: BLE001 - the run fails without a result line
        traceback.print_exc()
        return 1
    finally:
        try:
            ctx.stop_session()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))  # only when no other run
            except OSError:
                pass
    measured = {k: u for k, (_v, u) in metrics.items()}
    if measured != declared:
        print(f"metrics {sorted(set(measured.items()) ^ set(declared.items()))}"
              " differ from BENCHMARK.json", file=sys.stderr)
        return 1
    windows = outcome.windows
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "settings": {**settings,
                     "master": f"local[{settings['cpus']}]",
                     "run_dir": os.path.relpath(run_dir, ROOT),
                     "setup_reps": len(ctx.setup_times),
                     "session_start_s": ctx.session_start_s,
                     "setup_rep_s": ctx.setup_times},
        "samples": {"ops": len(windows[-1].samples),
                    "setup": len(ctx.setup_times)},
        "window_s": [w.busy_s for w in windows],
        "run_s": time.perf_counter() - t_run,
        **outcome.detail,
    }
    detail["failed_op_ratio"] = outcome.failed / max(1, outcome.attempted)
    if not ctx.traced:
        lat = windows[0].latencies()
        detail["op_tail_percentile"] = harness.stats.tail(lat)[0]
        detail["cpu_steal_s"] = windows[0].extra["cpu_steal_s"]
        detail["peak_rss_mb"] = {
            **ctx.peaks,
            "read": "right after the window, before the checks; the metric "
                    "is the engine's (JVM and Python workers)"}
    else:
        detail["functions"] = (
            "functions/ kernels run inside Spark's Python workers and "
            "cannot be timed from the driver; plans.execute_s.llm is "
            "their proxy")
    if outcome.errors:
        detail["correctness_errors"] = outcome.errors
    print(json.dumps(detail, default=str))
    result = {
        "correct": not outcome.errors,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if not outcome.errors else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
