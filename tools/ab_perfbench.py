"""Interleaved A/B perfbench runs: a parent commit against the working tree.

Usage: python3 tools/ab_perfbench.py <parent-ref> <workload> <seeds>
                                     [--seconds S] [--trace 0|1]

<seeds> is a range (``11-15``) or a comma list (``3,7``). The parent is
checked out as a detached ``git worktree`` in a temp dir that is removed
on exit. For every seed, ``perfbench/run.py`` runs once on each tree, one
run at a time, the order swapping from seed to seed (ABBA) so slow drift
of the host's load falls on both sides alike. Each run builds from its own
tree's source.

Prints one line per run (end-to-end metrics, ``cpu_steal_s``, the oracle
verdict), then per metric the parent and change medians, their ratio and
on how many seeds the change was better (direction from BENCHMARK.json).
With ``--trace 1`` the median table covers every per-layer metric too.
Exit code 0 only when every run passed its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def _run(tree: str, workload: str, seed: int, seconds: float,
         trace: int) -> tuple[dict, dict]:
    """(detail, result) of one run.py invocation in ``tree``."""
    proc = subprocess.run(
        [sys.executable, os.path.join(tree, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        raise RuntimeError(f"{tree} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent_ref")
    p.add_argument("workload")
    p.add_argument("seeds")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end = [m["name"] for m in bench["end_to_end"]]
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}

    tmp = tempfile.mkdtemp(prefix="ab_perfbench_")
    parent = os.path.join(tmp, "parent")
    trees = {"parent": parent, "change": ROOT}
    values: dict[str, dict[str, list[float]]] = {"parent": {}, "change": {}}
    ok = True
    try:
        subprocess.run(["git", "worktree", "add", "--detach", parent,
                        args.parent_ref], cwd=ROOT, check=True)
        for i, seed in enumerate(_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                detail, result = _run(trees[side], args.workload, seed,
                                      args.seconds, args.trace)
                metrics = {k: v["value"] for k, v in result["metrics"].items()}
                for k, v in metrics.items():
                    values[side].setdefault(k, []).append(v)
                ok = ok and result["correct"]
                steal = detail.get("cpu_steal_s")
                if steal is not None:
                    values[side].setdefault("cpu_steal_s", []).append(steal)
                print(f"seed {seed} {side:6s} correct={result['correct']} "
                      + " ".join(f"{k}={metrics[k]:.4g}"
                                 for k in end_to_end if k in metrics)
                      + (f" cpu_steal_s={steal:.2f}" if steal is not None
                         else ""), flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent],
                       cwd=ROOT, capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT,
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"{'metric':34s} {'parent':>10s} {'change':>10s} {'ratio':>7s} "
          f"better")
    for name, pv in values["parent"].items():
        cv = values["change"].get(name)
        if not cv:
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        ratio = f"{cm / pm:7.3f}" if pm else "      -"
        wins = ""
        if name in better:
            sign = 1 if better[name] == "higher" else -1
            wins = f"{sum(sign * (c - q) > 0 for q, c in zip(pv, cv))}/{len(cv)}"
        print(f"{name:34s} {pm:10.4g} {cm:10.4g} {ratio} {wins}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
