"""Interleaved A/B perfbench runs: a parent commit against the working tree.

Usage: python3 tools/ab_perfbench.py <parent-ref> <workload> <seeds>
                                     [--seconds S] [--trace 0|1]

<seeds> is a range (``11-15``) or a comma list (``3,7``). The parent's
committed files are exported with ``git archive`` into a temp dir that is
removed on exit. For every seed, ``perfbench/run.py`` runs once on each
tree, one run at a time, the order swapping from seed to seed (ABBA) so
slow drift of the host's load falls on both sides alike. Each run builds
from its own tree's source.

Prints one line per run (end-to-end metrics, ``cpu_steal_s``, the oracle
verdict), then per metric:

- each side's median with its quartiles (q1-q3) and the change/parent
  ratio;
- on how many seeds (pairs) the change was better, direction from
  BENCHMARK.json;
- the parent's interquartile range (IQR) and the gain rule: ``gain`` when
  at least ten pairs ran, the change is better on at least 9 of 10 of
  them AND its median is better than the parent's by more than the
  parent's IQR;
- for the end-to-end metrics, ``WORSE`` when the change's median is worse
  than the parent's by more than the metric's bound.

With ``--trace 1`` the table covers every per-layer metric too.

For ``lake_mixed`` the table also has two rows per op kind (the four
reads, ``append``, ``merge``, ``commit`` (one ingest micro-batch) and
``maintain`` (compact + expire)), taken from the detail line's ``op_s``:
``op_s.<kind>``, each run's median sample of the kind, and
``op_max_s.<kind>``, each run's slowest one. A shift in one op kind then
shows without a traced run, and so does a one-off stall (a kind has about
four samples a run, so its median hides one).

For ``analytics`` it has one row per query, ``query_s.<name>``, each
run's median sample of the query from the detail line's ``query_s``; lower
is better. A change to one query then shows without a traced run.

Exit code 0 only when every run passed its checks.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
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


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), the quartiles perfbench/spread.py reports."""
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    return tuple(statistics.quantiles(vals, n=4))


def _verdict(pv: list[float], cv: list[float], better: str | None,
             bound: float | None) -> str:
    """Pair wins, the parent's IQR and the gain rule for one metric."""
    q1, pm, q3 = _quartiles(pv)
    if better is None:
        return f"{'':>6s} {q3 - q1:10.4g}"
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(pv, cv))
    gap = sign * (statistics.median(cv) - pm)
    gain = len(cv) >= 10 and wins >= 0.9 * len(cv) and gap > q3 - q1
    out = f"{wins:2d}/{len(cv):<3d} {q3 - q1:10.4g} {'gain' if gain else '-'}"
    if bound is not None and pm and -gap / abs(pm) > bound:
        out += " WORSE"
    return out


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
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    tmp = tempfile.mkdtemp(prefix="ab_perfbench_")
    parent = os.path.join(tmp, "parent")
    trees = {"parent": parent, "change": ROOT}
    values: dict[str, dict[str, list[float]]] = {"parent": {}, "change": {}}
    ok = True
    try:
        archive = subprocess.run(["git", "archive", args.parent_ref],
                                 cwd=ROOT, check=True,
                                 capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(parent)
        for i, seed in enumerate(_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                detail, result = _run(trees[side], args.workload, seed,
                                      args.seconds, args.trace)
                metrics = {k: v["value"] for k, v in result["metrics"].items()}
                for k, v in metrics.items():
                    values[side].setdefault(k, []).append(v)
                ok = ok and result["correct"]
                for kind, ts in detail.get("op_s", {}).items():
                    if ts:
                        values[side].setdefault(f"op_s.{kind}", []).append(
                            statistics.median(ts))
                        values[side].setdefault(f"op_max_s.{kind}",
                                                []).append(max(ts))
                for name, ts in detail.get("query_s", {}).items():
                    if ts:
                        values[side].setdefault(
                            f"query_s.{name}", []).append(statistics.median(ts))
                steal = detail.get("cpu_steal_s")
                if steal is not None:
                    values[side].setdefault("cpu_steal_s", []).append(steal)
                print(f"seed {seed} {side:6s} correct={result['correct']} "
                      + " ".join(f"{k}={metrics[k]:.4g}"
                                 for k in end_to_end if k in metrics)
                      + (f" cpu_steal_s={steal:.2f}" if steal is not None
                         else ""), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def side(vals: list[float]) -> str:
        q1, med, q3 = _quartiles(vals)
        return f"{med:10.4g} [{q1:.4g}-{q3:.4g}]"

    print(f"{'metric':34s} {'parent median [q1-q3]':>30s} "
          f"{'change median [q1-q3]':>30s} {'ratio':>7s} {'better':>6s} "
          f"{'parent IQR':>10s} rule")
    for name, pv in values["parent"].items():
        cv = values["change"].get(name)
        if not cv:
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        ratio = f"{cm / pm:7.3f}" if pm else "      -"
        direction = ("lower" if name.startswith(("op_s.", "op_max_s.",
                                                 "query_s."))
                     else better.get(name))
        print(f"{name:34s} {side(pv):>30s} {side(cv):>30s} {ratio} "
              + _verdict(pv, cv, direction, bounds.get(name)))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
