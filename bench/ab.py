#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark: a base commit against the working tree.

    python3 bench/ab.py --base HEAD~1 --workload table_ingest --pairs 10 --first-seed 21

Run it from the root of the repo. The base side is a ``git archive`` of
``--base`` unpacked in a temporary directory; the change side is the
working tree as it is on disk. Each pair runs ``perfbench/run.py
--workload W --seed S --seconds T --trace 0`` once on each side, in a
fresh process, with one seed per pair (``--first-seed``, +1 per pair) and
the side that runs first alternating from pair to pair, so drift in the
machine's speed falls on both sides alike. The benchmark's metrics, their
direction and their regression bounds come from ``BENCHMARK.json``; this
script neither imports nor changes ``perfbench/``.

For each workload and end-to-end metric it prints each side's median and
quartiles, the change/base ratio of the medians and the pairs the change
won (ties count for neither side), then a verdict:

- ``gain``: at least 10 pairs ran, the change won at least 9 in 10 of
  them and its median beats the base median by more than the base's
  interquartile range;
- ``worse``: the change's median is worse than the base's by more than the
  metric's bound (a fraction of the base median);
- ``unresolved``: neither, and the base's IQR is wider than the bound, so
  the runs cannot show "no worse" unless every change run beats every base
  run (then ``better``);
- ``flat``: otherwise.

The last stdout line is JSON: the base commit, every run's result line,
and the summary above.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIN_SHARE = 0.9  # a gain needs the change to win this share of the pairs ...
MIN_PAIRS = 10  # ... over at least this many pairs


def parse_args(argv=None) -> argparse.Namespace:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="commit the working tree is compared with")
    p.add_argument(
        "--workload", action="append", choices=[w["name"] for w in bench["workloads"]],
        help="repeat for several; default: every workload of BENCHMARK.json",
    )
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = p.parse_args(argv)
    args.workload = args.workload or [w["name"] for w in bench["workloads"]]
    args.metrics = bench["end_to_end"]
    return args


def export(commit: str, dest: str) -> str:
    """Unpack ``git archive <commit>`` into ``dest``; return the full sha."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{commit}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    archive = subprocess.run(
        ["git", "archive", "--format=tar", sha], cwd=ROOT, check=True, capture_output=True
    ).stdout
    with tempfile.TemporaryFile() as fh:
        fh.write(archive)
        fh.seek(0)
        with tarfile.open(fileobj=fh) as tar:
            tar.extractall(dest, filter="data")
    return sha


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark process; its result line, or the error it ended with."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"wall_s": wall, "error": proc.stderr.strip().splitlines()[-5:]}
    return {"wall_s": wall, "result": json.loads(lines[-1])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base: list[float], change: list[float], lower_is_better: bool, bound: float) -> dict:
    """Compare one metric over paired runs (``base[i]`` with ``change[i]``)."""
    sign = 1.0 if lower_is_better else -1.0
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    gain = sign * (bm - cm)  # > 0: the change is better
    if len(base) >= MIN_PAIRS and wins >= WIN_SHARE * len(base) and gain > b3 - b1:
        call = "gain"
    elif -gain > bound * abs(bm):
        call = "worse"
    elif b3 - b1 > bound * abs(bm):
        better = max(change) < min(base) if lower_is_better else min(change) > max(base)
        call = "better" if better else "unresolved"
    else:
        call = "flat"
    return {
        "base": [bm, b1, b3], "change": [cm, c1, c3],
        "ratio": cm / bm if bm else float("nan"), "wins": wins, "pairs": len(base), "verdict": call,
    }


def summarize(runs: list[dict], metrics: list[dict]) -> dict:
    pairs: dict[int, dict[str, dict]] = {}
    for r in runs:
        pairs.setdefault(r["pair"], {})[r["side"]] = r
    done = [p for p in pairs.values() if all("result" in p.get(s, {}) for s in ("base", "change"))]
    out: dict = {"pairs_complete": len(done), "failed_ops": {}}
    for side in ("base", "change"):
        res = [p[side]["result"] for p in done]
        out["failed_ops"][side] = [sum(r["failed"] for r in res), sum(r["attempted"] for r in res)]
    for m in metrics:
        name = m["name"]
        if not done:
            continue
        base = [p["base"]["result"]["metrics"][name]["value"] for p in done]
        change = [p["change"]["result"]["metrics"][name]["value"] for p in done]
        out[name] = verdict(base, change, m["better"] == "lower", m["bound"])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    report: dict = {"workloads": {}}
    with tempfile.TemporaryDirectory(prefix="ab-base-") as base_dir:
        report["base"] = export(args.base, base_dir)
        sides = {"base": base_dir, "change": ROOT}
        for workload in args.workload:
            runs = []
            for pair in range(args.pairs):
                seed = args.first_seed + pair
                order = ("base", "change") if pair % 2 == 0 else ("change", "base")
                for side in order:
                    run = run_once(sides[side], workload, seed, args.seconds)
                    run.update(side=side, pair=pair, seed=seed)
                    runs.append(run)
                    shown = run.get("error") or {
                        k: round(v["value"], 3) for k, v in run["result"]["metrics"].items()
                    }
                    print(f"{workload} pair {pair} seed {seed} {side}: {shown}", flush=True)
            summary = summarize(runs, args.metrics)
            report["workloads"][workload] = {"runs": runs, "summary": summary}
            print(f"\n{workload}: {summary['pairs_complete']} complete pairs, "
                  f"failed/attempted ops base {summary['failed_ops']['base']} "
                  f"change {summary['failed_ops']['change']}")
            for m in args.metrics:
                s = summary.get(m["name"])
                if s is None:
                    continue
                print(
                    f"  {m['name']:<12} base {s['base'][0]:.3f} [{s['base'][1]:.3f}, "
                    f"{s['base'][2]:.3f}]  change {s['change'][0]:.3f} [{s['change'][1]:.3f}, "
                    f"{s['change'][2]:.3f}]  ratio {s['ratio']:.3f}  "
                    f"wins {s['wins']}/{s['pairs']}  {s['verdict']}"
                )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
