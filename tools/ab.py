"""Interleaved A/B runs of ``perfbench/run.py`` between two git revisions.

Each revision's tree is exported with ``git archive`` into a fresh
directory under ``/tmp`` (the benchmark builds what it runs from its own
checkout). Then ``--pairs`` pairs of runs follow, one run per tree, both
on the same seed; the side that runs first alternates from pair to pair,
so a drift of the host's load falls on both sides alike. Every run is
untraced and lasts ``run_seconds`` of NEW's ``BENCHMARK.json``. A pair
counts only if both of its runs finish and report every operation
correct. Per metric the report gives each side's median and quartiles,
and how many pairs NEW won by the metric's ``better`` direction in
``BENCHMARK.json`` (lower unless it says higher). ``clear`` marks a metric whose medians differ
by more than BASE's interquartile range.

A second table names the rows that moved: per query, each side's
median over the pairs of the run's median construct and exec time per
probe. Each sample is divided by the probe timed just before its pass
(``query_samples_s`` and ``probe_s`` of the run-context line); a run
whose sample count for a query differs from its probe count adds no
figure for that query.

Usage::

    python tools/ab.py BASE NEW [--workload relational_llm] [--pairs 10] [--seed 1]

BASE and NEW are git revisions of this repository. The exported trees
are removed at exit. Runs are sequential: one benchmark process at a
time.
"""

from __future__ import annotations

import argparse
import io
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def export(rev: str) -> Path:
    """``rev``'s tree in a new directory under /tmp."""
    tar = subprocess.run(["git", "-C", str(REPO), "archive", rev], check=True,
                         capture_output=True).stdout
    out = Path(tempfile.mkdtemp(prefix="ab_", dir="/tmp"))
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(out, filter="data")
    return out


Run = tuple[dict[str, float], dict[str, tuple[float, float]]]


def per_query(context: dict) -> dict[str, tuple[float, float]]:
    """Per query, the median construct and exec time per probe of one
    run, from its run-context line; a query whose sample count differs
    from the run's probe count is left out."""
    probes = context["probe_s"]
    out = {}
    for name, samples in context["query_samples_s"].items():
        if len(samples) != len(probes):
            print(f"  {name}: {len(samples)} samples for {len(probes)} probes, skipped",
                  file=sys.stderr)
            continue
        out[name] = (statistics.median(c / p for (c, _), p in zip(samples, probes)),
                     statistics.median(e / p for (_, e), p in zip(samples, probes)))
    return out


def run(tree: Path, workload: str, seconds: float, seed: int) -> Run | None:
    """One benchmark run's metrics and per-query figures, or None if it
    failed or was not correct."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  run failed ({p.returncode}): {p.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    if not result.get("correct"):
        print(f"  run not correct: failed={result.get('failed')}", file=sys.stderr)
        return None
    contexts = [json.loads(line) for line in lines[:-1]
                if line.startswith("{") and '"query_samples_s"' in line]
    return ({k: v["value"] for k, v in result["metrics"].items()},
            per_query(contexts[-1]) if contexts else {})


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> None:
    names = sorted(set.intersection(*(set(a) & set(b) for a, b in pairs)))
    print(f"{'metric':34} {'base median [q1, q3]':>30} {'new median [q1, q3]':>30}  won  clear")
    for name in names:
        a = [p[0][name] for p in pairs]
        b = [p[1][name] for p in pairs]
        sign = -1 if better.get(name, "lower") == "higher" else 1
        won = sum(sign * (y - x) < 0 for x, y in zip(a, b))
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        clear = abs(bm - am) > a3 - a1
        base, new = f"{am:.4g} [{a1:.4g}, {a3:.4g}]", f"{bm:.4g} [{b1:.4g}, {b3:.4g}]"
        print(f"{name:34} {base:>30} {new:>30}  {won:>2}/{len(pairs)}  {'yes' if clear else 'no'}")


def report_queries(pairs: list[tuple[dict, dict]]) -> None:
    """Per query, each side's median construct and exec per probe, and
    the pairs NEW won (lower), over the pairs with figures on both
    sides."""
    print(f"{'query':34} {'construct base':>14} {'new':>10} {'won':>5}"
          f" {'exec base':>14} {'new':>10} {'won':>5}")
    for name in sorted(set().union(*(set(a) & set(b) for a, b in pairs))):
        both = [(a[name], b[name]) for a, b in pairs if name in a and name in b]
        cells = ""
        for i in (0, 1):
            x = [a[i] for a, _ in both]
            y = [b[i] for _, b in both]
            won = sum(v < u for u, v in zip(x, y))
            cells += (f" {statistics.median(x):>14.4g} {statistics.median(y):>10.4g}"
                      f" {f'{won}/{len(both)}':>5}")
        print(f"{name:34}{cells}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--workload", default="relational_llm")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args(argv)

    trees = {"base": export(args.base), "new": export(args.new)}
    try:
        spec = json.loads((trees["new"] / "BENCHMARK.json").read_text())
        better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "new") if i % 2 == 0 else ("new", "base")
            got = {side: run(trees[side], args.workload, spec["run_seconds"], seed)
                   for side in order}
            print(f"pair {i + 1}/{args.pairs} seed {seed} first {order[0]}: "
                  + ("ok" if None not in got.values() else "a run failed or was not correct"),
                  file=sys.stderr)
            if None not in got.values():
                pairs.append((got["base"], got["new"]))
        if not pairs:
            print("no pair completed", file=sys.stderr)
            return 1
        print(f"{args.workload}: {args.base} -> {args.new}, {len(pairs)} pairs")
        report([(a[0], b[0]) for a, b in pairs], better)
        print()
        report_queries([(a[1], b[1]) for a, b in pairs])
        return 0 if len(pairs) == args.pairs else 1
    finally:
        for tree in trees.values():
            shutil.rmtree(tree, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
