#!/usr/bin/env python3
"""Same-window A/B of the repository benchmark: a base revision against the
working tree, in alternating pairs.

The base revision (default HEAD) is exported with `git archive` into a
fresh directory under $TMPDIR, so it builds from its own committed sources
and nothing is registered in the repository. Each pair runs
`perfbench/run.py` once from each tree with the same workload, seed and
run length; the tree that goes first alternates from pair to pair. A pair
in which either run's envelope shows hypervisor steal >= 5% is run once
more, and the re-run counts in its place; a re-run that still reads steal
>= 5% is printed as `excluded` and left out of the medians and the win
counts.

Usage:
    python3 tools/bench_ab.py --workload minute_live [--workload catchup] \
        --seeds 421,422,423 [--base HEAD] [--seconds 12] [--trace 0|1]

Prints every run (metrics, steal, CPU probe), then per workload and metric
the median of each side, the base's interquartile distance, the
change/base ratio of the medians, and in how many pairs the change read
lower. Every metric printed by the runner with --trace 0 is
lower-is-better. Exits 1 if any run failed its output checks.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from statistics import median, quantiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STEAL_LIMIT = 5.0


def export(rev):
    """A fresh copy of `rev`'s committed files; returns its directory."""
    dest = tempfile.mkdtemp(prefix="bench_ab-base-")
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run(tree, workload, seed, seconds, trace):
    """One benchmark run from `tree`: a dict with ok, metrics and envelope."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    env = {}
    for line in proc.stderr.splitlines():
        if line.startswith("[perfbench] envelope "):
            env = json.loads(line[len("[perfbench] envelope "):])
    try:
        out = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-2000:])
        out = {}
    metrics = {k: v["value"] for k, v in out.get("metrics", {}).items()}
    return {"ok": proc.returncode == 0 and out.get("correct", False),
            "failed": out.get("failed"), "metrics": metrics, "envelope": env}


def show(side, seed, r):
    env = r["envelope"]
    ms = " ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items()))
    print(f"  {side:6s} seed={seed} ok={r['ok']} failed={r['failed']} "
          f"steal={env.get('host_steal_pct', float('nan')):.2f}% "
          f"probe={env.get('host_cpu_probe_ms', float('nan')):.2f}ms {ms}", flush=True)


def pair(trees, workload, seed, seconds, trace, base_first):
    order = ["base", "change"] if base_first else ["change", "base"]
    return {side: run(trees[side], workload, seed, seconds, trace) for side in order}


def contended(p):
    """Whether either run of pair `p` read steal >= STEAL_LIMIT."""
    return any(r["envelope"].get("host_steal_pct", 0) >= STEAL_LIMIT for r in p.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated; one pair per seed")
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    trees = {"base": export(a.base), "change": ROOT}
    all_ok = True
    try:
        for w in a.workload:
            print(f"== {w}: base {a.base} vs working tree, seeds {seeds}", flush=True)
            pairs = []
            for i, seed in enumerate(seeds):
                p = pair(trees, w, seed, a.seconds, a.trace, base_first=i % 2 == 0)
                if contended(p):
                    print(f"  pair seed={seed} re-run: steal >= {STEAL_LIMIT}%", flush=True)
                    p = pair(trees, w, seed, a.seconds, a.trace, base_first=i % 2 == 0)
                for side, r in p.items():
                    show(side, seed, r)
                    all_ok &= r["ok"]
                if contended(p):
                    print(f"  pair seed={seed} excluded: re-run steal >= {STEAL_LIMIT}%", flush=True)
                else:
                    pairs.append(p)
            if not pairs:
                print("  no pair left to compare", flush=True)
                continue
            names = sorted(set.intersection(*(set(r["metrics"]) for p in pairs for r in p.values())))
            print(f"  {'metric':16s} {'base':>10s} {'base IQR':>10s} {'change':>10s} {'ratio':>7s}"
                  "  change lower")
            for k in names:
                bs = [p["base"]["metrics"][k] for p in pairs]
                b, c = median(bs), median(p["change"]["metrics"][k] for p in pairs)
                q1, _, q3 = quantiles(bs, n=4) if len(bs) > 1 else (b, b, b)
                wins = sum(p["change"]["metrics"][k] < p["base"]["metrics"][k] for p in pairs)
                ratio = c / b if b else float("nan")
                print(f"  {k:16s} {b:10.4g} {q3 - q1:10.4g} {c:10.4g} {ratio:7.3f}  {wins}/{len(pairs)}")
    finally:
        shutil.rmtree(trees["base"], ignore_errors=True)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
