"""Steadiness proof of the benchmark: sets of untraced runs per workload, each
run on its own seed, one run at a time.

For every end-to-end metric it writes each run's value, and per set the
median and the quartile spread ((Q3 - Q1) / median, from
`statistics.quantiles(values, n=4)`); across sets, the drift of each set's
median from the first set's, as a share of it (positive is worse). Each
run's envelope (steal and iowait share of the host over the run, the host
CPU probe, the generator's worst lag, wall time) is kept beside its values,
and each metric's correlation with the probe is given, so a spread can be
traced to the host. A metric passes when every set's spread, except
`setup_s`'s, and every drift in the worse direction stay within the bound
`BENCHMARK.json` fixes.

Usage: python3 perfbench/steadiness.py   (writes results/steadiness.json)
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS, RUNS, FIRST_SEED = 2, 10, 101


def one_run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    env = [ln.split("envelope ", 1)[1] for ln in p.stderr.splitlines() if "[perfbench] envelope " in ln]
    if p.returncode != 0 or not env:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    e = json.loads(env[-1])
    return {"seed": seed, "wall_s": round(wall, 3),
            "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "host_steal_pct": e["host_steal_pct"], "host_iowait_pct": e["host_iowait_pct"],
            "host_cpu_probe_ms": e["host_cpu_probe_ms"], "gen_lag_max_s": e["gen_lag_max_s"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def summarize(bench, sets):
    """Per metric: each set's median and spread, drift against set 1, pass,
    and the correlation of its values with the host's CPU probe over all
    runs (near 1: the host's speed explains the spread)."""
    probe = [r["host_cpu_probe_ms"] for runs in sets for r in runs]
    out = {}
    for m in bench["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        per = [[r["metrics"][name] for r in runs] for runs in sets]
        meds = [statistics.median(v) for v in per]
        spreads = [spread(v) for v in per]
        drifts = [(x - meds[0]) / meds[0] * (1 if lower else -1) for x in meds[1:]]
        ok = all(d <= bound for d in drifts) and (name == "setup_s" or all(s <= bound for s in spreads))
        flat = [x for v in per for x in v]
        corr = statistics.correlation(probe, flat) if len(set(flat)) > 1 and len(set(probe)) > 1 else 0.0
        out[name] = {"bound": bound, "median": meds, "spread": spreads, "drift": drifts,
                     "pass": ok, "probe_correlation": corr}
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    runs = {w: [] for w in names}
    seed = FIRST_SEED
    # sets run one after the other, as two separate measurements would
    for s in range(SETS):
        for w in names:
            cur = []
            for _ in range(RUNS):
                r = one_run(w, seed, seconds)
                seed += 1
                cur.append(r)
                print(json.dumps({"set": s + 1, "workload": w, **r}), flush=True)
            runs[w].append(cur)
    doc = {"method": f"{SETS} sets of {RUNS} untraced runs per workload, one seed per run "
                     f"from {FIRST_SEED} on, --seconds {seconds}, one run at a time; sets run "
                     "one after the other",
           "nproc": os.cpu_count(),
           "workloads": {w: {"metrics": summarize(bench, runs[w]), "runs": runs[w]} for w in names}}
    out = os.path.join(HERE, "results", "steadiness.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    for w in names:
        for name, x in doc["workloads"][w]["metrics"].items():
            print(f"{w:12s} {name:14s} spread {' '.join(f'{v:.3f}' for v in x['spread'])}"
                  f"  drift {' '.join(f'{v:+.3f}' for v in x['drift'])}"
                  f"  probe r {x['probe_correlation']:+.2f}  {'ok' if x['pass'] else 'FAIL'}")


if __name__ == "__main__":
    main()
