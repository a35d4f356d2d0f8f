"""Record one traced run of a workload with its tracing-overhead readout.

Runs the workload untraced and traced on the same seed and writes
`perfbench/results/<workload>.trace.json`: the traced run's spans, self
times, per-layer metrics and envelope, plus both runs' end-to-end metrics
and the overhead of tracing (traced minus untraced, as a share of
untraced). One pair of runs: an overhead below the metric's run-to-run
spread is noise.

Usage: python3 perfbench/record_trace.py --workload W --seed N --seconds S
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace, trace_file=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if trace_file:
        cmd += ["--trace-file", trace_file]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    path = os.path.join(HERE, "results", f"{a.workload}.trace.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1, path)
    with open(path) as f:
        doc = json.load(f)
    untraced = {k: v["value"] for k, v in plain["metrics"].items()}
    doc["untraced_end_to_end"] = untraced
    doc["tracing_overhead"] = {k: (doc["end_to_end"][k] - v) / v for k, v in untraced.items()}
    doc["checks"] = {"untraced": {k: plain[k] for k in ("correct", "attempted", "failed")},
                     "traced": {k: traced[k] for k in ("correct", "attempted", "failed")}}
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({"file": os.path.relpath(path), "tracing_overhead": doc["tracing_overhead"]}))


if __name__ == "__main__":
    main()
