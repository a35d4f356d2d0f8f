"""Benchmark runner: builds the program, runs one workload in one JVM,
checks its outputs and prints one JSON line of metrics.

Usage:
  python3 perfbench/run.py --workload minute_live|catchup|query_mix \
      --seed N --seconds S --trace 0|1 [--trace-file PATH]

With --trace 0 the printed metrics are the end-to-end metrics; with
--trace 1 they are the per-layer metrics, and --trace-file writes the
spans, per-layer self times, end-to-end metrics and run envelope of the
traced run. The exit code is 0 only when every output check passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen_tables  # noqa: E402
from stats import geomean, median, union_length  # noqa: E402

WORKLOADS = ("minute_live", "catchup", "query_mix")
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpu_times():
    """(busy-inclusive total, iowait, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[4], v[7] if len(v) > 7 else 0


class HostProbe(threading.Thread):
    """While the harness runs, times a fixed single-threaded loop every half
    second, in CPU time of its own thread (so neither waiting for a core nor
    hypervisor steal counts). Its median is the speed the host gave a core
    over the run: on a shared host it moves by a fifth between ten-second
    stretches, and every timing metric moves with it. Costs about 1% of
    one core."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples = []
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.5):
            t0 = time.thread_time()
            x = 0
            for i in range(100_000):
                x += i * i
            self.samples.append((time.thread_time() - t0) * 1e3)

    def finish(self):
        """Stop sampling; the median loop time in ms."""
        self.done.set()
        self.join()
        return median(self.samples) if self.samples else 0.0


def run_jvm(classes, work, args, timeout):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation: G1's adaptive sizing otherwise moves
    # the resident set by a fifth between identical runs
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ----------------------------------------------------------------------
# Checks and end-to-end metrics
# ----------------------------------------------------------------------

def evaluate(raw, data_dir):
    """(correct, attempted, failed, problems, e2e metrics) of one run."""
    w = raw["workload"]
    problems = []
    if w == "minute_live":
        ops = raw["ops"]
        bad = {}
        for op in ops:
            err = checks.report_error(op["report_dir"], op["tally"])
            if err:
                bad[op["minute"]] = err
                problems.append(f"minute {op['minute']}: {err}")
        measured = [op for op in ops if not op["warmup"]]
        failed = sum(1 for op in measured if op["minute"] in bad or op["late"])
        problems += [f"minute {op['minute']} late by report" for op in measured if op["late"]]
        e2e = {"op_latency_s": median(op["freshness_s"] for op in measured),
               "work_s": median(op["report_s"] for op in measured)}
        ops_n = len(measured)
    elif w == "catchup":
        failed = 0
        for rd in raw["rounds"]:
            if rd["warehouse_rows"] != rd["events"] or rd["distinct_event_ids"] != rd["events"]:
                problems.append(f"round {rd['round']}: warehouse holds {rd['warehouse_rows']} rows, "
                                f"{rd['distinct_event_ids']} distinct ids, want {rd['events']}")
            for op in rd["ops"]:
                err = None if op["succeeded"] else "; ".join(op["errors"]) or "run failed"
                err = err or checks.report_error(op["report_dir"], op["tally"])
                if err:
                    failed += 1
                    problems.append(f"round {rd['round']} minute {op['minute']}: {err}")
        measured = [op for rd in raw["rounds"] for op in rd["ops"]]
        e2e = {"op_latency_s": median(op["ready_s"] for op in measured),
               "work_s": median(rd["catchup_s"] for rd in raw["rounds"])}
        ops_n = len(measured)
    else:
        for name, err in raw["warmup_errors"].items():
            problems.append(f"{name}: {err}")
        names = [n for n in dict.fromkeys(op["query"] for op in raw["ops"])
                 if n not in raw["warmup_errors"]]
        wrong = checks.oracle_errors(data_dir, raw["results_dir"], raw["oracle_sql"], names)
        problems += [f"{n}: {e}" for n, e in wrong.items()]
        bad = set(wrong) | set(raw["warmup_errors"])
        measured = raw["ops"]
        failed = sum(1 for op in measured if op["error"] or op["query"] in bad)
        problems += [f"pass {op['pass']} {op['query']}: {op['error']}" for op in measured if op["error"]]
        per_query = {}
        for op in measured:
            per_query.setdefault(op["query"], []).append(op["s"])
        e2e = {"op_latency_s": geomean(median(v) for v in per_query.values()),
               "work_s": median(raw["passes_s"])}
        ops_n = len(measured)
    e2e["setup_s"] = raw["session_start_s"] + median(raw["staging_s"]) + raw["warmup_s"]
    e2e["cpu_per_op_s"] = raw["cpu_s"] / ops_n
    e2e["rss_peak_mb"] = raw["rss_peak_mb"]
    correct = not any(p for p in problems if "late by report" not in p)
    return correct, ops_n, failed, problems, e2e


E2E_UNITS = {"setup_s": "s", "op_latency_s": "s", "work_s": "s",
             "cpu_per_op_s": "s", "rss_peak_mb": "MB"}


# ----------------------------------------------------------------------
# Per-layer metrics from the traced run
# ----------------------------------------------------------------------

LAYER_UNITS = {}


def _layer(name, unit):
    LAYER_UNITS[name] = unit
    return name


INGEST = {k: _layer(f"ingest.{k}", u) for k, u in [
    ("batches_per_minute", "count"), ("trigger_p50_s", "s"), ("planning_p50_s", "s"),
    ("wal_commit_p50_s", "s"), ("commit_offsets_p50_s", "s"), ("add_batch_p50_s", "s"),
    ("settle_p50_s", "s"), ("task_cpu_s", "s"), ("drain_s", "s"), ("drain_eps", "1/s"),
    ("bytes_per_event", "B"), ("files_per_minute", "count")]}
REPORT = {k: _layer(f"report.{k}", u) for k, u in [
    ("p50_s", "s"), ("driver_self_p50_s", "s"), ("analyze_p50_s", "s"), ("write_p50_s", "s"),
    ("planning_p50_s", "s"), ("jobs", "count"), ("tasks", "count"), ("files_read", "count"),
    ("bytes_read", "B")]}
SCHED = {k: _layer(f"scheduler.{k}", u) for k, u in [
    ("extract_p50_s", "s"), ("analyze_p50_s", "s"), ("report_p50_s", "s"),
    ("slot_wait_p50_s", "s"), ("retries", "count")]}
MIX_QUERIES = ["ref_minute_report", "q1_pricing_summary", "q3_top_revenue", "q7_nation_volume",
               "sql_market_share", "ev_pivot_day_type", "ev_top_user_per_hour",
               "asof_click_attribution", "agg_cube", "agg_kll_report_grain",
               "text_quality_score", "quality_lr_score", "win_moving_avg",
               "dedup_ngram_jaccard", "sim_knn_brute",
               "mm_decode_batched", "wh_compact_roundtrip"]
QUERY = {k: _layer(f"query.{k}", u) for k, u in [
    ("planning_s", "s"), ("jobs", "count"), ("tasks", "count"), ("input_mb", "MB"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]}
for _q in MIX_QUERIES:
    _layer(f"query.{_q}.p50_s", "s")
for _n, _u in [("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("gen.lag_max_s", "s"),
               ("fail_ratio", "ratio"), ("setup.session_start_s", "s"),
               ("setup.staging_s", "s"), ("setup.warmup_s", "s"),
               ("host.steal_pct", "%"), ("host.iowait_pct", "%"), ("host.cpu_probe_ms", "ms")]:
    _layer(_n, _u)


def _med(xs, default=0.0):
    xs = list(xs)
    return median(xs) if xs else default


def self_times(trace):
    """Per span name: count, total and self seconds. A span's self time is
    its duration minus what its child spans and its own SQL executions
    cover."""
    spans = trace.get("spans", [])
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"] / 1e9, s["end_ns"] / 1e9))
    for x in trace.get("executions", []):
        if "start_ms" in x and "end_ms" in x and x["span"] > 0:
            kids.setdefault(x["span"], []).append((x["start_ms"] / 1e3, x["end_ms"] / 1e3))
    out = {}
    for s in spans:
        a, b = s["start_ns"] / 1e9, s["end_ns"] / 1e9
        covered = union_length([(max(a, x), min(b, y)) for x, y in kids.get(s["id"], []) if y > a and x < b])
        o = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        o["count"] += 1
        o["total_s"] += b - a
        o["self_s"] += b - a - covered
    return out


def layer_metrics(raw, trace, failed, attempted, stat):
    m = {k: 0.0 for k in LAYER_UNITS}
    w = raw["workload"]
    spans = trace.get("spans", [])
    execs = trace.get("executions", [])
    by_span = {}
    for x in execs:
        by_span.setdefault(x["span"], []).append(x)
    prog = [p for p in trace.get("progress", []) if p["rows"] > 0]
    ing = trace.get("ingest_counts", {})

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def intervals(xs):
        return [(x["start_ms"] / 1e3, x["end_ms"] / 1e3) for x in xs if "start_ms" in x and "end_ms" in x]

    def exec_s(xs):
        return sum(b - a for a, b in intervals(xs))

    def descendants(sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo += [s["id"] for s in spans if s["parent"] == cur]
        return out

    def span_execs(sid):
        return [x for d in descendants(sid) for x in by_span.get(d, [])]

    def span_count(sid, key):
        return sum(s["counts"].get(key, 0) for s in spans if s["id"] in descendants(sid))

    def report(parts, analyze, write):
        """One minute's report path: its spans, and the SQL executions of
        its analysis and of its report write."""
        xs = [x for s in parts for x in span_execs(s["id"])]
        total = sum(dur(s) for s in parts)
        return {"p50_s": total,
                "driver_self_p50_s": total - sum(union_length(intervals(span_execs(s["id"])))
                                                 for s in parts),
                "analyze_p50_s": exec_s(analyze), "write_p50_s": exec_s(write),
                "planning_p50_s": sum(x.get("planning_ms", 0) for x in xs) / 1e3,
                "jobs": sum(span_count(s["id"], "jobs") for s in parts),
                "tasks": sum(span_count(s["id"], "tasks") for s in parts),
                "files_read": sum(x.get("files", 0) for x in xs),
                "bytes_read": sum(x.get("file_bytes", 0) for x in xs)}

    def ingest_phases(batches):
        for key, ms in [("trigger_p50_s", "triggerExecution"), ("planning_p50_s", "queryPlanning"),
                        ("wal_commit_p50_s", "walCommit"), ("commit_offsets_p50_s", "commitOffsets"),
                        ("add_batch_p50_s", "addBatch")]:
            m[INGEST[key]] = _med(p["ms"].get(ms, 0) / 1e3 for p in batches)

    if w == "minute_live":
        ingest_phases(prog)
        ops = raw["ops"]
        minutes = len(ops)
        m[INGEST["batches_per_minute"]] = len(prog) / minutes
        m[INGEST["settle_p50_s"]] = _med(op["settle_s"] for op in ops if not op["warmup"])
        m[INGEST["files_per_minute"]] = _med(op["files"] for op in ops if not op["warmup"])
        events = minutes * raw["events_per_minute"]
        m["gen.lag_max_s"] = raw["gen_lag_max_s"]
        per = []
        warm = {f"minute-{op['minute']}" for op in ops if op["warmup"]}
        for s in spans:
            if s["name"] == "Pipeline.minutelyReport" and s["req"] not in warm:
                xs = span_execs(s["id"])
                per.append(report([s], [x for x in xs if x.get("action") == "collect"],
                                  [x for x in xs if x.get("action") != "collect"]))
    elif w == "catchup":
        rounds = raw["rounds"]
        minutes = len(rounds) * raw["backlog_minutes"]
        m[INGEST["batches_per_minute"]] = len(prog) / minutes
        ingest_phases(prog)
        m[INGEST["drain_s"]] = _med(rd["drain_s"] for rd in rounds)
        m[INGEST["drain_eps"]] = _med(rd["events"] / rd["drain_s"] for rd in rounds)
        m[INGEST["files_per_minute"]] = _med(rd["warehouse_files"] / raw["backlog_minutes"] for rd in rounds)
        events = len(rounds) * rounds[0]["events"]
        steps = {}
        for s in spans:
            # warm-up rounds are numbered below 1
            if (s["name"].startswith("Scheduler.") and s["name"] != "Scheduler.runDue"
                    and int(s["req"].split("/")[0][len("round-"):]) >= 1):
                steps.setdefault(s["req"], {})[s["name"].split(".", 1)[1]] = s
        for k in ("extract", "analyze", "report"):
            m[SCHED[f"{k}_p50_s"]] = _med(dur(st[k]) for st in steps.values() if k in st)
        ops = [op for rd in rounds for op in rd["ops"]]
        m[SCHED["slot_wait_p50_s"]] = _med(op["slot_wait_s"] for op in ops)
        m[SCHED["retries"]] = sum(op["retries"] for op in ops)
        per = [report(list(st.values()),
                      span_execs(st["analyze"]["id"]) if "analyze" in st else [],
                      span_execs(st["report"]["id"]) if "report" in st else [])
               for st in steps.values()]
    else:
        per, minutes, events = [], 0, 0
        per_query = {}
        for op in raw["ops"]:
            per_query.setdefault(op["query"], []).append(op["s"])
        for q, v in per_query.items():
            m[f"query.{q}.p50_s"] = median(v)
        passes = {}
        for s in spans:
            if s["name"] == "SparkEntry.queries":
                passes.setdefault(s["req"].split("/")[0], []).append(s)
        def pass_sum(f):
            return _med(sum(f(s) for s in ss) for ss in passes.values())
        m[QUERY["planning_s"]] = pass_sum(lambda s: sum(x.get("planning_ms", 0) for x in span_execs(s["id"])) / 1e3)
        m[QUERY["jobs"]] = pass_sum(lambda s: span_count(s["id"], "jobs"))
        m[QUERY["tasks"]] = pass_sum(lambda s: span_count(s["id"], "tasks"))
        m[QUERY["input_mb"]] = pass_sum(lambda s: span_count(s["id"], "input_bytes") / 1048576)
        m[QUERY["shuffle_write_mb"]] = pass_sum(lambda s: span_count(s["id"], "shuffle_write_bytes") / 1048576)
        m[QUERY["spill_mb"]] = pass_sum(lambda s: span_count(s["id"], "spill_bytes") / 1048576)
    for k in REPORT:
        m[REPORT[k]] = _med(p[k] for p in per)
    if minutes:
        m[INGEST["task_cpu_s"]] = ing.get("task_cpu_ns", 0) / 1e9 / minutes
        m[INGEST["bytes_per_event"]] = ing.get("output_bytes", 0) / events
    m["jvm.gc_s"] = raw["gc_s"]
    m["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    m["fail_ratio"] = failed / attempted
    m["setup.session_start_s"] = raw["session_start_s"]
    m["setup.staging_s"] = median(raw["staging_s"])
    m["setup.warmup_s"] = raw["warmup_s"]
    m["host.steal_pct"], m["host.iowait_pct"], m["host.cpu_probe_ms"] = stat
    return m


# ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-file")
    a = ap.parse_args()
    t_start = time.monotonic()

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        stat0 = cpu_times()
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "result.json")]
        data_dir, staging = None, []
        if a.workload == "query_mix":
            for r in range(3):
                t0 = time.monotonic()
                data_dir = os.path.join(work, f"data-{r}")
                gen_tables.write(data_dir, a.seed)
                staging.append(time.monotonic() - t0)
            args += ["--data", data_dir]
        budget = JVM_TIMEOUT_S - (time.monotonic() - t_start)
        probe = HostProbe()
        probe.start()
        try:
            rc = run_jvm(classes, work, args, budget)
        finally:
            probe_ms = probe.finish()
        stat1 = cpu_times()
        if rc != 0:
            sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            raise SystemExit(f"harness {'timed out' if rc is None else f'exited with {rc}'}")
        with open(os.path.join(work, "result.json")) as f:
            raw = json.load(f)
        if staging:
            raw["staging_s"] = staging
        correct, attempted, failed, problems, e2e = evaluate(raw, data_dir)
        total = max(1, stat1[0] - stat0[0])
        stat = (100.0 * (stat1[2] - stat0[2]) / total, 100.0 * (stat1[1] - stat0[1]) / total)
        envelope = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                    "nproc": os.cpu_count(), "session_cores": raw["cores"],
                    "spark": raw["spark_version"], "java": raw["java_version"],
                    "host_steal_pct": round(stat[0], 3), "host_iowait_pct": round(stat[1], 3),
                    "host_cpu_probe_ms": round(probe_ms, 3),
                    "gen_lag_max_s": raw.get("gen_lag_max_s", 0.0),
                    "warmup_discarded": raw["warmup_units"]}
        for p in problems[:20]:
            sys.stderr.write(f"[perfbench] {p}\n")
        sys.stderr.write("[perfbench] envelope " + json.dumps(envelope) + "\n")
        if a.trace:
            layers = layer_metrics(raw, raw["trace"], failed, attempted, stat + (probe_ms,))
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
            if a.trace_file:
                with open(a.trace_file, "w") as f:
                    json.dump({"envelope": envelope, "end_to_end": e2e, "per_layer": layers,
                               "self_time": self_times(raw["trace"]),
                               "spans": raw["trace"]["spans"]}, f, indent=1, sort_keys=True)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
