"""Output checks: minute reports against the generator's tally, and the
query_mix results against each query's DuckDB oracle SQL, compared the way
the repository's oracle check (`tools/check_oracle.py`) compares them."""
import glob
import json
import os
import re
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, normalize  # noqa: E402


def read_report(report_dir):
    """The JSON document of a committed report directory (one text part)."""
    parts = sorted(glob.glob(os.path.join(report_dir, "part-*")))
    if not parts or not os.path.exists(os.path.join(report_dir, "_SUCCESS")):
        raise ValueError(f"no committed report in {report_dir}")
    with open(parts[0]) as f:
        return json.loads(f.read())


def report_error(report_dir, tally):
    """None if the report's totals and cells equal the tally, else why not.

    `tally` maps event type to [success, error] counts for the minute."""
    try:
        doc = read_report(report_dir)["report"]
        want_total = sum(s + e for s, e in tally.values())
        want_errors = sum(e for _, e in tally.values())
        if doc["total_events"] != want_total:
            return f"total_events {doc['total_events']} != {want_total}"
        if doc["total_errors"] != want_errors:
            return f"total_errors {doc['total_errors']} != {want_errors}"
        got = {t: [c["SUCCESS"], c["ERROR"]] for t, c in doc["by_event_type"].items()}
        want = {t: list(c) for t, c in tally.items() if sum(c) > 0}
        if got != want:
            return f"cells {got} != {want}"
        return None
    except Exception as e:  # noqa: BLE001 - any unreadable report is a failure
        return f"{type(e).__name__}: {e}"


# A golden-pinned oracle serves a committed Spark result chosen by the
# row count of `events`; on generated tables the run's own result stands in
# for it, so the oracle still recomputes every value column it can.
_GOLDEN = re.compile(
    r"SELECT \* FROM read_parquet\('[^']*/(?P<name>[a-z0-9_]+)\.parquet'\)\s*"
    r"WHERE \(SELECT count\(\*\) FROM events\) = \d+"
    r"(\s*UNION ALL\s*SELECT \* FROM read_parquet\('[^']*\.parquet'\)\s*"
    r"WHERE \(SELECT count\(\*\) FROM events\) = \d+)*")


def oracle_sql_for_run(sql, results_dir):
    """`sql` with every golden dispatch replaced by this run's result."""
    def sub(m):
        path = os.path.join(results_dir, m.group("name"), "*.parquet")
        return (f"SELECT *, CAST(row_number() OVER () - 1 AS BIGINT) AS __row "
                f"FROM read_parquet('{path}')")
    return _GOLDEN.sub(sub, sql)


def oracle_errors(data_dir, results_dir, oracle_sql, names):
    """{query: why} for every query whose result differs from its oracle.

    A query without oracle SQL is an error: every query in the mix has one."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    errors = {}
    for name in names:
        if name not in oracle_sql:
            errors[name] = "no oracle SQL"
            continue
        try:
            want = normalize(con.execute(oracle_sql_for_run(oracle_sql[name], results_dir)).df())
            got = normalize(pd.read_parquet(os.path.join(results_dir, name)))
            if list(want.columns) != list(got.columns):
                errors[name] = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(want) != len(got):
                errors[name] = f"rows {len(got)} != {len(want)}"
            elif len(got) == 0:
                errors[name] = "empty result"
            else:
                pd.testing.assert_frame_equal(want, got, check_dtype=False,
                                              check_exact=False, rtol=0, atol=1e-9)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    return errors
