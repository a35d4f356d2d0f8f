import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_tables  # noqa: E402


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class TableGeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in [("a", 5), ("b", 5), ("c", 6)]:
                gen_tables.write(os.path.join(t, name), seed)
            a, b, c = (digests(os.path.join(t, n)) for n in "abc")
            self.assertEqual(a, b)
            self.assertEqual(sorted(a), [f"{x}.parquet" for x in sorted(checks.TABLES)])
            # the fixed dimension tables agree; every seeded table differs
            self.assertEqual(a["region.parquet"], c["region.parquet"])
            for t_ in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
                self.assertNotEqual(a[f"{t_}.parquet"], c[f"{t_}.parquet"], t_)


class WireGeneratorTest(unittest.TestCase):
    """Runs the harness's wire self-test in a JVM (builds the program first)."""

    def test_same_seed_same_wire_bytes_and_tallies(self):
        build_dir = os.path.abspath(os.path.join(
            os.path.dirname(HERE), os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
        os.makedirs(build_dir, exist_ok=True)
        classes = build.build(build_dir)
        with tempfile.TemporaryDirectory() as t:
            out = os.path.join(t, "wire.json")
            cp = f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}"
            subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Harness",
                            "--selftest-wire", "--out", out], check=True, cwd=t)
            with open(out) as f:
                r = json.load(f)
        a, b = r["same_seed"]
        self.assertEqual(a, b)  # also across two chunkings of the stream
        ta, tb = r["same_seed_tally"]
        self.assertEqual(ta, tb)
        self.assertNotEqual(a, r["other_seed"])
        self.assertNotEqual(ta, r["other_seed_tally"])
        # 13,000 events at 10 ms: two full minutes of 6,000 and 1,000 more
        self.assertEqual([sum(sum(c) for c in m.values()) for m in ta], [6000, 6000, 1000])


if __name__ == "__main__":
    unittest.main()
