#!/usr/bin/env python3
"""The benchmark counts a wrong result as a failure.

Run from the repository root:  python3 perfbench/test_run.py

Perturbs the expected digest of two members (a product's hash, a
query's row count), runs a short workload against that file, and checks
that exactly the timed executions of those two members are counted as
failed.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = os.path.join(ROOT, "perfbench", "run.py")
EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")
WORKLOAD = "gm_query_publish"


class WrongResultIsAFailure(unittest.TestCase):
    def test_perturbed_expected_value_is_reported(self):
        with open(EXPECTED) as f:
            doc = json.load(f)
        res = doc["results"]
        # a product is checked against its query's expected digest
        res["eq_source_table"]["hash"] = "%016x" % (int(res["eq_source_table"]["hash"], 16) ^ 1)
        res["quality_all"]["rows"] += 1
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        perturbed = os.path.join(ROOT, ".bench_build", "expected-perturbed.json")
        with open(perturbed, "w") as f:
            json.dump(doc, f)

        out = subprocess.run(
            [sys.executable, RUN, "--workload", WORKLOAD, "--seed", "7", "--seconds", "1",
             "--trace", "0", "--expected", perturbed],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        detail_line, result_line = out.stdout.strip().splitlines()[-2:]
        result, detail = json.loads(result_line), json.loads(detail_line)

        self.assertFalse(result["correct"])
        passes = detail["timed_passes"]
        self.assertEqual(result["attempted"], passes * len(detail["members"]))
        self.assertEqual(result["failed"], 2 * passes)
        failed_members = {k.split("@")[0] for f in detail["failures"] for k in f}
        self.assertEqual(failed_members, {"eq_source_table.parquet", "quality_all"})
        self.assertTrue(all("digest mismatch" in v for f in detail["failures"] for v in f.values()))


if __name__ == "__main__":
    unittest.main()
