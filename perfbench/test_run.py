"""Tests of the benchmark's output checks.

    python3 -m unittest perfbench/test_run.py      (from the repository root)

The unit tests drive run.main() with the JVMs replaced by canned results,
so they take well under a second. Set PERFBENCH_E2E=1 to add one real run
of catalog against a corrupted expected hash (builds on first use).
"""
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

H = {"rows": 3, "hash": "12345"}


def catalog_result(checks):
    return {"attempted": 2 * len(checks), "failed": 0, "errors": {},
            "checks": checks, "samples": 4, "warm_passes": 4,
            "metrics": {"pass_s": 1.5, "request_p50_s": 0.1,
                        "request_p90_s": 0.3, "cold_s": 4.0,
                        "heap_peak_mb": 200.0}}


def etl_result(leftovers=(), export_hash="777"):
    types = ("Patient", "ResearchStudy")
    return {"attempted": 13, "failed": 0, "errors": [],
            "resources": {t: 3 for t in types}, "input_bytes": 99,
            "leftovers": list(leftovers), "samples": 12, "cycles": 4,
            "export": {t: {"input": {"rows": 3, "hash": "777"},
                           "export": {"rows": 3, "hash": export_hash}}
                       for t in types},
            "metrics": catalog_result({})["metrics"]}


class Checks(unittest.TestCase):
    """Mismatches the run-level tests below do not exercise."""

    def test_catalog_wrong_rows(self):
        got = dict(H, rows=4)
        self.assertEqual(run.catalog_mismatches({"q": H}, {"q": got}, ["q"]), ["q"])

    def test_catalog_missing_check(self):
        self.assertEqual(run.catalog_mismatches({"q": H}, {}, ["q"]), ["q"])

    def test_etl_export_differs(self):
        self.assertEqual(run.etl_mismatches(etl_result(export_hash="778")),
                         ["export Patient", "export ResearchStudy"])


class RunFails(unittest.TestCase):
    """run.main() with canned JVM results: a mismatch fails the run."""

    def run_main(self, workload, result, expected=None):
        tmp = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, tmp)
        exp = os.path.join(tmp, "expected.json")
        with open(exp, "w") as f:
            json.dump(expected or {}, f)

        def fake_jvm(mode, args, log_name, deadline):
            if "out" in args:
                with open(args["out"], "w") as f:
                    json.dump(result, f)
            return 4.2

        spec = {"scale_factor": 0.05, "workloads": {
            "cat": {"kind": "catalog", "heavy": ["q"], "light": []},
            "etl": {"kind": "etl", "study_fraction": 0.25}}}
        out = io.StringIO()
        with mock.patch.object(run, "WORK", tmp), \
                mock.patch.object(run, "EXPECTED", exp), \
                mock.patch.object(run, "build", lambda: None), \
                mock.patch.object(run, "run_jvm", fake_jvm), \
                mock.patch.object(run, "load", lambda name: spec), \
                contextlib.redirect_stdout(out):
            rc = run.main(["--workload", workload, "--seed", "1",
                           "--seconds", "1", "--trace", "0"])
        return rc, json.loads(out.getvalue().strip().split("\n")[-1])

    def test_catalog_passes(self):
        rc, last = self.run_main("cat", catalog_result({"q": H}), {"q": H})
        self.assertEqual((rc, last["correct"], last["failed"]), (0, True, 0))
        self.assertEqual(last["metrics"]["setup_s"]["value"], 4.2)

    def test_wrong_expected_hash_fails(self):
        rc, last = self.run_main("cat", catalog_result({"q": H}),
                                 {"q": dict(H, hash="0")})
        self.assertEqual((rc, last["correct"], last["failed"]), (1, False, 1))

    def test_etl_passes(self):
        rc, last = self.run_main("etl", etl_result())
        self.assertEqual((rc, last["correct"]), (0, True))

    def test_leftover_partition_fails(self):
        rc, last = self.run_main("etl", etl_result(["store/vertices/project_id=bench-s1"]))
        self.assertEqual((rc, last["correct"], last["failed"]), (1, False, 1))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEnd(unittest.TestCase):
    def test_corrupted_expected_hash_fails_a_real_run(self):
        with open(run.EXPECTED) as f:
            expected = json.load(f)
        q = run.load("workloads.json")["workloads"]["catalog"]["heavy"][0]
        expected[q]["hash"] = str(int(expected[q]["hash"]) + 1)
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(expected, f)
        self.addCleanup(os.remove, f.name)
        out = io.StringIO()
        with mock.patch.object(run, "EXPECTED", f.name), \
                contextlib.redirect_stdout(out):
            rc = run.main(["--workload", "catalog", "--seed", "1",
                           "--seconds", "1", "--trace", "0"])
        last = json.loads(out.getvalue().strip().split("\n")[-1])
        self.assertEqual(rc, 1)
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 1)


if __name__ == "__main__":
    unittest.main()
