"""The benchmark's own tests.

    python3 -m unittest discover -s graftbench/tests -v

The input and smoke tests build the engine first (as run.py does) and
start JVMs; the smoke test runs every workload, untraced and traced, at
the tiny `--smoke` size.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class ParserTest(unittest.TestCase):
    def test_parser_skips_model_dag_println_lines(self):
        result = {"correct": True, "attempted": 3, "failed": 0,
                  "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}
        stdout = "\n".join([
            "Lead activities input count: 55",
            "Unique domain_userid in events: 1979",
            '{"settings": {"workload": "warehouse_refresh"}}',
            json.dumps(result),
            "Lead activities input count: 12",
        ])
        self.assertEqual(run.parse_result(stdout), result)

    def test_parser_rejects_output_without_result(self):
        self.assertIsNone(run.parse_result("Lead activities input count: 1\n{not json\n"))
        self.assertIsNone(run.parse_result('{"correct": true}\n'))


class CdsTest(unittest.TestCase):
    """The first full-size run of a workload writes its class-data-sharing
    archive, later ones map it; smoke runs do neither."""

    def flags(self, out, workload, smoke):
        args = run.argparse.Namespace(workload=workload, smoke=smoke)
        saved, run.OUT = run.OUT, out
        try:
            return run.cds_flags(args)
        finally:
            run.OUT = saved

    def test_write_then_map(self):
        with tempfile.TemporaryDirectory() as out:
            self.assertEqual(self.flags(out, "corpus", True), ([], None))
            flags, dump = self.flags(out, "corpus", False)
            tmp, archive = dump
            self.assertEqual(flags, ["-XX:ArchiveClassesAtExit=" + tmp])
            self.assertEqual(archive, os.path.join(build.cds_dir(out), "corpus.jsa"))
            open(archive, "w").close()
            self.assertEqual(self.flags(out, "corpus", False),
                             (["-XX:SharedArchiveFile=" + archive], None))
            _, other = self.flags(out, "warehouse_refresh", False)
            self.assertEqual(other[1], os.path.join(build.cds_dir(out), "warehouse_refresh.jsa"))


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build(ROOT, run.OUT)

    def dump(self, seed, out):
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(run.OUT), "graftbench.Main",
                        "--dump-inputs", out, "--seed", str(seed)], check=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(run.OUT)) as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            self.dump(7, a)
            self.dump(7, b)
            self.dump(8, c)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 6)
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            match, mismatch, errors = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertEqual(sorted(mismatch), names)


class SmokeTest(unittest.TestCase):
    """Every workload at the tiny size: untraced reports every end-to-end
    metric with quality = ok_ratio = 1; traced reports every per-layer
    metric."""

    def run_bench(self, workload, trace):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
                           stdout=subprocess.PIPE, text=True, cwd=ROOT)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:])
        return run.parse_result(r.stdout)

    def test_all_workloads(self):
        spec = bench_json()
        for w in [x["name"] for x in spec["workloads"]]:
            with self.subTest(workload=w):
                res = self.run_bench(w, 0)
                self.assertTrue(res["correct"], res)
                m = res["metrics"]
                self.assertEqual(set(m), {x["name"] for x in spec["end_to_end"]})
                self.assertEqual(m["quality"]["value"], 1.0)
                self.assertEqual(m["ok_ratio"]["value"], 1.0)
                traced = self.run_bench(w, 1)
                self.assertTrue(traced["correct"], traced)
                self.assertEqual(set(traced["metrics"]), {x["name"] for x in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
