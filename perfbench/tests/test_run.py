"""The benchmark's own tests: a tiny-size run of every workload, plain and
traced, and runs whose results are deliberately corrupted.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root; each tiny run takes well under a minute
after the first, which builds.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")

# Each workload's own named end-to-end metrics, printed as "metric" lines.
NAMED = {
    "curate_warc": ["job_s"],
    "sql_headline": ["pass_s", "query_p50_s", "query_p90_s"],
    "stream_fold": ["batch_p50_s", "ingest_docs_per_s"],
    "graph_iter": ["pagerank_s", "hits_s", "cc_s"],
}
COMMON = ["unit_s", "setup_s", "peak_rss_mb", "failed_frac"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, *extra):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--tiny", *extra], cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        causes = [l for l in p.stderr.splitlines()
                  if ("Exception" in l or "Error" in l or "FAILED" in l) and not l.startswith("\tat ")]
        raise AssertionError("run failed:\n" + "\n".join(causes[:20]) + "\n" + p.stderr[-2000:])
    lines = p.stdout.strip().splitlines()
    printed = {l.split()[1]: float(l.split()[2]) for l in lines if l.startswith("metric ")}
    return printed, json.loads(lines[-1])


class Smoke(unittest.TestCase):

    def check(self, workload):
        s = spec()
        printed, res = run(workload, "--trace", "0")
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in s["end_to_end"]})
        for name, m in res["metrics"].items():
            self.assertGreater(m["value"], 0, name)
        for name in NAMED[workload] + COMMON:
            self.assertIn(name, printed)
        self.assertEqual(printed["failed_frac"], 0.0)

        printed, res = run(workload, "--trace", "1")
        self.assertTrue(res["correct"], res)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in s["per_layer"]})
        self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)
        spans = os.path.join(ROOT, ".bench_build", "perfbench", "traces",
                             "%s-seed7.spans.jsonl" % workload)
        with open(spans) as fh:
            first = json.loads(fh.readline())
        self.assertEqual({"id", "parent", "op", "kind", "name", "layer", "start_ns", "end_ns",
                          "counters"}, set(first))

    def test_curate_warc(self):
        self.check("curate_warc")

    def test_sql_headline(self):
        self.check("sql_headline")

    def test_stream_fold(self):
        self.check("stream_fold")

    def test_graph_iter(self):
        self.check("graph_iter")


class Perturbed(unittest.TestCase):
    """A corrupted result must be caught by the workload's own check."""

    def check(self, workload):
        printed, res = run(workload, "--perturb")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertGreater(printed["failed_frac"], 0)

    def test_graph_iter_pagerank_changed(self):
        self.check("graph_iter")

    def test_sql_headline_row_dropped(self):
        self.check("sql_headline")


if __name__ == "__main__":
    unittest.main()
