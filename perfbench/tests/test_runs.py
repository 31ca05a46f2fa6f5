"""Whole benchmark runs on a small board: failure accounting and the
traced layer split. Each test starts JVMs (about a minute each).

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", "operator_board", "--seed", "1",
                        "--seconds", "1"] + list(args),
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def measured():
    with open(os.path.join(run.BUILD, "run", "operator_board",
                           "measured.result.json")) as fh:
        return json.load(fh)


class FailureAccountingTest(unittest.TestCase):
    def test_medians_skip_failed_operations(self):
        op = lambda i, name, wall, ok=True: {
            "index": i, "name": name, "wall_s": wall, "ok": ok,
            "traced": False, "layers": {}}
        res = {"peak_rss_mb": 1.0, "live_heap_peak_mb": 1.0, "ops": [
            op(0, "a", 5.0), op(0, "b", 5.0),
            op(1, "a", 1.0), op(1, "b", 0.001, ok=False),
            op(2, "a", 3.0), op(2, "b", 2.0)]}
        m, detail, n = run.end_to_end("operator_board", res, [1.0], "", "")
        self.assertEqual(m["warm_op_s"], 2.0 + 2.0)  # a: [1, 3]; b: [2]
        self.assertAlmostEqual(detail["failed_frac"], 1 / 6)
        self.assertEqual(n, 3)

    def test_throwing_query_fails_the_run(self):
        code, out = bench("--queries", "q175_fleiss_kappa,no_such_query")
        self.assertNotEqual(code, 0)
        self.assertFalse(out["correct"])
        ops = measured()["ops"]
        bad = [o for o in ops if o["name"] == "no_such_query"]
        self.assertTrue(bad and not any(o["ok"] for o in bad))
        self.assertEqual(out["failed"], len(bad))
        good = [o["wall_s"] for o in ops if o["name"] == "q175_fleiss_kappa"
                and o["index"] > 0]
        self.assertEqual(out["metrics"]["warm_op_s"]["value"],
                         run.median(good))


class LayerSplitTest(unittest.TestCase):
    def test_construct_plan_exec_add_up_to_wall(self):
        queries = ["q175_fleiss_kappa", "q149_quantile_norm", "q122_pagerank"]
        code, out = bench("--trace", "1", "--queries", ",".join(queries))
        self.assertEqual(code, 0, out)
        traced = [o for o in measured()["ops"] if o["traced"]]
        self.assertTrue(traced)
        for o in traced:
            q, layers = o["name"], o["layers"]
            parts = sum(layers["%s.%s" % (q, k)]
                        for k in ("construct_s", "plan_s", "exec_s"))
            self.assertLess(abs(parts - o["wall_s"]), 0.05 * o["wall_s"],
                            (q, o["index"], parts, o["wall_s"]))


if __name__ == "__main__":
    unittest.main()
