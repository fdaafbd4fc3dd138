#!/usr/bin/env python3
"""Self-tests of the benchmark's inputs and outputs.

    python3 perfbench/test_seed_invariance.py

- curation_service and corpus_batch give the golden output under two
  different seeds (different batch boundaries, row orders and file splits),
  with identical round digests.
- The runner's end-to-end and per-layer metrics are those of BENCHMARK.json,
  in order and with their units, and an untraced run reports exactly the
  end-to-end ones.
"""
import json
import os
import unittest

import build
import run

SPEC = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))


def runner(*args):
    return [json.loads(l) for l in run.jvm(list(args), "selftest.log", timeout=600)]


def one_round(workload, seed):
    report, result = runner("--mode", "run", "--workload", workload, "--seed", str(seed),
                            "--seconds", "0.001", "--trace", "0")
    return report, result


class SeedInvariance(unittest.TestCase):

    def check_invariant(self, workload):
        (r1, res1), (r2, res2) = one_round(workload, 1), one_round(workload, 2)
        for r, res in ((r1, res1), (r2, res2)):
            self.assertTrue(r["round_ok"], r)
            self.assertTrue(res["correct"], res)
            self.assertEqual(res["failed"], 0)
        self.assertEqual(r1["round_digest"], r2["round_digest"])
        return res1

    def test_curation_service_output_is_seed_invariant(self):
        self.check_invariant("curation_service")

    def test_corpus_batch_output_is_seed_invariant(self):
        res = self.check_invariant("corpus_batch")
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in SPEC["end_to_end"]})

    def test_metrics_match_benchmark_json(self):
        m = runner("--mode", "metrics")[0]
        for kind in ("end_to_end", "per_layer"):
            self.assertEqual([tuple(x) for x in m[kind]],
                             [(x["name"], x["unit"]) for x in SPEC[kind]])


if __name__ == "__main__":
    unittest.main()
