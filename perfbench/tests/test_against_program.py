"""The benchmark against the real program: the generator's expected answers
agree with `Pipeline.run` for every timestamp encoding and gate outcome, a
corrupted expected answer is counted as a failed op, and the command prints
exactly the metrics BENCHMARK.json names. Builds the program on first use
(sbt) and starts Spark JVMs, so it takes a few minutes.

    python3 -m unittest discover -s perfbench/tests
"""
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout
from unittest import mock

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import fraudgen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def small(fn):
    """Run `fn` with the workloads shrunk to test size."""
    with mock.patch.object(run, "BATCH_ROWS", 2000), \
            mock.patch.object(run, "QUERY_SAMPLE", ("r4_group_avg", "r6_topk")), \
            mock.patch.object(run, "MIN_PASSES", dict.fromkeys(run.WORKLOADS, 2)), \
            mock.patch.object(run, "TRACE_PASSES", 3), \
            redirect_stdout(io.StringIO()):
        return fn()


class PipelineAgreementTest(unittest.TestCase):
    def test_expected_answers_match_pipeline_run(self):
        cases = [(enc, "pass") for enc in fraudgen.ENCODINGS] + \
                [("datetime", "pre_fail"), ("ns", "post_fail"), ("s", "pre_fail")]

        def one_run():
            def inputs(workload, seed, work):
                warm, _, extra = real_inputs(workload, seed, work)
                ops = []
                for i, (enc, gate) in enumerate(cases):
                    csv_path, exp_path = fraudgen.write(
                        os.path.join(work, "inputs", f"c{i}"), 400, 70 + i,
                        encoding=enc, gate=gate)
                    with open(exp_path) as f:
                        exp = json.load(f)
                    ops.append({"key": f"{enc}-{gate}", "csv": csv_path, "expected": exp_path,
                                "pre": exp["pre_threshold"], "post": exp["post_threshold"]})
                return warm, ops, extra
            real_inputs = run.make_inputs
            with mock.patch.object(run, "make_inputs", inputs), \
                    mock.patch.object(run, "MIN_PASSES", dict.fromkeys(run.WORKLOADS, 1)), \
                    redirect_stdout(io.StringIO()) as out:
                return run.run("pipeline_batch", 1, 0, 0), out.getvalue()

        result, out = one_run()
        self.assertEqual(result["failed"], 0, out)
        self.assertEqual(result["attempted"], len(cases) + 1)


class CorruptedAnswerTest(unittest.TestCase):
    def test_wrong_expected_answer_fails_the_op(self):
        real_write = fraudgen.write

        def corrupt_write(out_dir, rows, seed, **kw):
            csv_path, exp_path = real_write(out_dir, rows, seed, **kw)
            if not out_dir.endswith("warmup"):
                with open(exp_path) as f:
                    exp = json.load(f)
                exp["top3"][0][1] += 0.01
                with open(exp_path, "w") as f:
                    json.dump(exp, f)
            return csv_path, exp_path

        with mock.patch.object(fraudgen, "write", corrupt_write):
            result = small(lambda: run.run("pipeline_batch", 3, 0, 0))
        self.assertGreater(result["failed"], 0)
        self.assertFalse(result["correct"])

    def test_missing_output_fails_the_op(self):
        real_check = checks.check_pipeline_op

        def check_without_csv(rec, expected_path):
            if rec["key"] != "warmup":
                os.remove(os.path.join(rec["curated"], "region_risk_avg.csv"))
            return real_check(rec, expected_path)

        with mock.patch.object(checks, "check_pipeline_op", check_without_csv):
            result = small(lambda: run.run("pipeline_batch", 3, 0, 0))
        self.assertEqual(result["failed"], result["attempted"] - 1)
        self.assertFalse(result["correct"])

    def test_malformed_output_is_a_reason_not_an_exception(self):
        _, exp = fraudgen.generate(500, 4)
        with tempfile.TemporaryDirectory() as d:
            exp_path = os.path.join(d, "expected.json")
            with open(exp_path, "w") as f:
                json.dump(exp, f)
            data, cur = os.path.join(d, "data"), os.path.join(d, "curated")
            os.makedirs(data)
            os.makedirs(cur)
            rec = {"key": "op", "rc": exp["exit_code"], "data": data, "curated": cur}
            for body in ("{not json", "[]", '{"phase": "pre"}'):
                with open(os.path.join(data, "dq_metrics_pre.json"), "w") as f:
                    f.write(body)
                self.assertIsNotNone(checks.check_pipeline_op(rec, exp_path), body)

    def test_check_reports_each_corruption(self):
        _, exp = fraudgen.generate(500, 4)
        bad = json.loads(json.dumps(exp["dq_pre"]))
        bad["nulls"]["amount"] += 1
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "dq.json")
            with open(p, "w") as f:
                json.dump(exp["dq_pre"], f)
            self.assertIsNone(checks._dq_diff(p, exp["dq_pre"]))
            self.assertIsNotNone(checks._dq_diff(p, bad))


class MetricsPrintedTest(unittest.TestCase):
    def test_every_declared_metric_is_printed(self):
        want = {0: {m["name"]: m["unit"] for m in SPEC["end_to_end"]},
                1: {m["name"]: m["unit"] for m in SPEC["per_layer"]}}
        for w in (w["name"] for w in SPEC["workloads"]):
            for trace in (0, 1):
                result = small(lambda: run.run(w, 5, 0, trace))
                self.assertTrue(result["correct"], (w, trace))
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, want[trace], (w, trace))


if __name__ == "__main__":
    unittest.main()
