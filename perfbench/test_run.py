"""Tests of the benchmark's result line.

    python3 -m unittest perfbench/test_run.py

A reader of the benchmark's output keeps only the tail of stdout and takes
the last whole JSON line from it; these tests hold run.py to that.
"""
import io
import json
import sys
import unittest
from contextlib import redirect_stdout
from pathlib import Path
from unittest import mock

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

RESULT = {"correct": True, "attempted": 1234, "failed": 0, "metrics": {
    "setup_s": {"value": 4.81234567, "unit": "s"},
    "op_p50_ms": {"value": 1201.5, "unit": "ms"},
    "records_s": {"value": 81.9666440153969, "unit": "1/s"},
    "retained_heap_mb": {"value": 89.286224, "unit": "MB"}}}


def noisy_log(n_lines: int) -> str:
    """Lines as a build tool's logger prints them: prefixed, and some with
    JSON-looking fragments that are not whole objects."""
    lines = []
    for i in range(n_lines):
        lines.append(f"[info] 26/10/17 05:53:47 INFO BlockManager: step {i}")
        if i % 7 == 0:
            lines.append('[info] {"metric":"total","value":')
    return "\n".join(lines) + "\n"


class ResultLineTest(unittest.TestCase):
    def test_last_whole_json_line_from_a_2000_char_tail(self):
        text = noisy_log(300) + run.result_line(RESULT) + "\n"
        self.assertEqual(run.last_json_line(text[-2000:]), RESULT)

    def test_prefixed_line_is_not_taken_for_the_result(self):
        text = noisy_log(50) + "[info] " + run.result_line(RESULT) + "\n[success] done\n"
        self.assertIsNone(run.last_json_line(text[-2000:]))

    def test_tail_cut_inside_an_earlier_object(self):
        earlier = run.result_line(RESULT)
        text = earlier + "\n" + noisy_log(3) + run.result_line(RESULT) + "\n"
        tail = text[len(earlier) // 2:]
        self.assertEqual(run.last_json_line(tail), RESULT)

    def test_end_to_end_result_fits_a_2000_char_tail(self):
        line = run.result_line(RESULT)
        self.assertNotIn("\n", line)
        self.assertLess(len(line), 2000)
        self.assertEqual(json.loads(line), RESULT)

    def test_main_prints_the_result_last_and_nothing_else(self):
        out = io.StringIO()
        with mock.patch.object(run.build, "build", side_effect=run.build.BuildError("x")), \
                redirect_stdout(out), mock.patch("sys.stderr", io.StringIO()):
            code = run.main(["--workload", "lake", "--seed", "1", "--seconds", "1"])
        self.assertNotEqual(code, 0)
        self.assertEqual(out.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
