"""Self-test of tools/test_timing.py on a synthetic two-suite report dir.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import os
import tempfile
import unittest

import test_timing

REPORT = """<?xml version='1.0' encoding='UTF-8'?>
<testsuite hostname="h" name="%s" tests="%d" errors="%d" failures="%d" skipped="0" time="%s">
  <testcase classname="%s" name="a" time="1.0"/>
</testsuite>
"""


class TestTiming(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, tests, errors, failures, time):
        with open(os.path.join(self.dir, "TEST-%s.xml" % name), "w") as f:
            f.write(REPORT % (name, tests, errors, failures, time, name))

    def test_sorted_by_time_with_total_last(self):
        self.write("graft.SlowSpec", 12, 0, 0, "950.5")
        self.write("graft.FastSpec", 3, 0, 0, "4.25")
        lines, code = test_timing.summarize(self.dir)
        self.assertEqual(code, 0)
        self.assertEqual(len(lines), 3)
        self.assertTrue(lines[0].endswith("graft.FastSpec"), lines)
        self.assertTrue(lines[1].endswith("graft.SlowSpec"), lines)
        self.assertIn("950.5 s", lines[1])
        self.assertIn("12 tests", lines[1])
        self.assertEqual(lines[2], "total 954.8 s of 2670 s budget (36%): "
                                   "2 suites, 15 tests, 0 failures, 0 errors")
        self.assertLess(max(len(l) for l in lines), 120)

    def test_failures_are_named_and_set_the_exit_code(self):
        self.write("graft.OkSpec", 5, 0, 0, "10")
        self.write("graft.BrokenSpec", 4, 1, 2, "3")
        lines, code = test_timing.summarize(self.dir)
        self.assertEqual(code, 1)
        self.assertIn("2 failures    1 errors  graft.BrokenSpec", lines[0])
        self.assertEqual(lines[-2], "failing suites: graft.BrokenSpec")
        self.assertTrue(lines[-1].startswith("total 13.0 s of 2670 s budget (0%)"), lines)
        self.assertIn("2 failures, 1 errors", lines[-1])

    def test_unreadable_and_missing_reports(self):
        self.write("graft.OkSpec", 1, 0, 0, "1")
        with open(os.path.join(self.dir, "TEST-graft.Cut.xml"), "w") as f:
            f.write("<testsuite name='graft.Cut' tests='1'")
        lines, code = test_timing.summarize(self.dir)
        self.assertEqual(code, 1)
        self.assertIn("unreadable report: TEST-graft.Cut.xml", lines)
        self.assertTrue(lines[-1].endswith("1 unreadable"), lines)
        with tempfile.TemporaryDirectory() as empty:
            self.assertEqual(test_timing.summarize(empty)[1], 2)


if __name__ == "__main__":
    unittest.main()
