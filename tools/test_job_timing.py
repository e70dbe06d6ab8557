"""Self-test of tools/job_timing.py on a small synthetic event log.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import contextlib
import io
import json
import os
import tempfile
import unittest

import job_timing


def job(jid, stage, submit, end, tasks, name="collect at A.scala:1"):
    """Event lines of one job; tasks are (launch, finish, getting, deser, run, ser, bytes).
    The job's stages are a map stage `stage - 100` and its result stage `stage`."""
    evs = [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
            "Stage IDs": [stage - 100, stage],
            "Stage Infos": [{"Stage ID": stage, "Stage Name": name},
                            {"Stage ID": stage - 100, "Stage Name": "map at B.scala:2"}]}]
    for launch, finish, getting, deser, run, ser, size in tasks:
        evs.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                    "Task Info": {"Launch Time": launch, "Finish Time": finish,
                                  "Getting Result Time": getting},
                    "Task Metrics": {"Executor Deserialize Time": deser,
                                     "Executor Run Time": run,
                                     "Result Serialization Time": ser,
                                     "Result Size": size}})
    evs.append({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end})
    return [json.dumps(e) for e in evs]


LOG = (
    [json.dumps({"Event": "SparkListenerApplicationStart", "Timestamp": 0})]
    # job 0: one task with an indirect result fetched in 6 ms
    + job(0, 0, 1000, 1055, [(1011, 1050, 1044, 15, 16, 1, 2000)])
    # job 1: two tasks, direct results
    + job(1, 1, 2000, 2030, [(2003, 2020, 0, 1, 10, 0, 500), (2004, 2025, 0, 2, 12, 1, 700)])
    # job 2: one task
    + job(2, 2, 3000, 3040, [(3005, 3035, 3030, 3, 20, 0, 1000)], name="runJob at W.scala:9")
    # job 3 never ends: left out
    + [json.dumps({"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 4000,
                   "Stage IDs": [3]})]
    + ['{"Event": "SparkListenerTaskEnd", "Stage'])  # cut mid-line


class JobTiming(unittest.TestCase):
    def test_phases_per_job(self):
        jobs = job_timing.read_jobs(LOG)
        self.assertEqual(sorted(jobs), [0, 1, 2])
        self.assertEqual(jobs[0], {"submit->launch": 11, "deserialize": 15, "run": 16,
                                   "result ser": 1, "result fetch": 6, "job total": 55,
                                   "result bytes": 2000, "stage": "collect at A.scala:1"})
        self.assertEqual(jobs[2]["stage"], "runJob at W.scala:9")
        self.assertEqual(jobs[1]["submit->launch"], 3)
        self.assertEqual(jobs[1]["deserialize"], 3)
        self.assertEqual(jobs[1]["run"], 22)
        self.assertEqual(jobs[1]["result fetch"], 0)
        self.assertEqual(jobs[1]["result bytes"], 1200)
        self.assertEqual(jobs[2]["result fetch"], 5)

    def test_summary_medians_and_sums(self):
        lines = job_timing.summarize(job_timing.read_jobs(LOG))
        self.assertEqual(lines[0], "3 jobs (ids 0..2)")
        rows = {l[:15].strip(): l[15:].split() for l in lines[2:]}
        self.assertEqual(rows["submit->launch"], ["5.0", "ms", "19", "ms"])
        self.assertEqual(rows["deserialize"], ["3.0", "ms", "21", "ms"])
        self.assertEqual(rows["job total"], ["40.0", "ms", "125", "ms"])
        self.assertEqual(rows["result bytes"], ["1200.0", "B", "4200", "B"])
        last = job_timing.summarize(job_timing.read_jobs(LOG), last=2)
        self.assertEqual(last[0], "2 jobs (ids 1..2)")

    def test_by_stage_groups_jobs_by_their_last_stage_name(self):
        lines = job_timing.by_stage(job_timing.read_jobs(LOG))
        self.assertEqual(lines[0].split()[:2], ["jobs", "submit->launch"])
        self.assertEqual(lines[0].split()[-1], "stage")
        rows = [l.split(None, 8) for l in lines[1:]]
        # the larger group first; medians of jobs 0 and 1, then job 2 alone
        self.assertEqual([r[0] for r in rows], ["2", "1"])
        self.assertEqual(rows[0][1:8], ["7.0", "9.0", "19.0", "1.0", "3.0", "42.5", "1600.0"])
        self.assertEqual(rows[0][8], "collect at A.scala:1")
        self.assertEqual(rows[1][1:3], ["5.0", "3.0"])
        self.assertEqual(rows[1][8], "runJob at W.scala:9")
        last = job_timing.by_stage(job_timing.read_jobs(LOG), last=1)
        self.assertEqual(len(last), 2)
        self.assertEqual(last[1].split()[0], "1")

    def run_main(self, argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = job_timing.main(argv)
        return code, out.getvalue().splitlines()

    def test_main_reads_a_file_or_the_newest_log_of_a_directory(self):
        with tempfile.TemporaryDirectory() as d:
            plain = os.path.join(d, "local-1")
            with open(plain, "w") as f:
                f.write("\n".join(LOG) + "\n")
            code, lines = self.run_main([plain, "--last", "1"])
            self.assertEqual((code, lines[0]), (0, "1 jobs (ids 2..2)"))
            # a rolling log, split inside job 1, next to its status file
            rolling = os.path.join(d, "eventlog_v2_local-2")
            os.mkdir(rolling)
            cut = LOG.index(job(1, 1, 2000, 2030, [])[0]) + 2
            for name, part in (("events_2_local-2", LOG[cut:]), ("events_1_local-2", LOG[:cut])):
                with open(os.path.join(rolling, name), "w") as f:
                    f.write("\n".join(part) + "\n")
            open(os.path.join(rolling, "appstatus_local-2"), "w").close()
            os.utime(rolling, (1e10, 1e10))
            code, lines = self.run_main([d])
            self.assertEqual((code, lines[0]), (0, "3 jobs (ids 0..2)"))
            self.assertEqual(lines[3].split()[1:3], ["3.0", "ms"])  # deserialize median
            code, lines = self.run_main([d, "--by-stage"])
            self.assertEqual((code, len(lines)), (0, 3))
            self.assertTrue(lines[2].endswith("runJob at W.scala:9"))
            empty = os.path.join(d, "empty")
            os.mkdir(empty)
            self.assertEqual(self.run_main([empty])[0], 2)
            self.assertEqual(self.run_main([os.path.join(d, "missing")])[0], 2)


if __name__ == "__main__":
    unittest.main()
