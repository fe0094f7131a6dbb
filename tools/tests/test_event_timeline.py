"""Unit tests of tools/event_timeline.py.

    python3 -m unittest discover -s tools/tests
"""

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import event_timeline  # noqa: E402

REASON = ("Job aborted due to stage failure: exceptions encountered while invoking "
          "MapOutputTracker.registerMapOutput with shuffleId=22. It is possible that "
          "the stage is being cancelled.")


def job(jid, start, end, stage, tasks, result, reason=None):
    """The events of one job that ran one stage."""
    info = {"Stage ID": stage, "Stage Name": f"count at X.scala:{stage}",
            "Number of Tasks": tasks}
    done = dict(info, **({"Failure Reason": reason} if reason else {}))
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage Infos": [info], "Stage IDs": [stage],
         "Properties": {"callSite.short": f"count at X.scala:{stage}"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info},
        {"Event": "SparkListenerStageCompleted", "Stage Info": done},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end,
         "Job Result": result},
    ]


def two_jobs():
    events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 1000}]
    events += job(0, 1000, 1500, 0, 4, {"Result": "JobSucceeded"})
    events += job(1, 2000, 2100, 1, 8, {"Result": "JobSucceeded"})
    return events


class EventTimelineTest(unittest.TestCase):
    def lines(self, events, name="app-1", compress=None):
        """The tool's output on `events` written as the file `name` (a
        rolling-log directory when `name` has a slash), after `compress`
        (path -> compressed path) when given."""
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                for ev in events:
                    f.write(json.dumps(ev) + "\n")
            if compress:
                path = compress(path)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                event_timeline.main([d if "/" in name else path])
        return out.getvalue().splitlines()

    @unittest.skipIf(shutil.which("zstd") is None, "no zstd CLI on PATH")
    def test_zstd_rolling_log_is_read_through_the_cli(self):
        def zstd(path):
            subprocess.run(["zstd", "-q", "--rm", path, "-o", path + ".zstd"], check=True)
            return path + ".zstd"
        plain = self.lines(two_jobs())
        rolled = self.lines(two_jobs(), name="eventlog_v2_app-1/events_1_app-1", compress=zstd)
        self.assertEqual(len(plain), 3)
        self.assertEqual(rolled, plain)

    def test_unreadable_codec_names_the_flag(self):
        def rename(suffix):
            def go(path):
                os.rename(path, path + suffix)
                return path + suffix
            return go
        cases = [(".lz4", None), (".zstd", mock.patch.object(shutil, "which", return_value=None))]
        for suffix, patch in cases:
            with self.subTest(suffix=suffix), patch or contextlib.nullcontext():
                with self.assertRaises(SystemExit) as e:
                    self.lines(two_jobs(), compress=rename(suffix))
                self.assertIn("spark.eventLog.compress=false", str(e.exception.code))

    def test_failed_job_and_stage_are_marked(self):
        events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 1000}]
        events += job(0, 1000, 1500, 0, 4, {"Result": "JobSucceeded"})
        events += job(1, 2000, 2100, 1, 8,
                      {"Result": "JobFailed", "Exception": {"Message": REASON,
                                                            "Stack Trace": []}},
                      reason=REASON)
        header, ok, bad, stage = self.lines(events)
        self.assertIn("call site", header)
        self.assertTrue(ok.split()[0] == "0" and "FAILED" not in ok, ok)
        self.assertTrue(bad.split()[0] == "1", bad)
        self.assertTrue(bad.endswith("count at X.scala:1  FAILED: " + REASON[:120]), bad)
        self.assertEqual(stage.split(), ["stage", "1", "failed:"] + REASON[:120].split())

    def test_message_whitespace_collapses(self):
        self.assertEqual(event_timeline.brief("a\n  b\tc" + "x" * 200), ("a b c" + "x" * 200)[:120])


if __name__ == "__main__":
    unittest.main()
