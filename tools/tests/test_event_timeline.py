"""Unit tests of tools/event_timeline.py.

    python3 -m unittest discover -s tools/tests
"""

import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

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


class EventTimelineTest(unittest.TestCase):
    def lines(self, events):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "app-1")
            with open(path, "w") as f:
                for ev in events:
                    f.write(json.dumps(ev) + "\n")
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                event_timeline.main([path])
        return out.getvalue().splitlines()

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
