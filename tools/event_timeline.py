"""Per-job timeline of a Spark event log.

    python3 tools/event_timeline.py <event log file or directory> [--jobs A-B ...]

Reads a Spark event log (``spark.eventLog.enabled=true``; given a
directory, the newest log in it). Spark 4 compresses event logs with zstd
by default: a ``.zstd`` log is streamed through the ``zstd -dc``
command-line tool, so it must be on ``PATH``; for a log in any other codec,
rerun the application with ``spark.eventLog.compress=false``.

The tool prints one line per job: its start offset from the application
start, its duration, the gap since the previous job ended (negative when
the two overlap), the task count of every stage it ran (skipped stages are
left out) and its call site (for a job AQE submits for one query stage, the
call site of the query's action). A job whose result is not
``JobSucceeded`` is marked ``FAILED:`` with the first 120 characters of its
message, and every stage that reports a failure reason is listed under its
job. Each ``--jobs A-B`` range (inclusive job ids) adds a summary line:
span (first start to last end), busy (time with at least one of those jobs
running), idle (span minus busy), and the summed executor run time and CPU
time of their tasks. Standard library only.
"""

import argparse
import json
import pathlib
import shutil
import subprocess
import sys

CODECS = (".lz4", ".lzf", ".snappy", ".zstd")


def log_files(path):
    """The event files of one application: `path` itself, or the newest log
    under the directory `path` (a rolling ``eventlog_v2_*`` directory is read
    as its ``events_<n>_*`` files in order)."""
    p = pathlib.Path(path)
    if p.is_file():
        return [p]
    newest = sorted((f for f in p.iterdir() if not f.name.startswith((".", "appstatus"))),
                    key=lambda f: f.stat().st_mtime)
    if not newest:
        sys.exit(f"no event log in {p}")
    p = newest[-1]
    if p.is_dir():
        return sorted(p.glob("events_*"), key=lambda f: int(f.name.split("_")[1]))
    return [p]


def lines_of(p):
    """The text lines of one event file; a ``.zstd`` file is decompressed by
    the ``zstd`` CLI, and any other compressed file stops the tool."""
    codec = next((c for c in CODECS if p.name.removesuffix(".inprogress").endswith(c)), None)
    if codec is None:
        with open(p, encoding="utf-8") as f:
            yield from f
        return
    zstd = shutil.which("zstd") if codec == ".zstd" else None
    if zstd is None:
        need = "no zstd CLI on PATH" if codec == ".zstd" else "codec not supported"
        sys.exit(f"{p}: {codec[1:]}-compressed event log ({need}); rerun with "
                 "spark.eventLog.compress=false")
    with subprocess.Popen([zstd, "-dcq", str(p)], stdout=subprocess.PIPE,
                          encoding="utf-8") as proc:
        yield from proc.stdout
    if proc.returncode:
        sys.exit(f"{p}: zstd -dc exited with {proc.returncode}")


def read_events(path):
    for p in log_files(path):
        for line in lines_of(p):
            if line.strip():
                yield json.loads(line)


class Job:
    def __init__(self, jid, start, stage_ids, props, names):
        self.id, self.start, self.end = jid, start, None
        self.stage_ids, self.props, self.names = stage_ids, props, names
        self.stages = []  # (stage id, tasks) of the stages this job ran
        self.failure = None  # the job's failure message, if it did not succeed
        self.failed_stages = []  # (stage id, failure reason)

    def call_site(self, sql):
        """The job's own call site; a job that AQE submits for one query stage
        of a SQL execution is named after that execution's action instead."""
        site = self.props.get("callSite.short") or (
            self.names.get(max(self.stage_ids), "?") if self.stage_ids else "?")
        action = sql.get(self.props.get("spark.sql.execution.id"))
        return site if action is None or action == site else f"{action} (query stage)"


def timeline(events):
    """(application start ms, jobs by id, {stage id: [run ms, cpu ns]},
    {SQL execution id: its action's call site})."""
    app_start, jobs, running, owner, work, sql = None, {}, [], {}, {}, {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[str(ev["executionId"])] = ev.get("description", "?")
        elif kind == "SparkListenerJobStart":
            names = {s["Stage ID"]: s.get("Stage Name", "?") for s in ev.get("Stage Infos", [])}
            job = Job(ev["Job ID"], ev["Submission Time"], ev.get("Stage IDs", []),
                      ev.get("Properties") or {}, names)
            jobs[job.id] = job
            running.append(job)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job:
                job.end = ev["Completion Time"]
                running = [j for j in running if j is not job]
                result = ev.get("Job Result") or {}
                if result.get("Result") != "JobSucceeded":
                    job.failure = (result.get("Exception") or {}).get(
                        "Message", result.get("Result", "?"))
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            holders = [j for j in running if sid in j.stage_ids]
            if holders:
                owner[sid] = holders[-1]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = owner.get(info["Stage ID"])
            if job:
                job.stages.append((info["Stage ID"], info.get("Number of Tasks", 0)))
                if info.get("Failure Reason"):
                    job.failed_stages.append((info["Stage ID"], info["Failure Reason"]))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            w = work.setdefault(ev["Stage ID"], [0, 0])
            w[0] += m.get("Executor Run Time", 0)
            w[1] += m.get("Executor CPU Time", 0)
    if app_start is None and jobs:
        app_start = min(j.start for j in jobs.values())
    return app_start, jobs, work, sql


def brief(message):
    """The first 120 characters of `message`, whitespace collapsed."""
    return " ".join(message.split())[:120]


def parse_range(text):
    a, _, b = text.partition("-")
    return int(a), int(b or a)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", help="event log file, or a directory holding it")
    ap.add_argument("--jobs", action="append", default=[], type=parse_range,
                    help="inclusive job-id range A-B to summarize (repeatable)")
    args = ap.parse_args(argv)

    t0, jobs, work, sql = timeline(read_events(args.log))
    print(f"{'job':>4} {'start_s':>8} {'dur_s':>7} {'gap_s':>6}  tasks  call site")
    prev_end = None
    for job in sorted(jobs.values(), key=lambda j: j.start):
        end = job.end if job.end is not None else job.start
        gap = (job.start - prev_end) / 1e3 if prev_end is not None else 0.0
        tasks = "+".join(str(n) for _, n in sorted(job.stages)) or "-"
        failed = f"  FAILED: {brief(job.failure)}" if job.failure is not None else ""
        print(f"{job.id:>4} {(job.start - t0) / 1e3:>8.3f} {(end - job.start) / 1e3:>7.3f} "
              f"{gap:>6.3f}  {tasks}  {job.call_site(sql)}{failed}")
        for sid, reason in job.failed_stages:
            print(f"{'':>4}   stage {sid} failed: {brief(reason)}")
        prev_end = end if prev_end is None else max(prev_end, end)

    for a, b in args.jobs:
        sel = [j for j in jobs.values() if a <= j.id <= b and j.end is not None]
        if not sel:
            print(f"jobs {a}-{b}: none finished")
            continue
        spans = sorted((j.start, j.end) for j in sel)
        busy, cur_s, cur_e = 0, spans[0][0], spans[0][1]
        for s, e in spans[1:]:
            if s > cur_e:
                busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        busy += cur_e - cur_s
        span = max(e for _, e in spans) - spans[0][0]
        stage_ids = {sid for j in sel for sid, _ in j.stages}
        run_ms = sum(work.get(s, [0, 0])[0] for s in stage_ids)
        cpu_ns = sum(work.get(s, [0, 0])[1] for s in stage_ids)
        print(f"jobs {a}-{b}: {len(sel)} jobs, span {span / 1e3:.3f} s, busy {busy / 1e3:.3f} s, "
              f"idle {(span - busy) / 1e3:.3f} s, task-run {run_ms / 1e3:.3f} s, "
              f"CPU {cpu_ns / 1e9:.3f} s")


if __name__ == "__main__":
    main()
