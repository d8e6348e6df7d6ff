"""Benchmark-side tracing: spans around calls into the program, and a
Spark event log attached to the live session only while traced work
runs.

A span records name, start, end, parent and run id. Spans stay in memory
and are written as JSON when the run ends, each with its self time (its
duration minus the part of it its child spans cover). Every span also
sets the Spark job group, so the event log's task metrics can be summed
per span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": "%s#%d" % (name, sid),
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"],
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setJobGroup("untraced", "untraced")

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def groups_under(self, sid: int) -> set:
        """Job groups of span ``sid`` and all its descendants."""
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(self.spans[cur]["group"])
            todo.extend(s["id"] for s in self.spans if s["parent"] == cur)
        return out

    def with_self_times(self) -> list:
        out = []
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == s["id"])
            covered, reach = 0.0, s["start"]
            for start, end in kids:
                start = max(start, reach)
                if end > start:
                    covered += end - start
                    reach = end
            dur = s["end"] - s["start"]
            out.append(dict(s, duration_s=dur, self_s=dur - covered))
        return out

    def dump(self, path: str, extra: dict) -> list:
        spans = self.with_self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=spans), fh, indent=1)
        return spans


class EventLog:
    """An EventLoggingListener added to (and later removed from) the live
    SparkContext, so only the traced part of a run is logged."""

    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)), conf,
            self.sc._jsc.hadoopConfiguration())
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def close(self) -> list:
        """Drain the listener bus, detach, and return the parsed events."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        events = []
        for path in sorted(glob.glob(os.path.join(self.log_dir, "*"))):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        return events


def _acc(task_end: dict) -> dict:
    out = {}
    for a in task_end["Task Info"].get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Update"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def task_stats(events: list, groups: set) -> dict:
    """Task and Python SQL metrics summed over the tasks whose stage was
    submitted under one of ``groups``."""
    stage_group = {}
    for e in events:
        if e["Event"] == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props = e.get("Properties") or {}
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = \
                props.get("spark.jobGroup.id")
    durations, failed = [], 0
    sums = {}
    per_task_shuffle_read = []
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        key = (e["Stage ID"], e["Stage Attempt ID"])
        if stage_group.get(key) not in groups:
            continue
        info = e["Task Info"]
        durations.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        if e["Task End Reason"]["Reason"] != "Success":
            failed += 1
        acc = _acc(e)
        for name, value in acc.items():
            sums[name] = sums.get(name, 0.0) + value
        read = (acc.get("internal.metrics.shuffle.read.localBytesRead", 0.0)
                + acc.get("internal.metrics.shuffle.read.remoteBytesRead",
                          0.0))
        if read:
            per_task_shuffle_read.append(read)
    return {
        "tasks": len(durations),
        "failed_tasks": failed,
        "task_s_p50": statistics.median(durations) if durations else 0.0,
        "task_s_max": max(durations) if durations else 0.0,
        "gc_s": sums.get("internal.metrics.jvmGCTime", 0.0) / 1e3,
        "spill_mb": sums.get("internal.metrics.diskBytesSpilled", 0.0) / 1e6,
        "shuffle_write_mb": sums.get(
            "internal.metrics.shuffle.write.bytesWritten", 0.0) / 1e6,
        "shuffle_read_max_over_median": (
            max(per_task_shuffle_read)
            / statistics.median(per_task_shuffle_read)
            if per_task_shuffle_read else 0.0),
        "python_sent_mb": sums.get("data sent to Python workers", 0.0) / 1e6,
        "python_returned_mb": sums.get(
            "data returned from Python workers", 0.0) / 1e6,
        "python_boot_s": sums.get("time to start Python workers", 0.0) / 1e3,
        "python_init_s": sums.get(
            "time to initialize Python workers", 0.0) / 1e3,
        "python_run_s": sums.get("time to run Python workers", 0.0) / 1e3,
    }
