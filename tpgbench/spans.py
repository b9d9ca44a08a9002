"""Spans recorded around calls into the program, plus a summary of the
Spark event log attributed to those spans.

A span is (name, parent, start, end). Spark jobs are attributed to the
innermost span whose wall-clock interval holds the job's submission
time; streaming micro-batches run on their own thread under their own
job group, so the time window, not the job group, is the attribution
key. Each span's name is also set as the job group of the jobs it
submits from the calling thread, so the event log is readable alone.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]["name"]
                    sc.setJobGroup(outer, outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def walls(self, name: str) -> list[float]:
        return [s["wall_s"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _stage_tasks(events: list[dict]):
    """(jobs, tasks): jobs as (submission_s, stage ids); tasks as dicts."""
    jobs, tasks = [], []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append((ev["Submission Time"] / 1000.0, set(ev["Stage IDs"])))
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "input_records": (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    ),
                }
            )
    return jobs, tasks


def read_event_logs(log_dir: str) -> list[list[dict]]:
    """Events of every finished application log in `log_dir`."""
    apps = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        if path.endswith(".inprogress"):
            continue
        with open(path) as f:
            apps.append([json.loads(line) for line in f if line.strip()])
    return apps


def attribute(spans: list[dict], apps: list[list[dict]], skip_records: int = -1) -> dict:
    """Per span name: summed Spark task metrics of the jobs submitted
    inside it (innermost span wins). Tasks that read exactly
    `skip_records` input records (the entity table) are left out of
    `input_records`, which then counts transcript rows only."""
    out: dict[str, dict] = {}
    ordered = sorted(
        (s for s in spans if "end" in s), key=lambda s: s["end"] - s["start"]
    )
    for events in apps:
        jobs, tasks = _stage_tasks(events)
        stage_span: dict[int, str] = {}
        for sub_s, stages in jobs:
            owner = next(
                (s["name"] for s in ordered if s["start"] <= sub_s <= s["end"]), None
            )
            if owner is None:
                continue
            agg = out.setdefault(owner, _empty())
            agg["jobs"] += 1
            for st in stages:
                stage_span.setdefault(st, owner)
        for t in tasks:
            owner = stage_span.get(t["stage"])
            if owner is None:
                continue
            agg = out[owner]
            agg["task_s"] += t["run_s"]
            agg["shuffle_write_bytes"] += t["shuffle_write_bytes"]
            agg["spill_bytes"] += t["spill_bytes"]
            agg["input_bytes"] += t["input_bytes"]
            if t["input_records"] != skip_records:
                agg["input_records"] += t["input_records"]
            agg["_durs"].append(t["dur_s"])
    for agg in out.values():
        durs = agg.pop("_durs")
        med = statistics.median(durs) if durs else 0.0
        agg["task_skew"] = max(durs) / med if med > 0 else 1.0
        agg["tasks"] = len(durs)
    return out


def _empty() -> dict:
    return {
        "jobs": 0,
        "task_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "input_records": 0,
        "_durs": [],
    }


def merge(aggs: list[dict]) -> dict:
    """Sum several span summaries (task_skew: the largest)."""
    out = {k: 0 for k in ("jobs", "task_s", "shuffle_write_bytes", "spill_bytes",
                          "input_bytes", "input_records", "tasks")}
    out["task_skew"] = 1.0
    for a in aggs:
        for k in out:
            if k == "task_skew":
                out[k] = max(out[k], a.get(k, 1.0))
            else:
                out[k] += a.get(k, 0)
    return out
