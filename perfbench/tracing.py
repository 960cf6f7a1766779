"""Spans and Spark event-log counters for the traced run.

Spans are recorded by the benchmark around its own calls into the engine
(session start, opening inputs, and each op's build, plan and exec phases),
kept in memory and written to JSON when the run ends. Counters come from
the Spark event log, which the traced session writes uncompressed; each
job carries the job group ``<workload>:<op>:<phase>`` the benchmark set
before the phase ran.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections.abc import Iterator


class Tracer:
    """In-memory span recorder. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def _num(v) -> float:
    return float(v or 0)


class EventLog:
    """Jobs, stages and task metrics parsed from one uncompressed event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info["Stage ID"])
                    st["completed"] = True
                    st["tasks"] = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name") or ""
                        if "python" in name.lower():
                            st["python"][name] = st["python"].get(name, 0.0) + float(acc.get("Value") or 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = self._stage(ev["Stage ID"])
                    st["run_ms"] += _num(m.get("Executor Run Time"))
                    st["cpu_ns"] += _num(m.get("Executor CPU Time"))
                    st["gc_ms"] += _num(m.get("JVM GC Time"))
                    st["spill_b"] += _num(m.get("Disk Bytes Spilled"))
                    rd = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_b"] += _num(rd.get("Remote Bytes Read")) + _num(rd.get("Local Bytes Read"))
                    st["shuffle_write_b"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))

    def _stage(self, sid: int) -> dict:
        if sid not in self.stages:
            self.stages[sid] = {
                "completed": False, "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
                "spill_b": 0.0, "shuffle_read_b": 0.0, "shuffle_write_b": 0.0, "python": {},
            }
        return self.stages[sid]

    def window(self, t0: float, t1: float) -> list[int]:
        """Ids of the jobs submitted inside [t0, t1] (epoch seconds)."""
        return [j for j, job in self.jobs.items() if t0 <= job["submit"] <= t1]

    def counters(self, job_ids: list[int]) -> dict[str, float]:
        """Structural counts and summed task metrics over a set of jobs."""
        stage_ids = sorted({s for j in job_ids for s in self.jobs[j]["stages"]})
        ran = [self.stages[s] for s in stage_ids if s in self.stages and self.stages[s]["completed"]]
        python: dict[str, float] = {}
        for st in ran:
            for k, v in st["python"].items():
                python[k] = python.get(k, 0.0) + v
        return {
            "jobs": len(job_ids),
            "build_jobs": sum(1 for j in job_ids if (self.jobs[j]["group"] or "").endswith(":build")),
            "stages": len(ran),
            "stages_skipped": len(stage_ids) - len(ran),
            "tasks": sum(st["tasks"] for st in ran),
            "run_s": sum(st["run_ms"] for st in ran) / 1000.0,
            "cpu_s": sum(st["cpu_ns"] for st in ran) / 1e9,
            "task_gc_s": sum(st["gc_ms"] for st in ran) / 1000.0,
            "spill_mb": sum(st["spill_b"] for st in ran) / 1e6,
            "shuffle_read_mb": sum(st["shuffle_read_b"] for st in ran) / 1e6,
            "shuffle_write_mb": sum(st["shuffle_write_b"] for st in ran) / 1e6,
            "python": python,
        }

    def uncovered_s(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which none of the jobs submitted in
        that interval was running: driver-side work between jobs."""
        ivs = sorted(
            (max(t0, job["submit"]), min(t1, job["end"] or t1))
            for job in (self.jobs[j] for j in self.window(t0, t1))
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, (t1 - t0) - covered)


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
