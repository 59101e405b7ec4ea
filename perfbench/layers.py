"""Per-layer attribution for a traced benchmark run.

Inputs, all recorded outside the engine:

- the benchmark's own phase marks for every operation (build, plan, run =
  ``toPandas``), as epoch seconds;
- Spark's event log (uncompressed JSON lines), turned on through launcher
  settings: jobs, stages and task metrics;
- streaming progress events captured by :class:`ProgressRecorder`.

Jobs and progress events are attributed to the operation phase whose time
window contains their start. The run phase is split at the end of its last
job into **execute** and **collect**.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("build", "plan", "run")


class ProgressRecorder(StreamingQueryListener):
    """Keeps every streaming progress event in memory as plain dicts."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append(
            {
                "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
                "run_id": str(p.runId),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """``(jobs, stages)`` from the single application log in ``log_dir``.

    ``jobs[id] = {submit, end, stages}`` in epoch ms; ``stages[id]`` sums the
    task metrics of the stage and keeps each task's ``(launch, finish)``.
    """
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "intervals": [], "submit": None, "end": None,
        }
    )
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"], "end": None, "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages[info["Stage ID"]]
                st["submit"], st["end"] = info.get("Submission Time"), info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["intervals"].append((info["Launch Time"], info["Finish Time"]))
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, dict(stages)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(ops: list[dict], jobs: dict, stages: dict, progress: list[dict]) -> list[dict]:
    """Annotate each timed op record (``marks`` = 4 epoch-second marks) in
    place with its jobs, task totals, phase split and streaming progress;
    return the span list (op -> phase -> job -> stage) with self times."""
    windows = sorted(
        (op["marks"][i] * 1000, op["marks"][i + 1] * 1000, k, PHASES[i])
        for k, op in enumerate(ops)
        for i in range(3)
    )
    for op in ops:
        op["jobs"] = {p: [] for p in PHASES}
        op["progress"] = []

    def owner(t_ms: float):
        for lo, hi, k, phase in windows:
            if lo <= t_ms <= hi:
                return k, phase
        return None

    for jid, job in sorted(jobs.items()):
        hit = owner(job["submit"])
        if hit is not None:
            ops[hit[0]]["jobs"][hit[1]].append(jid)
    for ev in progress:
        hit = owner(ev["start"] * 1000)
        if hit is not None:
            ops[hit[0]]["progress"].append(ev)

    spans: list[dict] = []
    for k, op in enumerate(ops):
        m = op["marks"]
        run_jobs = [jobs[j] for j in op["jobs"]["run"] if jobs[j]["end"] is not None]
        last_end = max((j["end"] / 1000 for j in run_jobs), default=m[2])
        last_end = min(max(last_end, m[2]), m[3])
        op["execute_s"], op["collect_s"] = last_end - m[2], m[3] - last_end
        op["build_s"], op["plan_s"] = m[1] - m[0], m[2] - m[1]
        op["gap_s"] = (m[3] - m[0]) - (op["build_s"] + op["plan_s"] + op["execute_s"] + op["collect_s"])

        def ran(phases) -> set[int]:
            # A stage shared by two jobs runs once; the second job skips it.
            return {
                s for p in phases for j in op["jobs"][p] for s in jobs[j]["stages"]
                if s in stages and stages[s]["tasks"]
            }

        tot: dict[str, float] = defaultdict(float)
        intervals = []
        for s in ran(PHASES):
            for key in ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill"):
                tot[key] += stages[s][key]
            intervals += stages[s]["intervals"]
        op["task"] = dict(tot)
        run_stages = ran(("run",))
        op["stages_run"] = len(run_stages)
        op["tasks_run"] = sum(stages[s]["tasks"] for s in run_stages)
        wall_ms = (m[3] - m[0]) * 1000
        op["idle_s"] = (wall_ms - _covered(intervals, m[0] * 1000, m[3] * 1000)) / 1000

        op_id = f"op{k}"
        phase_bounds = {
            "build": (m[0], m[1]), "plan": (m[1], m[2]),
            "execute": (m[2], last_end), "collect": (last_end, m[3]),
        }
        spans.append({
            "id": op_id, "parent": None, "name": op["name"], "pass": op["pass"],
            "start": m[0], "end": m[3], "self_s": op["gap_s"],
        })
        for phase, (lo, hi) in phase_bounds.items():
            src = "run" if phase in ("execute", "collect") else phase
            pjobs = op["jobs"][src] if phase != "collect" else []
            job_iv = [(jobs[j]["submit"] / 1000, (jobs[j]["end"] or jobs[j]["submit"]) / 1000) for j in pjobs]
            pid = f"{op_id}.{phase}"
            spans.append({
                "id": pid, "parent": op_id, "name": phase, "start": lo, "end": hi,
                "self_s": (hi - lo) - _covered(job_iv, lo, hi),
            })
            for j in pjobs:
                job = jobs[j]
                jend = (job["end"] or job["submit"]) / 1000
                st_iv = [
                    (stages[s]["submit"] / 1000, stages[s]["end"] / 1000)
                    for s in job["stages"]
                    if s in stages and stages[s]["submit"] and stages[s]["end"]
                ]
                spans.append({
                    "id": f"job{j}", "parent": pid, "name": f"job {j}",
                    "start": job["submit"] / 1000, "end": jend,
                    "self_s": (jend - job["submit"] / 1000) - _covered(st_iv, job["submit"] / 1000, jend),
                })
                for s in job["stages"]:
                    st = stages.get(s)
                    if st and st["submit"] and st["end"]:
                        spans.append({
                            "id": f"job{j}.stage{s}", "parent": f"job{j}", "name": f"stage {s}",
                            "start": st["submit"] / 1000, "end": st["end"] / 1000,
                            "self_s": (st["end"] - st["submit"]) / 1000, "tasks": st["tasks"],
                        })
    return spans
