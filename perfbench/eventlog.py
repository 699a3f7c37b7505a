"""Spark event-log reader: per-stage task metrics keyed by job description.

The session runs with the UI disabled, so Spark-side timings come from the
event log (``spark.eventLog.enabled``), written uncompressed and unrolled so
it is one JSON object per line. Read it after ``spark.stop()``, when the
writer has flushed and closed the file.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    job_desc: str | None
    scopes: set[str] = field(default_factory=set)
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    @property
    def task_s(self) -> float:
        return sum(self.task_ms) / 1000.0

    @property
    def skew(self) -> float:
        """max ÷ median task time (1.0 for a single task)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0

    @property
    def in_task(self) -> bool:
        """The split-list ``mapInPandas`` of the in-task reader."""
        return "MapInPandas" in self.scopes and "parallelize" in self.scopes

    @property
    def tail_python(self) -> bool:
        """A Python stage of the giant-doc tail: the salted strip
        ``mapInPandas`` (fed by a shuffle) or an ``applyInPandas``."""
        return "FlatMapGroupsInPandas" in self.scopes or (
            "MapInPandas" in self.scopes and not self.in_task
        )


def session_settings(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_stages(log_dir: str) -> list[Stage]:
    """Stages of the newest application log in ``log_dir`` that ran at
    least one task, in stage-id order."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not logs:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    path = max(logs, key=os.path.getmtime)
    stage_job: dict[int, str | None] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = desc
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(
                    info["Stage ID"], Stage(info["Stage ID"], None)
                )
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        st.scopes.add(json.loads(rdd["Scope"])["name"].strip())
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"], None))
                st.task_ms.append(int(tm.get("Executor Run Time", 0)))
                st.gc_ms += int(tm.get("JVM GC Time", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                    sr.get("Local Bytes Read", 0)
                )
                st.spill_bytes += int(tm.get("Memory Bytes Spilled", 0)) + int(
                    tm.get("Disk Bytes Spilled", 0)
                )
    for sid, st in stages.items():
        st.job_desc = stage_job.get(sid)
    return [stages[s] for s in sorted(stages) if stages[s].task_ms]


def for_desc(stages: list[Stage], desc: str) -> list[Stage]:
    return [s for s in stages if s.job_desc == desc]


def describe(st: Stage) -> str:
    """One report line per stage: tasks, max/median task time, shuffle
    read/write, spill and GC."""
    med = statistics.median(st.task_ms)
    return (
        f"stage {st.stage_id} [{st.job_desc}] {len(st.task_ms)} tasks, "
        f"task ms max {max(st.task_ms)} / median {med:g}, shuffle read "
        f"{st.shuffle_read_bytes} B / write {st.shuffle_write_bytes} B, "
        f"spill {st.spill_bytes} B, gc {st.gc_ms} ms"
    )


def classify_tail(stages: list[Stage]) -> dict[str, list[Stage]]:
    """Split the stages of one extraction call into layers by the physical
    operators they ran (RDD scopes):

    - ``in_task``: the split-list ``mapInPandas`` (parallelized split rows)
    - ``explode_strip``: the giant-doc scan + posexplode feeding the salted
      shuffle, and the strip ``mapInPandas`` that reads it
    - ``finalize_stage`` / ``chunk_stage``: the ``applyInPandas`` stages in
      plan order (finalize regroups first; chunk_stage's stage also holds
      the giant parquet write it feeds)
    - ``other``: file listing and anything else
    """
    out: dict[str, list[Stage]] = {
        k: [] for k in ("in_task", "explode_strip", "finalize_stage",
                        "chunk_stage", "other")
    }
    grouped = 0
    for st in stages:
        if st.in_task:
            out["in_task"].append(st)
        elif "FlatMapGroupsInPandas" in st.scopes:
            out["finalize_stage" if grouped == 0 else "chunk_stage"].append(st)
            grouped += 1
        elif st.tail_python or {"Scan parquet", "Exchange"} <= st.scopes:
            out["explode_strip"].append(st)
        else:
            out["other"].append(st)
    return out
