"""Per-stage task metrics from a Spark event log (JSON lines).

Jobs are attributed to a benchmark pass by their job group
(``SparkContext.setJobGroup``); a stage belongs to the pass of the job
that submitted it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from trace_spans import covered


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    scheduler_delay_ms: int
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int


@dataclass
class Stage:
    stage_id: int
    submitted_ms: int = 0
    completed_ms: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class EventLog:
    groups: dict[str, list[int]]  # job group -> stage ids
    stages: dict[int, Stage]


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    duration = info["Finish Time"] - info["Launch Time"]
    run = m.get("Executor Run Time", 0)
    # the Spark UI's definition of scheduler delay
    delay = (
        duration
        - run
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0)
    )
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=run,
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        scheduler_delay_ms=max(0, delay),
        shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
        shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def parse(path: str) -> EventLog:
    groups: dict[str, list[int]] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups.setdefault(group, []).extend(ev.get("Stage IDs", []))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submitted_ms = info.get("Submission Time", 0)
                st.completed_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    continue
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.tasks.append(_task(ev))
    return EventLog(groups=groups, stages=stages)


def find_log(log_dir: str) -> str:
    """The single application log a finished session leaves."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


def group_metrics(log: EventLog, group: str, wall_ms: tuple[int, int], cores: int) -> dict:
    """Spark-layer metrics of one pass: the job group's stages and
    tasks, and the pass's driver-side wall interval in epoch ms."""
    stages = [log.stages[s] for s in dict.fromkeys(log.groups.get(group, [])) if s in log.stages]
    stages = [s for s in stages if s.tasks]  # skipped stages ran nothing
    tasks = [t for s in stages for t in s.tasks]
    out = {
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.jvm_gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.scheduler_delay_s": sum(t.scheduler_delay_ms for t in tasks) / 1e3,
        "spark.shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / 2**20,
        "spark.shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) / 2**20,
        "spark.spill_mb": sum(t.spill_b for t in tasks) / 2**20,
    }
    lo, hi = wall_ms
    busy = covered([(t.launch_ms, t.finish_ms) for t in tasks], lo, hi)
    out["spark.no_task_s"] = ((hi - lo) - busy) / 1e3
    skew, idle = 0.0, 0.0
    if stages:
        # the kernel stage: the one that holds the most task time
        k = max(stages, key=lambda s: sum(t.run_ms for t in s.tasks))
        durations = [t.finish_ms - t.launch_ms for t in k.tasks]
        skew = max(durations) / max(statistics.median(durations), 1)
        stage_wall = max(k.completed_ms - k.submitted_ms, 1)
        idle = 1 - sum(durations) / (cores * stage_wall)
    out["spark.kernel_stage.task_skew"] = skew
    out["spark.kernel_stage.core_idle_frac"] = idle
    return out
