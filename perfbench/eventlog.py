"""Per-layer Spark task metrics from an uncompressed Spark event log.

Every action the benchmark times runs under a job description
(``SparkContext.setJobDescription``) naming its layer; each submitted
Spark stage carries that description in its properties, and each task
end event carries its stage id, so task metrics group by description
without any listener code in the library.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Usage:
    """Summed task metrics of the jobs under one description."""

    jobs: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_task_ms: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: "Usage") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.task_ms += other.task_ms
        self.input_bytes += other.input_bytes
        self.input_records += other.input_records
        self.output_bytes += other.output_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.stage_task_ms.update(other.stage_task_ms)

    def skew(self) -> float:
        """max/median task run time of the Spark stage with the most task
        time (the stage that dominates the layer); 1.0 when it ran a
        single task."""
        if not self.stage_task_ms:
            return 0.0
        times = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def find_log(events_dir: str) -> str:
    """The single application log Spark wrote under ``events_dir``."""
    logs = [f for f in os.listdir(events_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {logs}")
    return os.path.join(events_dir, logs[0])


def usage_by_description(path: str) -> dict[str, Usage]:
    stage_desc: dict[int, str] = {}
    out: dict[str, Usage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                out.setdefault(desc, Usage()).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_desc[ev["Stage Info"]["Stage ID"]] = props.get(
                    "spark.job.description", ""
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sid = ev["Stage ID"]
                u = out.setdefault(stage_desc.get(sid, ""), Usage())
                run_ms = m.get("Executor Run Time", 0)
                u.tasks += 1
                u.task_ms += run_ms
                u.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                u.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
                u.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
                u.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                u.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                u.stage_task_ms.setdefault(sid, []).append(run_ms)
    return out


def total(usages: dict[str, Usage], prefix: str) -> Usage:
    """Sum of every description starting with ``prefix``."""
    acc = Usage()
    for desc, u in usages.items():
        if desc.startswith(prefix):
            acc.add(u)
    return acc
