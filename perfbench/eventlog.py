"""Fold an uncompressed Spark event log into counters per job group.

The traced run enables ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false`` and wraps every call in
``sc.setJobGroup(<workload>:<qid or stage>)``. Each line of the log is
one JSON listener event; this module reads them with the standard
library only and sums, per job group:

- jobs, completed stages and finished tasks;
- executor run time, CPU time and GC time;
- input bytes/rows, shuffle read/write bytes and spilled bytes;
- the bytes sent to and returned from Python workers (the SQL metrics
  of the Python/Arrow exec nodes, read from the task accumulables).

Jobs without a group (for example those a streaming query runs on its
own thread) are folded under ``default_group``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0

    def add(self, other: "GroupCounters") -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


def _accum(task_info: dict, name: str) -> int:
    total = 0
    for acc in task_info.get("Accumulables", ()):
        if acc.get("Name") == name:
            total += int(acc.get("Update") or 0)
    return total


def fold(lines, default_group: str = "") -> dict[str, GroupCounters]:
    """Fold event-log lines (an iterable of JSON strings) per job group."""
    groups: dict[str, GroupCounters] = {}
    stage_group: dict[int, str] = {}

    def counters(group: str) -> GroupCounters:
        return groups.setdefault(group, GroupCounters())

    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or default_group
            counters(group).jobs += 1
            for sid in event.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = event["Stage Info"]["Stage ID"]
            counters(stage_group.get(sid, default_group)).stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = event["Stage ID"]
            c = counters(stage_group.get(sid, default_group))
            m = event.get("Task Metrics") or {}
            c.tasks += 1
            c.run_ms += m.get("Executor Run Time", 0)
            c.cpu_ns += m.get("Executor CPU Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics") or {}
            c.input_bytes += inp.get("Bytes Read", 0)
            c.input_rows += inp.get("Records Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            info = event.get("Task Info") or {}
            c.python_bytes_sent += _accum(info, PY_SENT)
            c.python_bytes_returned += _accum(info, PY_RETURNED)
    return groups


def fold_file(path: str, default_group: str = "") -> dict[str, GroupCounters]:
    with open(path, encoding="utf-8") as fh:
        return fold(fh, default_group)
