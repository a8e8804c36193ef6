"""Sum Spark event-log task metrics per job attribution key.

Reads an uncompressed event log (one JSON event per line), either a
single file or a rolling ``eventlog_v2_<app>`` directory of
``events_<n>_<app>`` files. Each job is given a key by a caller
function of the job's properties (``spark.jobGroup.id``,
``streaming.sql.batchId``, ``sql.streaming.queryId``, ...); stages and
tasks inherit their job's key. Jobs whose key is None are ignored.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass, fields

KeyFn = Callable[[dict], "str | None"]


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    input_records: int = 0
    leaf_tasks: int = 0  # tasks of stages with no parent stage (the scans)

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]

    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", name)
        return int(m.group(1)) if m else 0

    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=index)]


def read_events(path: str) -> Iterator[dict]:
    for f in _files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def summarize(path: str, key_of: KeyFn) -> dict[str, Counters]:
    out: dict[str, Counters] = {}
    stage_key: dict[int, str] = {}
    leaf_stages: set[int] = set()
    stages_seen: set[tuple[str, int]] = set()
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = key_of(ev.get("Properties") or {})
            if key is None:
                continue
            out.setdefault(key, Counters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info") or {}
            if not info.get("Parent IDs"):
                leaf_stages.add(info.get("Stage ID"))
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            c = out[key]
            sid = ev["Stage ID"]
            if (key, sid) not in stages_seen:
                stages_seen.add((key, sid))
                c.stages += 1
            c.tasks += 1
            c.leaf_tasks += sid in leaf_stages
            m = ev.get("Task Metrics") or {}
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            w = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
            c.shuffle_records += w.get("Shuffle Records Written", 0)
            c.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return out


def job_group(props: dict) -> str | None:
    return props.get("spark.jobGroup.id")


def streaming_query(props: dict) -> str | None:
    """Key loader jobs by their streaming query id; jobs outside any
    micro-batch get None."""
    if "streaming.sql.batchId" not in props:
        return None
    return props.get("sql.streaming.queryId")
