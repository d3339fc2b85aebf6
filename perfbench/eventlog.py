"""Per-layer task metrics from a Spark event log.

Spark 4 writes a rolling event-log directory (``eventlog_v2_<app>``)
whose ``events_<n>_<app>.zstd`` files hold one JSON event per line;
pyarrow decodes the zstd stream.
The traced run labels each layer's jobs with ``spark.job.description``;
this module joins every ``SparkListenerJobStart`` label to its stage ids
and sums the ``SparkListenerTaskEnd`` metrics of those stages per label.

Only job-start and task-end lines are decoded; the much larger SQL plan
events are skipped by prefix without parsing.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterator
from dataclasses import dataclass, field

import pyarrow as pa

_JOB_START = b'{"Event":"SparkListenerJobStart"'
_TASK_END = b'{"Event":"SparkListenerTaskEnd"'
_PYTHON_RUN = "time to run Python workers"
_CHUNK = 16 << 20


@dataclass
class LayerTasks:
    jobs: int = 0
    cpu_ns: int = 0
    python_ms: int = 0
    shuffle_bytes: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)


def _files(log_dir: str) -> list[str]:
    def index(path: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(path)).group(1))

    return sorted(glob.glob(os.path.join(log_dir, "events_*")), key=index)


def _lines(path: str) -> Iterator[bytes]:
    with pa.OSFile(path, "rb") as raw, pa.CompressedInputStream(raw, "zstd") as stream:
        tail = b""
        while True:
            chunk = stream.read(_CHUNK)
            if not chunk:
                break
            lines = (tail + chunk).split(b"\n")
            tail = lines.pop()
            yield from lines
        if tail:
            yield tail


def find_log_dir(event_dir: str) -> str:
    """The one application log directory Spark created under ``event_dir``."""
    dirs = [d for d in glob.glob(os.path.join(event_dir, "*"))
            if os.path.isdir(d)]
    if len(dirs) != 1:
        raise RuntimeError(f"expected one event log under {event_dir}, found {len(dirs)}")
    return dirs[0]


def layer_tasks(log_dir: str) -> dict[str | None, LayerTasks]:
    """Task metrics per job description (``None`` for unlabelled jobs)."""
    stage_label: dict[int, str | None] = {}
    out: dict[str | None, LayerTasks] = {}
    for path in _files(log_dir):
        for line in _lines(path):
            if line.startswith(_JOB_START):
                ev = json.loads(line)
                label = (ev.get("Properties") or {}).get("spark.job.description")
                out.setdefault(label, LayerTasks()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    # a stage belongs to the first job that lists it; later
                    # jobs only list it as a skipped (already computed) stage
                    stage_label.setdefault(sid, label)
            elif line.startswith(_TASK_END):
                ev = json.loads(line)
                info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                acc = out.setdefault(stage_label.get(ev["Stage ID"]), LayerTasks())
                acc.cpu_ns += int(metrics.get("Executor CPU Time", 0))
                shuffle = metrics.get("Shuffle Write Metrics") or {}
                acc.shuffle_bytes += int(shuffle.get("Shuffle Bytes Written", 0))
                acc.python_ms += sum(
                    int(a.get("Update", 0)) for a in info.get("Accumulables", [])
                    if a.get("Name") == _PYTHON_RUN)
                acc.intervals.append((int(info["Launch Time"]), int(info["Finish Time"])))
    return out


def covered_ms(intervals: list[tuple[int, int]], start_ms: float, end_ms: float) -> float:
    """Length of the union of ``intervals`` clipped to [start_ms, end_ms]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, start_ms), min(e, end_ms)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
