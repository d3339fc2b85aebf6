"""Event-log reader tests.

``data/eventlog_v2_local-1792209737034`` is a Spark 4.1.2 rolling zstd
event log recorded from a two-core local session, trimmed to the fields
the reader uses: three jobs labelled ``layerA`` (a shuffle, a
``mapInPandas`` stage and a final aggregate) followed by two unlabelled
jobs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_recorded_log_per_label():
    log_dir = eventlog.find_log_dir(DATA)
    tasks = eventlog.layer_tasks(log_dir)
    assert set(tasks) == {"layerA", None}
    a = tasks["layerA"]
    assert (a.jobs, len(a.intervals)) == (3, 5)
    assert a.cpu_ns == 116200400 + 109111904 + 320912821 + 380740965 + 29055009
    assert a.python_ms == 2286 + 2298
    assert a.shuffle_bytes == 2636 + 3695 + 59 + 59 + 0
    # the two stage-0 tasks overlap; the union is three disjoint runs
    busy = eventlog.covered_ms(a.intervals, 0, 2**62)
    assert busy == (1792209744875 - 1792209744528) + (1792209747909 - 1792209745157) \
        + (1792209748210 - 1792209748096)
    rest = tasks[None]
    assert (rest.jobs, len(rest.intervals), rest.python_ms) == (2, 3, 0)


def _write_log(path: str, events: list[dict]) -> None:
    # Spark writes compact JSON; the reader matches event-type prefixes
    data = "".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events).encode()
    with pa.OSFile(path, "wb") as f, pa.CompressedOutputStream(f, "zstd") as z:
        z.write(data)


def _task(stage: int, launch: int, finish: int) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": []},
            "Task Metrics": {"Executor CPU Time": 1}}


def test_skipped_stage_stays_with_first_job_and_files_roll_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    job = {"Event": "SparkListenerJobStart", "Stage IDs": [0],
           "Properties": {"spark.job.description": "first"}}
    later = {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
             "Properties": {"spark.job.description": "second"}}
    # rolled files are read in numeric order: events_10 after events_2
    # (lexical order would read it first and leave stage 1 unlabelled)
    _write_log(str(d / "events_1_app.zstd"), [job, _task(0, 0, 10)])
    _write_log(str(d / "events_2_app.zstd"), [later])
    _write_log(str(d / "events_10_app.zstd"), [_task(1, 20, 30), _task(0, 5, 8)])
    tasks = eventlog.layer_tasks(eventlog.find_log_dir(str(tmp_path)))
    assert (tasks["first"].jobs, len(tasks["first"].intervals)) == (1, 2)
    assert (tasks["second"].jobs, len(tasks["second"].intervals)) == (1, 1)


def test_covered_ms_clips_and_merges():
    iv = [(0, 10), (5, 15), (20, 30), (40, 50)]
    assert eventlog.covered_ms(iv, 0, 100) == 15 + 10 + 10
    assert eventlog.covered_ms(iv, 8, 25) == 7 + 5
    assert eventlog.covered_ms([], 0, 10) == 0
