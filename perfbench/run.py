"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_model --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed`` and starts one local Spark session sized to the machine.  Then:

- ``--trace 0``: untraced passes until ``--seconds`` have elapsed (at
  least one).  ``wall_s`` is the first pass, the cost a fresh batch job
  pays; later passes only re-check the output.  Prints the end-to-end
  metrics.
- ``--trace 1``: one traced pass that labels every layer's jobs.  After
  the session stops, the Spark event log is read and the per-layer
  metrics are printed.

Every pass's output is read back and checked.  Scratch files (inputs,
outputs, event log, Spark local and warehouse dirs) live in a directory
under ``.perfbench/`` at the repository root and are deleted on exit;
the traced run keeps its spans as ``.perfbench/trace-<workload>-<seed>.json``.
Each run also keeps its output fingerprint in ``.perfbench/fingerprints/``
and fails when an earlier run of the same workload, seed and sources
wrote a different one.  Traced and untraced runs share the file, which
catches drift between the traced composition and the program.  The last
stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import casie_spark  # noqa: E402,F401  -- fails fast outside a checkout

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
from workloads import LAYERS, WORKLOADS, Tracer  # noqa: E402

DRIVER_MEM = "4g"
GEN_REPEATS = 3


def start_session(work: str, trace: bool):
    """Local session with every scratch directory inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "local")
    os.makedirs(local)
    java_opts = f"-Djava.security.manager=allow -Djava.io.tmpdir={local} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LAUNCHER_OPTS": java_opts,   # the launcher JVM spark-submit starts first
        "SPARK_LOCAL_DIRS": local,   # overrides spark.local.dir when set
        "TMPDIR": local,
        "PYSPARK_PYTHON": sys.executable,
    })
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    from casie_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def source_digest() -> str:
    """Digest of the program's and the benchmark's files (not their
    docs), so a stored fingerprint is only compared with runs of the same
    code."""
    h = hashlib.sha256()
    for top in ("casie_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(f for f in files if not f.endswith(".md")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode("utf-8") + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def stored_fingerprint_error(base: str, workload: str, seed: int,
                             fingerprint: str) -> str | None:
    """Compare with the fingerprint an earlier run of this workload, seed
    and code stored; store it if this is the first such run."""
    d = os.path.join(base, "fingerprints")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-{seed}-{source_digest()}")
    if not os.path.exists(path):
        with open(path, "w", encoding="ascii") as f:
            f.write(fingerprint)
        return None
    with open(path, encoding="ascii") as f:
        stored = f.read().strip()
    if stored != fingerprint:
        return f"output fingerprint {fingerprint} differs from an earlier run's {stored}"
    return None


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def layer_metrics(spans, log_dir: str, trace_wall: float) -> dict:
    tasks = eventlog.layer_tasks(log_dir)
    out = {}
    for name in LAYERS:
        span = next((s for s in spans if s.name == name), None)
        t = tasks.get(name, eventlog.LayerTasks())
        wall = span.end - span.start if span else 0.0
        busy = (eventlog.covered_ms(t.intervals, span.start * 1e3, span.end * 1e3) / 1e3
                if span else 0.0)
        out.update({
            f"{name}.wall_s": metric(wall, "s"),
            f"{name}.idle_s": metric(wall - busy, "s"),
            f"{name}.jobs": metric(t.jobs, "count"),
            f"{name}.cpu_s": metric(t.cpu_ns / 1e9, "s"),
            f"{name}.python_s": metric(t.python_ms / 1e3, "s"),
            f"{name}.shuffle_bytes": metric(t.shuffle_bytes, "bytes"),
            f"{name}.rows_out": metric(span.rows if span else 0, "count"),
        })
    covered = sum(s.end - s.start for s in spans)
    out["trace.coverage"] = metric(covered / trace_wall, "ratio")
    # jobs launched during the traced pass that carry no layer label
    first, last = spans[0].start, spans[-1].end
    stray = tasks.get(None, eventlog.LayerTasks())
    out["trace.unlabelled_busy_s"] = metric(
        eventlog.covered_ms(stray.intervals, first * 1e3, last * 1e3) / 1e3, "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0

        docs_path = os.path.join(work, "documents.parquet")
        gen_times = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            truth, duplicates = gen.write(wl.shape, args.seed, docs_path,
                                          os.path.join(work, "truth.json"))
            gen_times.append(time.perf_counter() - t)
        gen_s = statistics.median(gen_times)

        print(f"setup: session {session_s:.2f}s, generate {gen_s:.2f}s; "
              f"{len(truth)} English pages plus {duplicates} rows repeating a url",
              file=sys.stderr)

        results, walls = [], []
        if trace:
            tracer = Tracer(spark)
            out = os.path.join(work, "out-traced")
            t = time.perf_counter()
            written = wl.traced(tracer, docs_path, out)
            trace_wall = time.perf_counter() - t
            spans = tracer.spans
            results.append(checks.check(wl.kind, out, written, truth))
            rss = peak_rss_mb(spark)
        else:
            # wall_s is the first pass; later ones only re-check the output
            t_measure = time.perf_counter()
            while not walls or time.perf_counter() - t_measure < args.seconds:
                out = os.path.join(work, f"out-{len(results)}")
                t = time.perf_counter()
                written = wl.untraced(spark, docs_path, out)
                walls.append(time.perf_counter() - t)
                results.append(checks.check(wl.kind, out, written, truth))
        stop_session(spark)
        spark = None

        prints = {r.fingerprint for r in results}
        errors = [e for r in results for e in r.errors]
        drift = (f"output fingerprints differ across passes: {sorted(prints)}"
                 if len(prints) != 1 else
                 stored_fingerprint_error(base, wl.name, args.seed, results[0].fingerprint))
        if drift:
            errors.append(drift)
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)
        first = results[0]
        print(f"fingerprint {first.fingerprint} rows {first.rows} "
              f"passes {len(results)}", file=sys.stderr)

        if trace:
            metrics = layer_metrics(spans, eventlog.find_log_dir(os.path.join(work, "events")),
                                    trace_wall)
            metrics.update({
                "documents.duplicates_dropped": metric(
                    len(truth) + duplicates - spans[0].rows, "count"),
                "trace.wall_s": metric(trace_wall, "s"),
                "setup.session_s": metric(session_s, "s"),
                "setup.gen_s": metric(gen_s, "s"),
                "driver.peak_rss_mb": metric(rss, "MB"),
            })
            with open(os.path.join(base, f"trace-{wl.name}-{args.seed}.json"), "w",
                      encoding="utf-8") as f:
                json.dump({"spans": [s.__dict__ for s in spans],
                           "metrics": metrics}, f, indent=1)
        else:
            wall = walls[0]
            metrics = {
                "setup_s": metric(session_s + gen_s, "s"),
                "wall_s": metric(wall, "s"),
                "pages_per_s": metric(len(truth) / wall, "pages/s"),
                "subtype_f1": metric(first.subtype_f1, "ratio"),
                "arg_recall": metric(first.arg_recall, "ratio"),
            }
        failed = len(results) if drift else sum(1 for r in results if r.errors)
        print(json.dumps({"correct": not errors, "attempted": len(results),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
