"""Output checks: read back what a pass wrote and compare it with the
planted truth and with itself.

A pass passes when every output ``doc_id`` is an input url, no
``subj``/``pred``/``obj`` is null, every edge endpoint is a vertex, the
re-read row counts equal the counts observed while writing, and
planted-truth quality is above a floor that only a broken pipeline
misses.  The fingerprint is an order-insensitive digest of every output
row; the caller compares it across passes and between the traced and
untraced runs.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass, field

import pyarrow.parquet as pq

# the workloads measure subtype F1 of about 0.89 (rules) and 0.91 (model)
# and arg recall of 0.6-0.73; these floors only catch a pipeline that has
# stopped extracting
MIN_SUBTYPE_F1 = 0.5
MIN_ARG_RECALL = 0.3


@dataclass
class Result:
    fingerprint: str
    subtype_f1: float
    arg_recall: float
    rows: dict[str, int]
    errors: list[str] = field(default_factory=list)


def _fingerprint(*tables: list[tuple]) -> str:
    h = hashlib.sha256()
    for rows in tables:
        for line in sorted(repr(r) for r in rows):
            h.update(line.encode("utf-8"))
            h.update(b"\n")
        h.update(b"\x00")
    return h.hexdigest()


def subtype_f1(pred: dict[str, set], truth: dict[str, dict]) -> float:
    """Micro F1 of (document, event subtype) pairs."""
    tp = fp = fn = 0
    for url in set(pred) | set(truth):
        p = pred.get(url, set())
        g = set(truth[url]["subtypes"]) if url in truth else set()
        tp, fp, fn = tp + len(p & g), fp + len(p - g), fn + len(g - p)
    return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0


def arg_recall(objs: dict[str, set], truth: dict[str, dict]) -> float:
    """Share of planted argument surfaces found, as whole words, inside
    some ``obj`` of the same document (case-insensitive)."""
    found = total = 0
    for url, t in truth.items():
        text = "\n".join(objs.get(url, ()))
        for _, surface in t["args"]:
            total += 1
            pat = r"(?<![\w.])" + re.escape(surface.lower()) + r"(?![\w.])"
            found += re.search(pat, text) is not None
    return found / total if total else 1.0


def _read(path: str, cols: list[str]) -> list[tuple]:
    """Rows of a parquet directory Spark wrote, read back with pyarrow
    (hive partition directories become columns)."""
    t = pq.read_table(path)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def check(kind: str, out: str, written: dict[str, int],
          truth: dict[str, dict]) -> Result:
    urls = set(truth)
    errors: list[str] = []
    if kind == "triples":
        cols = ["doc_id", "subj", "pred", "obj", "event_subtype", "realis",
                "event_id", "event_begin", "arg_begin", "confidence"]
        rows = _read(os.path.join(out, "triples"), cols)
        tables = {"triples": rows}
        nulls = sum(1 for r in rows if None in r[1:4])
        docs = [(r[0], r[4], r[3]) for r in rows]
    else:
        ecols = ["subj_id", "subj_surface", "pred", "obj_id", "obj_surface", "doc_id",
                 "event_id", "cluster_id", "event_subtype", "realis", "confidence"]
        edges = _read(os.path.join(out, "edges"), ecols)
        vertices = _read(os.path.join(out, "vertices"),
                         ["vertex_id", "surface", "n_mentions", "kind"])
        tables = {"edges": edges, "vertices": vertices}
        nulls = sum(1 for r in edges if r[0] is None or r[2] is None or r[3] is None)
        vids = {v[0] for v in vertices}
        dangling = sum(1 for r in edges if r[0] not in vids or r[3] not in vids)
        if dangling:
            errors.append(f"{dangling} edge endpoints missing from vertices")
        docs = [(r[5], r[8], r[4]) for r in edges]
    if nulls:
        errors.append(f"{nulls} rows with a null subject, predicate or object")
    reread = {k: len(v) for k, v in tables.items()}
    if reread != written:
        errors.append(f"re-read rows {reread} != written rows {written}")
    stray = {d for d, _, _ in docs} - urls
    if stray:
        errors.append(f"{len(stray)} output doc_ids are not input urls")
    pred: dict[str, set] = {}
    objs: dict[str, set] = {}
    for doc, subtype, obj in docs:
        pred.setdefault(doc, set()).add(subtype)
        objs.setdefault(doc, set()).add((obj or "").lower())
    f1, recall = subtype_f1(pred, truth), arg_recall(objs, truth)
    if f1 < MIN_SUBTYPE_F1 or recall < MIN_ARG_RECALL:
        errors.append(f"quality below floor: subtype_f1={f1:.4f} arg_recall={recall:.4f}")
    return Result(_fingerprint(*tables.values()), f1, recall, reread, errors)
