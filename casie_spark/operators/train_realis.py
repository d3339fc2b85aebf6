"""Deterministic trainer for the realis classifier (SURVEY §2.10 M4):
the model the reference trains in ``realis_identify.py`` (BiLSTM head,
build_model :116-157, over the ±7-token W2 context windows that
``prepare.py:261-285`` cuts) whose weights are absent upstream,
recovered from the gold corpus like the tagger and role models.

Model: logits = T_trig[hash(trigger head)] + Σ_{w in ctx} T_ctx[hash(w)]
+ bias — a bag-of-context linear scorer trained with the shared
mini-batch averaged perceptron (heads.py; fixed seed/schedule,
bit-reproducible artifact).
The cue-rule provider scores 0.628 on the corpus against a 0.619
majority baseline; the trained head separates Generic/Other cues the
hand list misses.

Run:  python -m casie_spark.operators.train_realis
writes casie_spark/artifacts/realis_weights.npz and prints accuracy.
"""

from __future__ import annotations

import os

import numpy as np

from .heads import logits, save, train_averaged_perceptron, unpack
from .model_tagger import VOCAB_SIZE, token_id

REALIS_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "realis_weights.npz",
)
SEED = 20260819
_KEYS = ("trig", "ctx")


def realis_features(texts: list, ctxs: list) -> dict[str, np.ndarray]:
    """Shared train/inference featurizer: the trigger head id, and the
    context words as a PAD=0 ``(n, G)`` bag (token ids are never 0)."""
    n = len(texts)
    trig = np.fromiter(
        (token_id(str(t).split()[-1]) if str(t).split() else 0
         for t in texts),
        dtype=np.int64, count=n)
    lens = np.fromiter((0 if c is None else len(c) for c in ctxs),
                       dtype=np.int64, count=n)
    words = np.fromiter(
        (token_id(str(w)) for c in ctxs if c is not None for w in c),
        dtype=np.int64, count=int(lens.sum()))
    row = np.repeat(np.arange(n), lens)
    col = np.arange(len(words)) - np.repeat(np.cumsum(lens) - lens, lens)
    ctx = np.zeros((n, lens.max(initial=0)), np.int64)
    ctx[row, col] = words
    return {"trig": trig, "ctx": ctx}


def build_training_frame(spark, doc_ids=None):
    """``doc_ids``: optional iterable restricting the corpus to a
    document subset (the held-out protocol trains on folds 1..4)."""
    from pyspark.sql import functions as F

    from ..operators.linking import extract_events
    from ..operators.realis import realis_context
    from ..operators.tagging import tag_gold_replay
    from ..operators.tokenizer import tokenize
    from ..sources.annotations import (
        gold_arguments,
        gold_events,
        load_annotations,
    )
    from ..util import materialize, truncate

    ann = load_annotations(spark)
    if doc_ids is not None:
        ann = ann.filter(F.col("doc_id").isin(list(doc_ids)))
    docs = ann.select("doc_id", F.col("content").alias("text"))
    toks = tokenize(docs, id_col="doc_id").repartition(F.col("doc_id"))
    tagged = materialize(
        tag_gold_replay(toks, gold_events(ann), gold_arguments(ann)))
    events = truncate(extract_events(tagged, carry=["realis"]))
    ctx = realis_context(events, tagged)
    out = (
        events.select("doc_id", "event_id", "text", "realis")
        .join(ctx, ["doc_id", "event_id"], "left")
        .filter(F.col("realis").isNotNull())
        .orderBy("doc_id", "event_id")
        .toPandas()
    )
    tagged.unpersist()
    return out


def train(pdf) -> dict[str, np.ndarray]:
    labels = sorted(pdf["realis"].unique())
    lid = {r: i for i, r in enumerate(labels)}
    f = realis_features(pdf["text"].tolist(), pdf["ctx"].tolist())
    y = pdf["realis"].map(lid).to_numpy(np.int64)
    n = len(labels)
    shapes = {"trig": (VOCAB_SIZE, n), "ctx": (VOCAB_SIZE, n), "b": (n,)}
    tables = train_averaged_perceptron(shapes, f, y, SEED, 0.0)
    out = {f"realis_{k}": v.astype(np.float16) for k, v in tables.items()}
    out["realis_labels"] = np.array(labels)
    return out


def arrays_to_weights(arrays):
    """Artifact arrays -> the (tables, labels) tuple
    realis.trained_realis_provider consumes (realis.load_realis_weights
    parses the committed artifact with it)."""
    return (unpack(arrays, "realis"),
            [str(s) for s in arrays["realis_labels"]])


def main() -> None:  # pragma: no cover - CLI entry
    from ..session import get_spark

    spark = get_spark("train-realis", master="local[16]",
                      shuffle_partitions=16)
    pdf = build_training_frame(spark)
    print(f"training rows: {len(pdf)}")
    arrays = train(pdf)
    path = save(arrays, REALIS_ARTIFACT)
    print(f"wrote {path} ({os.path.getsize(path) / 1e6:.1f} MB)")
    tables, labels = arrays_to_weights(arrays)
    f = realis_features(pdf["text"].tolist(), pdf["ctx"].tolist())
    pred = np.array(labels, dtype=object)[
        logits(tables, f, _KEYS).argmax(axis=1)]
    gold = pdf["realis"].to_numpy()
    print(f"realis accuracy: trained={(pred == gold).mean():.3f} "
          f"majority={(gold == 'Actual').mean():.3f} (rules: 0.628)")
    spark.stop()


if __name__ == "__main__":
    main()
