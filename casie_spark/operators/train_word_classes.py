"""Deterministic trainer for the induced word classes/vectors
(operators/word_classes.py) — PPMI-SVD over the in-container text.

Input text (unsupervised; no labels touched): the 1,000 reference
articles' extracted bodies (/root/reference/data/source via
sources.annotations — the same corpus the reference trained its
Domain-Word2vec on, README.md).

Synthetic bench pages were tried as additional text and REJECTED on
measurement: their templated co-occurrence statistics dominate the
counts (43k of 58k sentences) and wash out the real distributional
structure — e.g. nearest neighbors of "stole" went from
steal/stealing/encrypts (articles only) to senator/jeremy/detective
(with synth), and the tagger transfer lift vanished.  Bench-time
synthetic tokens simply hit the OOV class row, which costs nothing.

Pipeline: tokenizer-consistent lowercased sentences -> position-tagged
±WINDOW co-occurrence counts over the N_CTX most frequent context
words -> PPMI with context-distribution smoothing ALPHA (Levy &
Goldberg 2015) -> truncated SVD via the (C x C) Gram
eigendecomposition -> word vectors M·V_d·Σ^-0.5 (= U·Σ^0.5),
L2-normalized, eigenvector signs fixed by largest-|component|
convention -> seeded k-means at K_FINE / K_COARSE.

Run:  python -m casie_spark.operators.train_word_classes
writes casie_spark/artifacts/word_classes.npz and prints diagnostics.
"""

from __future__ import annotations

import os

import numpy as np

from .heads import save
from .word_classes import ARTIFACT, from_arrays, kmeans

SEED = 20260817
MIN_COUNT = 3       # vocabulary floor over the combined corpus
N_CTX = 1500        # context vocabulary (most frequent words)
WINDOW = 2          # positions -2, -1, +1, +2 (position-tagged)
DIM = 64
K_FINE = 512
K_COARSE = 64
ALPHA = 0.75        # context-distribution smoothing


def corpus_sentences(spark) -> list[list[str]]:
    """Deterministically ordered lowercased token sentences from the
    reference articles.  Tokenization is the repo tokenizer's pure
    kernel, so class lookups at inference see the exact same surface
    forms."""
    from ..sources.annotations import load_annotations
    from .tokenizer import tokenize_text

    texts = []
    ann = load_annotations(spark).select("doc_id", "content")
    for r in sorted(ann.collect(), key=lambda r: str(r["doc_id"])):
        texts.append(r["content"])

    sents: list[list[str]] = []
    for t in texts:
        cur: list[str] = []
        cur_sid = None
        for sid, _tid, tok, _b, _e in tokenize_text(t or ""):
            if sid != cur_sid:
                if cur:
                    sents.append(cur)
                cur, cur_sid = [], sid
            cur.append(tok.lower())
        if cur:
            sents.append(cur)
    return sents


def fit(sents: list[list[str]]) -> dict[str, np.ndarray]:
    from collections import Counter

    freq = Counter()
    for s in sents:
        freq.update(s)
    vocab = sorted(w for w, c in freq.items() if c >= MIN_COUNT)
    vidx = {w: i for i, w in enumerate(vocab)}
    ctx_words = [w for w, _ in sorted(
        freq.items(), key=lambda kv: (-kv[1], kv[0]))[:N_CTX]]
    cidx = {w: i for i, w in enumerate(ctx_words)}
    V, Cw = len(vocab), len(ctx_words)
    n_pos = 2 * WINDOW
    C = Cw * n_pos
    print(f"vocab {V} (min_count {MIN_COUNT}), contexts {Cw} x {n_pos} "
          f"positions, sentences {len(sents)}")

    M = np.zeros((V, C), np.float32)
    offsets = [o for o in range(-WINDOW, WINDOW + 1) if o != 0]
    pos_of = {o: p for p, o in enumerate(offsets)}
    for s in sents:
        ids = [vidx.get(w, -1) for w in s]
        cids = [cidx.get(w, -1) for w in s]
        n = len(s)
        for i in range(n):
            wi = ids[i]
            if wi < 0:
                continue
            for o in offsets:
                j = i + o
                if 0 <= j < n and cids[j] >= 0:
                    M[wi, cids[j] * n_pos + pos_of[o]] += 1.0

    # PPMI with context-distribution smoothing
    total = M.sum()
    pw = M.sum(axis=1, keepdims=True) / total
    pc = M.sum(axis=0, keepdims=True)
    pc = pc ** ALPHA
    pc = pc / pc.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log((M / total) / (pw @ pc))
    pmi[~np.isfinite(pmi)] = 0.0
    np.maximum(pmi, 0.0, out=pmi)

    # truncated SVD via the context Gram matrix (C x C eigh)
    G = (pmi.T @ pmi).astype(np.float64)
    evals, evecs = np.linalg.eigh(G)
    top = np.argsort(evals)[::-1][:DIM]
    evals, evecs = evals[top], evecs[:, top]
    # deterministic sign convention
    for d in range(DIM):
        a = int(np.abs(evecs[:, d]).argmax())
        if evecs[a, d] < 0:
            evecs[:, d] = -evecs[:, d]
    sig = np.sqrt(np.maximum(evals, 1e-12))       # singular values
    vecs = (pmi @ evecs) / np.sqrt(sig)[None, :]  # U·Σ^0.5
    nrm = np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = (vecs / np.maximum(nrm, 1e-12)).astype(np.float32)

    cls_fine = kmeans(vecs, K_FINE, SEED)
    cls_coarse = kmeans(vecs, K_COARSE, SEED + 1)
    return {
        "vocab": np.array(vocab),
        "vecs": vecs,
        "cls_fine": cls_fine.astype(np.int32),
        "cls_coarse": cls_coarse.astype(np.int32),
    }


def main() -> None:  # pragma: no cover - CLI entry
    from ..session import get_spark

    spark = get_spark("train-word-classes", master="local[16]",
                      shuffle_partitions=16)
    sents = corpus_sentences(spark)
    spark.stop()
    arrays = fit(sents)
    path = save(arrays, ARTIFACT)
    print(f"wrote {path} ({os.path.getsize(path) / 1e6:.1f} MB)")

    # neighbor sanity probe on security vocabulary
    wc = from_arrays(arrays)
    for probe in ("stole", "ransomware", "vulnerability", "patched",
                  "phishing", "microsoft"):
        i = wc.row(probe)
        if i < 0:
            print(f"  {probe}: OOV")
            continue
        sims = wc.vecs @ wc.vecs[i]
        near = np.argsort(-sims)[1:7]
        print(f"  {probe}: " + ", ".join(
            f"{wc.vocab[j]}({sims[j]:.2f})" for j in near))


if __name__ == "__main__":
    main()
