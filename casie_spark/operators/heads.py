"""The one implementation behind every learned summed-gather head.

The reference's neural heads ship without their weights
(.MISSING_LARGE_BLOBS), so each capability is recovered from the gold
corpus as a hashed summed-gather linear model: per-head logits are a
bias plus one row gathered from each feature table.  The tagger
(train_tagger), the edge-repair heads (train_begin), the role head
(train_roles) and the realis head (train_realis) differ only in their
feature tables, so they share:

- ``train_averaged_perceptron`` — the mini-batch averaged perceptron
  that fits every head (fixed seed and schedule: bit-reproducible
  artifacts);
- ``logits`` — the inference gather, one vectorized kernel per
  pandas_udf / mapInPandas batch;
- ``load`` / ``invalidate`` / ``save`` — the artifact cache and writer
  every loader and trainer goes through, including the linker (ranking
  perceptron), coref (logistic regression) and word classes (k-means),
  whose training algorithms stay their own.
"""

from __future__ import annotations

import os

import numpy as np

EPOCHS = 24
BATCH = 256          # small batches: less mini-batch staleness, more
                     # mistake-driven steps -> near-ceiling train fit
AVG_FROM = 20        # average the last epochs only (early epochs are
                     # still far from the solution and dilute the mean)


def train_averaged_perceptron(shapes: dict[str, tuple],
                              f: dict[str, np.ndarray], y: np.ndarray,
                              seed: int, class_weight_pow: float,
                              word_dropout: float = 0.0, lex: tuple = ()
                              ) -> dict[str, np.ndarray]:
    """Mini-batch AVERAGED PERCEPTRON over the summed-gather linear
    model: on each mistake, +w at the gold label row and -w at the
    predicted one, per feature table.  ``shapes`` maps each table key
    to its shape (``"b"``: the ``(n_labels,)`` bias); ``f`` maps each
    other key to its ids — ``(n,)`` for one row per example, a PAD=0
    ``(n, G)`` bag whose rows are summed (id 0 never receives an
    update, so its row stays zero).  Tables are gathered in ``shapes``
    order.

    w = inverse-class-frequency ** ``class_weight_pow`` relative to
    class 0 (the A1 class-frequency -> class-weights computation,
    reference role_phrase.py:270-281); 0 gives every class weight 1.0.
    Mistake-driven updates reach high accuracy on the near-separable
    memorization objective where plain SGD under-trains; per-epoch
    weight averaging gives the usual stability.

    ``word_dropout``: probability per (example, epoch) of treating the
    CURRENT token as unseen — the ``lex`` tables contribute nothing and
    receive no update for that example, so the score must come from
    the other rows (word dropout, Iyyer et al. 2015)."""
    rng = np.random.default_rng(seed)
    tables = {k: np.zeros(s, np.float32) for k, s in shapes.items()}
    avg = {k: np.zeros(s, np.float64) for k, s in shapes.items()}
    n = len(y)
    n_labels = shapes["b"][0]
    counts = np.bincount(y, minlength=n_labels).astype(np.float64)
    cw = (n / np.maximum(counts, 1.0)) ** class_weight_pow
    cw = (cw / cw[0]).astype(np.float32)  # class 0 has weight 1

    gather = tuple(k for k in shapes if k != "b")
    navg = 0
    for ep in range(EPOCHS):
        order = rng.permutation(n)
        dropped = (rng.random(n) < word_dropout) if word_dropout > 0 \
            else np.zeros(n, dtype=bool)
        for s in range(0, n, BATCH):
            idx = order[s:s + BATCH]
            keep = ~dropped[idx]
            scores = tables["b"][None, :].repeat(len(idx), axis=0)
            for k in gather:
                if f[k].ndim == 2:  # bag feature: sum the gathered rows
                    scores += tables[k][f[k][idx]].sum(axis=1)
                elif k in lex and word_dropout > 0:
                    scores += tables[k][f[k][idx]] * keep[:, None]
                else:
                    scores += tables[k][f[k][idx]]
            pred = scores.argmax(axis=1)
            mist = pred != y[idx]
            if mist.any():
                mi = idx[mist]
                pm = pred[mist]
                wts = cw[y[mi]]
                mkeep = keep[mist]
                for k in gather:
                    if f[k].ndim == 2:
                        ids = f[k][mi]                  # (m, G) with PAD=0
                        wb = wts[:, None] * (ids != 0)  # PAD rows get 0
                        np.add.at(tables[k], (ids, y[mi][:, None]), wb)
                        np.add.at(tables[k], (ids, pm[:, None]), -wb)
                    elif k in lex and word_dropout > 0:
                        mk, yk, pk, wk = (mi[mkeep], y[mi][mkeep],
                                          pm[mkeep], wts[mkeep])
                        np.add.at(tables[k], (f[k][mk], yk), wk)
                        np.add.at(tables[k], (f[k][mk], pk), -wk)
                    else:
                        np.add.at(tables[k], (f[k][mi], y[mi]), wts)
                        np.add.at(tables[k], (f[k][mi], pm), -wts)
                np.add.at(tables["b"], y[mi], wts)
                np.add.at(tables["b"], pm, -wts)
        if ep >= AVG_FROM:
            for k in tables:
                avg[k] += tables[k]
            navg += 1
    return {k: (avg[k] / max(navg, 1)).astype(np.float32) for k in tables}


def logits(tables: dict[str, np.ndarray], f: dict[str, np.ndarray],
           keys: tuple, dtype=np.float32) -> np.ndarray:
    """(n, n_labels) scores: the bias plus one gathered row per table,
    added in ``keys`` order (keys the head has no table for are
    skipped).  A bag feature (``(n, G)`` ids) adds its G rows one
    column at a time, the same left-to-right order as a per-sample
    scatter-add, so results do not depend on the bag width.

    ``dtype`` is the accumulator: float32 for the tagger, role and
    realis heads; float64 for the edge-repair heads, whose JVM-side
    scorer (begin_repair._with_shifts_jvm) must agree bit-for-bit with
    this one — float32 rows upcast exactly and a fixed left-to-right
    float64 sum is reproducible, including argmax ties."""
    n = len(next(iter(f.values())))
    out = tables["b"][None, :].astype(dtype).repeat(n, axis=0)
    for k in keys:
        if k not in tables:
            continue
        ids = f[k]
        if ids.ndim == 1:
            out += tables[k][ids]
        else:
            for j in range(ids.shape[1]):
                out += tables[k][ids[:, j]]
    return out


def unpack(arrays, prefix: str) -> dict[str, np.ndarray]:
    """``{key: float32 table}`` for every float array stored as
    ``<prefix>_<key>`` — one head's tables out of an artifact (label
    arrays are strings and stay behind)."""
    out = {}
    for k in arrays:
        if k.startswith(prefix + "_"):
            v = arrays[k]
            if v.dtype.kind == "f":
                out[k[len(prefix) + 1:]] = v.astype(np.float32)
    return out


_CACHE: dict[tuple, object] = {}


def load(path: str, parse):
    """``parse(arrays)`` of the npz artifact at ``path``, or None when
    it is absent.  The path goes through deploy.resolve_artifact (a
    ``--py-files`` zip deployment still finds the committed artifacts).
    Cached per (process, resolved path, parse); absence is never
    cached, so an artifact saved later is picked up."""
    from ..deploy import resolve_artifact

    p = resolve_artifact(path)
    key = (p, parse)
    if key in _CACHE:
        return _CACHE[key]
    if not os.path.exists(p):
        return None
    with np.load(p, allow_pickle=False) as z:
        out = parse(z)
    _CACHE[key] = out
    return out


def invalidate(path: str | None = None) -> None:
    """Drop the cached artifacts (all, or the ones at ``path``)."""
    if path is None:
        _CACHE.clear()
        return
    from ..deploy import resolve_artifact

    p = resolve_artifact(path)
    for key in [k for k in _CACHE if k[0] == p]:
        del _CACHE[key]


def save(arrays: dict[str, np.ndarray], path: str) -> str:
    """Write an artifact and drop any cached copy of the old one."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savez_compressed(path, **arrays)
    invalidate(path)
    return path
