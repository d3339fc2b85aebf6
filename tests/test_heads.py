"""Gates for operators/heads.py, the one averaged-perceptron kernel,
logits gather and artifact loader behind every learned head.

The expected sha256 digests were computed with the per-head trainers,
gathers and loaders that heads.py replaced (train_roles.train_role_head,
train_begin.train_begin_head, train_realis.train_realis_head with a
ragged context, train_tagger._train_head, their ``_logits`` /
``_ctx_logits`` gathers and the seven per-module cached loaders), on
the seeded synthetic features built here and on the committed
artifacts.  A digest covers every array's dtype, shape and bytes, so a
match means bit-identical tables, scores and loaded weights.
"""

from __future__ import annotations

import dataclasses
import hashlib
import re

import numpy as np
import pytest

from casie_spark.operators import heads
from casie_spark.operators.begin_repair import BEGIN_ARTIFACT, load_begin_weights
from casie_spark.operators.coref import COREF_ARTIFACT, load_coref_weights
from casie_spark.operators.linker import LINKER_ARTIFACT, load_linker_weights
from casie_spark.operators.model_tagger import (
    _GATHER_KEYS,
    ARTIFACT_PATH,
    BIGRAM_SIZE,
    CNG_SIZE,
    N_SHAPES,
    TRIGRAM_SIZE,
    VOCAB_SIZE,
    load_weights,
)
from casie_spark.operators.realis import load_realis_weights
from casie_spark.operators.roles import load_role_weights
from casie_spark.operators.train_begin import _KEYS as BEGIN_KEYS
from casie_spark.operators.train_realis import _KEYS as REALIS_KEYS
from casie_spark.operators.train_realis import REALIS_ARTIFACT
from casie_spark.operators.train_roles import _KEYS as ROLE_KEYS
from casie_spark.operators.train_roles import N_PAIRS, ROLE_ARTIFACT
from casie_spark.operators.train_tagger import _train_head
from casie_spark.operators.word_classes import ARTIFACT as WC_ARTIFACT
from casie_spark.operators.word_classes import load_word_classes

PARENT = {
    "train:roles":
        "467ca08c594a5d4f23b618476b250b59d58e577186b86604b52c14e2d985d390",
    "train:begin":
        "5eb698d932e281deaaad25dfd4dca87811768874e103cec2e4ce117d9fcfd2d9",
    "train:realis":
        "83270c42e89236a54fab3f2f141c7bae6566448d3ccc228c28f9bb00c6deb760",
    "train:tagger":
        "b7ccc447c6e803671d6e5ceed3678d147883d7d55d42ce9a39b8c59bb4c53639",
    "load:tagger_weights":
        "04ae4bb8a9ef7efa41b308e01e7498e6537985e51047382f2e5d5a05c7e1233d",
    "load:begin_weights":
        "d623096b288d75805ec563b907e4470b092ae7c3162d0fc327938e53f22ff13c",
    "load:linker_weights":
        "9883247f7e3c65747fc25849f7d48a62995d75850cae54c736b5ee7f52f4d70c",
    "load:role_weights":
        "e3540cc3912d33379da3e0c15df5c94eff644a574b7d85aea8fc161a1a712f0a",
    "load:realis_weights":
        "32116c89f1e488a201c0602e2d1d52a160b4d7111ea8b057dd7a88e4597fc615",
    "load:coref_weights":
        "8047f6b50fc6476578e6bfc8f618600d8d389e3965d7b503c6708f41746511b6",
    "load:word_classes":
        "a122a6d254fe8297875cca8f8f87e834ea52c3a9d1735cbb6020718d1660654e",
    "logits:roles":
        "7e4939f199d558a674fb7a069d587d5e5a3b806d9ebf9e247d66d74e573dc8e4",
    "logits:realis":
        "2876f6b535491fe49e2dd89f3bccb53faf610f492bc4ff745b6f9eb250f3d565",
    "logits:begin":
        "422c72be0cf7f6208aaca164d9d5d19bb2d73708a9148e3752205b8cc22c4f98",
    "logits:tagger":
        "39db8ffa1396e83b9617beecd7c723651200fb32bfb4899cdbbbde8387bdb5e5",
}

# name -> (loader, committed artifact)
LOADERS = {
    "tagger_weights": (load_weights, ARTIFACT_PATH),
    "begin_weights": (load_begin_weights, BEGIN_ARTIFACT),
    "linker_weights": (load_linker_weights, LINKER_ARTIFACT),
    "role_weights": (load_role_weights, ROLE_ARTIFACT),
    "realis_weights": (load_realis_weights, REALIS_ARTIFACT),
    "coref_weights": (load_coref_weights, COREF_ARTIFACT),
    "word_classes": (load_word_classes, WC_ARTIFACT),
}


def digest(obj) -> str:
    """sha256 over a nested structure of arrays (dtype, shape, bytes),
    dataclasses, dicts (sorted keys), sequences and scalars."""
    h = hashlib.sha256()

    def walk(x):
        if isinstance(x, np.ndarray):
            h.update(f"nd|{x.dtype.str}|{x.shape}|".encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif dataclasses.is_dataclass(x):
            h.update(f"dc|{type(x).__name__}|".encode())
            for fld in dataclasses.fields(x):
                h.update(f"{fld.name}=".encode())
                walk(getattr(x, fld.name))
        elif isinstance(x, dict):
            h.update(b"dict|")
            for k in sorted(x):
                h.update(f"{k}=".encode())
                walk(x[k])
        elif isinstance(x, (list, tuple)):
            h.update(f"seq|{len(x)}|".encode())
            for v in x:
                walk(v)
        else:
            h.update(f"{type(x).__name__}|{x!r}|".encode())

    walk(obj)
    return h.hexdigest()


def _zipf_ids(rng, n, size, lo=2):
    return lo + (rng.zipf(1.3, n) % (size - lo)).astype(np.int64)


@pytest.fixture(scope="module")
def synth():
    """Seeded Zipfian features for every head spec (the draw order is
    part of the recorded digests)."""
    n = 3000
    rng = np.random.default_rng(0)
    out = {}
    out["roles"] = ({"pair": rng.integers(0, N_PAIRS, n),
                     "head": _zipf_ids(rng, n, VOCAB_SIZE),
                     "first": _zipf_ids(rng, n, VOCAB_SIZE)},
                    rng.integers(0, 7, n), 7)
    fb = {k: (rng.integers(0, N_SHAPES, n) if k == "sh_p1"
              else _zipf_ids(rng, n, VOCAB_SIZE)) for k in BEGIN_KEYS}
    out["begin"] = (fb, rng.integers(0, 4, n), 4)
    # realis: ragged context word lists (some empty) as a PAD=0 bag
    trig = _zipf_ids(rng, n, VOCAB_SIZE)
    lens = rng.integers(0, 16, n)
    ctx = [list(_zipf_ids(rng, int(m), VOCAB_SIZE)) for m in lens]
    bag = np.zeros((n, max(lens)), np.int64)
    for i, c in enumerate(ctx):
        bag[i, :len(c)] = c
    out["realis"] = ({"trig": trig, "ctx": bag}, rng.integers(0, 4, n), 4)
    ft = {}
    for k, size in (("t0", VOCAB_SIZE), ("s0", VOCAB_SIZE),
                    ("tm1", VOCAB_SIZE), ("tp1", VOCAB_SIZE),
                    ("b1", BIGRAM_SIZE), ("b2", BIGRAM_SIZE),
                    ("tri", TRIGRAM_SIZE), ("pf3", VOCAB_SIZE),
                    ("sf3", VOCAB_SIZE), ("sf4", VOCAB_SIZE)):
        ft[k] = _zipf_ids(rng, n, size)
    ft["sh"] = rng.integers(0, N_SHAPES, n)
    cng = _zipf_ids(rng, n * 6, CNG_SIZE).reshape(n, 6)
    cng[rng.random((n, 6)) < 0.4] = 0
    ft["cng"] = cng
    # skewed labels: class 0 dominates like the O class
    yt = np.where(rng.random(n) < 0.7, 0, rng.integers(1, 6, n))
    out["tagger"] = (ft, yt, 6)
    return out


def _train(head, f, y, n):
    if head == "roles":
        shapes = {"pair": (N_PAIRS, n), "head": (VOCAB_SIZE, n),
                  "first": (VOCAB_SIZE, n), "b": (n,)}
        return heads.train_averaged_perceptron(shapes, f, y, 20260818, 0.0)
    if head == "begin":
        shapes = {k: ((N_SHAPES if k == "sh_p1" else VOCAB_SIZE), n)
                  for k in BEGIN_KEYS}
        shapes["b"] = (n,)
        return heads.train_averaged_perceptron(shapes, f, y, 20260819, 0.0)
    if head == "realis":
        shapes = {"trig": (VOCAB_SIZE, n), "ctx": (VOCAB_SIZE, n),
                  "b": (n,)}
        return heads.train_averaged_perceptron(shapes, f, y, 20260819, 0.0)
    # tagger: class weights, word dropout and a bag table
    return _train_head(f, y, n, 7, word_dropout=0.1)


@pytest.mark.parametrize("head", ["roles", "begin", "realis", "tagger"])
def test_kernel_reproduces_parent_tables(synth, head):
    f, y, n = synth[head]
    assert digest(_train(head, f, y, n)) == PARENT[f"train:{head}"]


@pytest.mark.parametrize("name", sorted(LOADERS))
def test_loader_reproduces_parent_arrays(name):
    loader, _ = LOADERS[name]
    assert digest(loader()) == PARENT[f"load:{name}"]


def test_logits_reproduce_parent_gathers(synth):
    f = dict(synth["roles"][0])
    f["pair"] = f["pair"] % len(load_role_weights()[0]["pair"])
    got = heads.logits(load_role_weights()[0], f, ROLE_KEYS)
    assert digest(got) == PARENT["logits:roles"]
    got = heads.logits(load_realis_weights()[0], synth["realis"][0],
                       REALIS_KEYS)
    assert digest(got) == PARENT["logits:realis"]
    bw = load_begin_weights()
    got = [heads.logits(bw[h], synth["begin"][0], BEGIN_KEYS, np.float64)
           for h in sorted(bw)]
    assert digest(got) == PARENT["logits:begin"]
    tw = load_weights()
    f = synth["tagger"][0]
    got = [heads.logits(tw.trig_ctx, f, _GATHER_KEYS),
           heads.logits(tw.arg_ctx, f, _GATHER_KEYS)]
    assert digest(got) == PARENT["logits:tagger"]


@pytest.mark.parametrize("name", sorted(LOADERS))
def test_missing_artifact_not_cached_then_saved_is_loaded(tmp_path, name):
    loader, committed = LOADERS[name]
    p = str(tmp_path / f"{name}.npz")
    missing = loader(p)
    if name == "tagger_weights":
        # the tagger serves its rule-distilled weights instead of None
        assert missing.trig_ctx is None
    else:
        assert missing is None
    with np.load(committed) as z:
        heads.save(dict(z), p)
    first = loader(p)
    assert digest(first) == PARENT[f"load:{name}"]
    assert loader(p) is first  # cached
    heads.invalidate(p)
    assert loader(p) is not first


@pytest.mark.parametrize("loader, committed, key, expected", [
    (load_linker_weights, LINKER_ARTIFACT, "w_base", 13),
    (load_coref_weights, COREF_ARTIFACT, "w", 9),
])
def test_wrong_width_artifact_warns_and_falls_back(tmp_path, loader,
                                                   committed, key, expected):
    p = str(tmp_path / "stale.npz")
    with np.load(committed) as z:
        arrays = dict(z)
    arrays[key] = arrays[key][:-1]
    heads.save(arrays, p)
    msg = (f"{re.escape(p)}.*width {expected - 1}, "
           f"expected {expected}")
    with pytest.warns(UserWarning, match=msg):
        assert loader(p) is None


def test_realis_context_is_a_padded_bag():
    from casie_spark.operators.model_tagger import token_id
    from casie_spark.operators.train_realis import realis_features

    ctxs = [["was", "Hacked"], None, np.array(["x"], dtype=object)]
    f = realis_features(["the breach", "", "attack"], ctxs)
    assert f["trig"].tolist() == [token_id("breach"), 0, token_id("attack")]
    assert f["ctx"].tolist() == [[token_id("was"), token_id("Hacked")],
                                 [0, 0], [token_id("x"), 0]]
