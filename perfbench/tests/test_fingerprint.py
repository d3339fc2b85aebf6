"""The cross-run fingerprint check: the first run of a workload and seed
stores its fingerprint, and a later run with another one fails.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def test_later_run_with_other_fingerprint_fails(tmp_path):
    base = str(tmp_path)
    assert run.stored_fingerprint_error(base, "kg_model", 7, "aaaa") is None
    assert run.stored_fingerprint_error(base, "kg_model", 7, "aaaa") is None
    err = run.stored_fingerprint_error(base, "kg_model", 7, "bbbb")
    assert err is not None and "aaaa" in err and "bbbb" in err
    # another seed or workload has its own stored fingerprint
    assert run.stored_fingerprint_error(base, "kg_model", 8, "bbbb") is None
    assert run.stored_fingerprint_error(base, "kg_graph", 7, "bbbb") is None
