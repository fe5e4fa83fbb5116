"""``scripts/rotation.py --write``: the registry re-sort is a pure
permutation of the QUERIES entry lines, regrouped under per-round headers."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.rotation import rewrite_registry  # noqa: E402

SRC = '''HEAD = 1
QUERIES: dict[str, QueryFn] = {
    # ----- latest green driver row: r1 -----
    "a": M.a,
    "b": M.b,
    # ----- latest green driver row: r2 -----
    "c": M.c,
}

TAIL = 2
'''


def test_rewrite_reorders_and_regroups():
    out = rewrite_registry(SRC, ["c", "b", "a"], {"a": 3, "b": 3})
    assert out == '''HEAD = 1
QUERIES: dict[str, QueryFn] = {
    # ----- never attested -----
    "c": M.c,
    # ----- latest green driver row: r3 -----
    "b": M.b,
    "a": M.a,
}

TAIL = 2
'''
    # idempotent once in order
    assert rewrite_registry(out, ["c", "b", "a"], {"a": 3, "b": 3}) == out


def test_rewrite_refuses_non_permutations_and_foreign_lines():
    with pytest.raises(ValueError, match="permutation"):
        rewrite_registry(SRC, ["a", "b"], {})
    odd = SRC.replace('    "c": M.c,\n', '    "c": M.c,\n    # a note\n')
    with pytest.raises(ValueError, match="unexpected line"):
        rewrite_registry(odd, ["a", "b", "c"], {})


def test_committed_registry_is_a_fixed_point():
    from iceberg_examples_spark.registry import QUERIES
    from scripts.rotation import REGISTRY, expected_order, latest_green_round

    with open(REGISTRY) as f:
        text = f.read()
    names = list(QUERIES)
    assert rewrite_registry(text, expected_order(names), latest_green_round()) == text
