"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, layers, stats  # noqa: E402
from perfbench.oracle import assert_same  # noqa: E402
from perfbench.trace import Span, coverage, self_time_by_name, self_times, union_length  # noqa: E402


def _digests(root: str) -> dict:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    gen.lake_inputs(os.path.join(root, "lake"), seed, 3, 300, 40)
    gen.curation_shard(root, seed, 0, 50)
    gen.write(gen.events(seed, 1, 20), os.path.join(root, "ev.parquet"))
    gen.write(gen.churn_orders(seed, 2, gen.np.arange(30), 40), os.path.join(root, "o.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert len(a) == 9 and a == b


def test_other_seed_gives_other_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 8)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


ROWS = [(1, "x", 0.1 + 0.2), (2, "y", 3.0), (2, "y", 3.0)]
COLS = ["k", "s", "v"]


def test_oracle_accepts_reordered_columns_rows_and_rounding():
    got = [(3.0, "y", 2), (0.30000000000000004, "x", 1), (3.0, "y", 2)]
    assert_same(["v", "s", "k"], got, COLS, [(1, "x", 0.3), (2, "y", 3.0), (2, "y", 3.0)])


@pytest.mark.parametrize(
    "perturbed",
    [
        [(1, "x", 0.3001), (2, "y", 3.0), (2, "y", 3.0)],  # value beyond tolerance
        [(1, "x", 0.3), (2, "y", 3.0)],  # a row missing
        [(1, "x", 0.3), (2, "y", 3.0), (2, "z", 3.0)],  # a duplicate changed
        [(1, "x", 0.3), (2, "y", 3.0), (2, "y", None)],  # a value nulled
    ],
)
def test_oracle_rejects_a_perturbed_result(perturbed):
    with pytest.raises(AssertionError):
        assert_same(COLS, perturbed, COLS, ROWS)


def test_oracle_rejects_other_columns():
    with pytest.raises(AssertionError):
        assert_same(["k", "s", "w"], ROWS, COLS, ROWS)


def test_tail_is_the_sample_with_ten_beyond_it():
    assert stats.tail(list(range(19))) is None
    pct, value = stats.tail([float(x) for x in range(20)])
    assert (pct, value) == (50.0, 9.0)
    pct, value = stats.tail([float(x) for x in reversed(range(100))])
    assert pct == 90.0 and value == 89.0
    assert sum(1 for x in range(100) if x > value) == stats.TAIL_BEYOND


def test_summarize_reports_no_tail_for_few_samples():
    s = stats.summarize([5.0, 1.0, 3.0])
    assert s == {"n": 3, "p50": 3.0, "tail": None, "tail_pct": None}


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5
    assert stats.percentile([4.0, 1.0], 100.0) == 4.0


def _span(sid, parent, name, start, end):
    s = Span(sid, parent, name, start)
    s.end = end
    return s


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_clipped_to_the_parent():
    spans = [
        _span(0, None, "op:q1", 0.0, 10.0),
        _span(1, 0, "iceberg_native.scan", 1.0, 3.0),
        _span(2, 0, "spark.exec", 2.0, 5.0),  # overlaps the scan
        _span(3, 0, "spark.exec", 8.0, 12.0),  # runs past its parent
        _span(4, 2, "catalyst.plan", 2.5, 3.5),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[2] == pytest.approx(3.0 - 1.0)
    assert selfs[4] == pytest.approx(1.0)
    assert coverage(spans) == {0: pytest.approx(0.6)}
    by_name = self_time_by_name(spans)
    assert by_name["spark.exec"] == pytest.approx(2.0 + 4.0)


def test_layer_metrics_cover_every_name_and_read_zero_when_unused():
    spans = [
        _span(0, None, "session.start", 0.0, 5.0),
        _span(1, None, "op:lookup", 10.0, 11.0),
        _span(2, 1, "iceberg_native.scan", 10.0, 10.25),
        _span(3, 1, "spark.exec", 10.3, 11.0),
    ]
    spans[3].counters.update(jobs=2, tasks=8)
    out = layers.compute(spans, {"data_files": 4}, {"coverage_min": 0.95})
    assert list(out) == list(layers.METRICS)
    assert out["session.start_s"] == 5.0
    assert out["iceberg_native.scan_ms.lookup"] == pytest.approx(250.0)
    assert out["spark.jobs"] == 2 and out["spark.tasks"] == 8
    assert out["iceberg_native.data_files"] == 4
    assert out["dedup.op_ms"] == 0.0


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == harness.E2E_UNITS
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert per_layer == {k: v[:2] for k, v in layers.METRICS.items()}
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
