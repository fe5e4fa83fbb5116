"""Admission control for the native Iceberg streaming sources
(``max_files_per_microbatch``): file-granular offsets, bounded
micro-batches, exact mid-snapshot replay. The Python DataSource API has
no engine-pushed ReadLimit, so the bound lives in the source — these
tests pin both the pure planning math and the end-to-end drain."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable
from iceberg_examples_spark.sources.iceberg_stream_source import (
    IcebergNativeBulkStreamSource,
    IcebergNativeStreamSource,
    _admission_sink,
    _advance_position,
    _files_between_positions,
    _lineage,
    _pos,
    _read_meta,
)


@pytest.fixture()
def table_3_commits(spark, tmp_path):
    """seq 1: 3 files, seq 2: 2 files, seq 3: 4 files — 9 files, 90
    rows (10 per file via repartition on a distinct key range)."""
    loc = str(tmp_path / "t")

    def mk(lo, hi, nfiles):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "k long, v double"
        ).repartition(nfiles)

    t = IcebergNativeTable.create(spark, loc, mk(0, 30, 3))
    t.append(mk(30, 50, 2))
    t.append(mk(50, 90, 4))
    return t


def test_advance_position_math(table_3_commits):
    t = table_3_commits
    chain = _lineage(_read_meta(t.location))
    # from zero, budget 2: lands mid-snapshot-1
    assert _advance_position(chain, (0, float("inf")), 2, False) == {
        "seq": 1,
        "nfiles": 2,
    }
    # finishing a snapshot exactly canonicalizes to the legacy shape
    assert _advance_position(chain, (1, 2.0), 1, False) == {"seq": 1}
    # budget spans snapshots: 1 left in seq1 + 2 in seq2 + 1 into seq3
    assert _advance_position(chain, (1, 2.0), 4, False) == {
        "seq": 3,
        "nfiles": 1,
    }
    # unbounded-size budget clamps to the tip, canonical form
    assert _advance_position(chain, (0, float("inf")), 999, False) == {
        "seq": 3
    }
    # caught up: stays put, stable serialization
    assert _advance_position(chain, (3, float("inf")), 2, False) == {
        "seq": 3
    }


def test_files_between_positions_partitions_cleanly(table_3_commits):
    """Walking the whole stream in budget-2 steps visits every file
    exactly once, in plan order."""
    t = table_3_commits
    chain = _lineage(_read_meta(t.location))
    full = _files_between_positions(chain, {"seq": 0}, {"seq": 3}, False)
    assert len(full) == 9
    pos, seen = {"seq": 0}, []
    for _ in range(10):
        nxt = _advance_position(chain, _pos(pos), 2, False)
        if nxt == pos:
            break
        seen.extend(_files_between_positions(chain, pos, nxt, False))
        pos = nxt
    assert seen == full
    assert pos == {"seq": 3}


def _register(spark, source):
    try:
        spark.dataSource.register(source)
    except Exception as e:
        if "already" not in str(e).lower():
            raise


def test_simple_reader_bounded_drain_exact(
    spark, tmp_path, table_3_commits
):
    """Simple reader: admission is exact across restarts (read() gets
    the checkpointed start). Drain the 9-file table with bound 2: every
    micro-batch carries at most 2 files' rows, the union is exact, and
    at least 5 batches were needed — the bound sliced the backlog even
    though each availableNow start is a fresh run."""
    _register(spark, IcebergNativeStreamSource)
    out_counts = []
    rows = set()

    def sink(b, _epoch):
        got = [r["k"] for r in b.select("k").collect()]
        if got:
            out_counts.append(len(got))
            rows.update(got)

    ckpt = str(tmp_path / "ckpt_simple")
    for _ in range(12):  # single-batch fallback: re-drain to exhaustion
        q = (
            spark.readStream.format("icebergnative_stream")
            .option("path", table_3_commits.location)
            .option("max_files_per_microbatch", "2")
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        q.awaitTermination()
        if len(rows) == 90:
            break
    assert rows == set(range(90))
    # the bound is on FILES (2/batch); rows per file vary slightly with
    # repartition's distribution, so cap at 2 x the largest file
    _, _, data, _, _ = table_3_commits._plan()
    max_file_rows = max(d["record_count"] for d in data)
    assert max(out_counts) <= 2 * max_file_rows, out_counts
    assert len(out_counts) >= 5, out_counts
    # a fresh drain on the caught-up checkpoint emits nothing
    before = len(out_counts)
    q = (
        spark.readStream.format("icebergnative_stream")
        .option("path", table_3_commits.location)
        .option("max_files_per_microbatch", "2")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    assert len(out_counts) == before


def test_bulk_reader_bounds_after_first_batch(spark, tmp_path):
    """Bulk reader: the engine's first call each run is latestOffset
    with no floor, so batch 1 is unbounded by design; from batch 2 on,
    the ratcheted floor bounds every micro-batch. A long-running
    processingTime stream over a table that grows 6 files after start
    must consume the growth in >= 3 bounded batches of <= 2 files."""
    import time

    _register(spark, IcebergNativeBulkStreamSource)
    loc = str(tmp_path / "t")

    def mk(lo, hi, nfiles):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "k long, v double"
        ).repartition(nfiles)

    t = IcebergNativeTable.create(spark, loc, mk(0, 10, 1))
    batches = []
    rows = set()

    def sink(b, _epoch):
        got = [r["k"] for r in b.select("k").collect()]
        if got:
            batches.append(len(got))
            rows.update(got)

    q = (
        spark.readStream.format("icebergnative_stream_bulk")
        .option("path", loc)
        .option("max_files_per_microbatch", "2")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bulk"))
        .trigger(processingTime="250 milliseconds")
        .foreachBatch(sink)
        .start()
    )
    try:
        deadline = time.time() + 60
        while len(rows) < 10 and time.time() < deadline:
            time.sleep(0.25)
        assert rows == set(range(10)), "initial commit not drained"
        # grow the table by 6 files across two commits while running
        t.append(mk(10, 40, 3))
        t.append(mk(40, 70, 3))
        while len(rows) < 70 and time.time() < deadline:
            time.sleep(0.25)
    finally:
        q.stop()
    assert rows == set(range(70))
    # growth batches (everything after the first) are file-bounded
    _, _, data, _, _ = t._plan()
    max_file_rows = max(d["record_count"] for d in data)
    growth = batches[1:]
    assert len(growth) >= 3, batches
    assert all(n <= 2 * max_file_rows for n in growth), batches


def test_max_files_option_validation():
    """'0'/negatives/garbage must raise, not silently unbound (r11
    ADVICE: truthiness-gating made '0' mean 'no limit')."""
    from iceberg_examples_spark.sources.iceberg_stream_source import (
        _parse_max_files,
    )

    assert _parse_max_files({}) is None
    assert _parse_max_files({"max_files_per_microbatch": "2"}) == 2
    for bad in ("0", "-3", "x", ""):
        with pytest.raises(ValueError, match="max_files_per_microbatch"):
            _parse_max_files({"max_files_per_microbatch": bad})


def test_bulk_reader_admission_channel_exact(
    spark, tmp_path, table_3_commits
):
    """The bulk twin of the simple reader's exact-admission drain:
    with ``admission_channel`` (seeded at {"seq": 0} the way an
    operator provisions it), EVERY micro-batch — including the first
    of every availableNow run — admits at most 2 files, the drained
    union is exact, and the caught-up checkpoint re-drain emits
    nothing."""
    import json as _json

    _register(spark, IcebergNativeBulkStreamSource)
    t = table_3_commits
    channel = str(tmp_path / "admission.offset")
    with open(channel, "w") as f:
        _json.dump({"seq": 0}, f)
    out_counts = []
    rows = set()

    def sink(b, _epoch):
        got = [r["k"] for r in b.select("k").collect()]
        if got:
            out_counts.append(len(got))
            rows.update(got)

    ckpt = str(tmp_path / "ckpt_bulk_channel")

    def drain():
        q = (
            spark.readStream.format("icebergnative_stream_bulk")
            .option("path", t.location)
            .option("max_files_per_microbatch", "2")
            .option("admission_channel", channel)
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        q.awaitTermination()

    for _ in range(12):
        before = len(out_counts)
        drain()
        if len(out_counts) == before:
            break
    assert rows == set(range(90))
    _, _, data, _, _ = t._plan()
    max_file_rows = max(d["record_count"] for d in data)
    assert all(n <= 2 * max_file_rows for n in out_counts), out_counts
    assert len(out_counts) >= 5, out_counts
    # channel converged on the tip, canonical legacy shape
    with open(channel) as f:
        assert _json.load(f) == {"seq": 3}


def test_admission_sink_counts_a_replayed_epoch_once(spark, tmp_path):
    """A retried non-empty epoch re-runs the foreachBatch sink with the
    SAME epoch id; the admission scenarios' ``n_batches`` must count it
    once (it used to increment on every invocation). The replay is
    Spark's own: drop the commit-log entry of batch 0 and restart, so
    the query re-runs epoch 0 from its logged offsets."""
    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "k long, v double"
    ).coalesce(1).write.parquet(str(src))
    ckpt = str(tmp_path / "ckpt")
    sink, nonempty = _admission_sink(str(tmp_path / "out"))
    calls = []

    def recording_sink(b, epoch):
        calls.append(epoch)
        sink(b, epoch)

    def drain():
        (
            spark.readStream.schema("k long, v double")
            .parquet(str(src))
            .writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(recording_sink)
            .start()
            .awaitTermination()
        )

    drain()
    for n in ("0", ".0.crc"):  # the entry and its checksum sidecar
        os.unlink(os.path.join(ckpt, "commits", n))
    drain()  # Spark replays epoch 0
    assert calls == [0, 0]
    assert nonempty == {0}
    rows = spark.read.parquet(str(tmp_path / "out" / "b0")).count()
    assert rows == 6  # the replay overwrote, it did not append
