"""Scan planning cost: ``IcebergNativeTable.scan()`` builds its plan from
manifests without running a Spark job, and its per-file metadata maps
cost a number of JVM round trips that does not grow with the file count.

The inline literal-map fast path (``INLINE_FILE_MAP_MAX``) is pinned to
the general broadcast-join path by a differential test over a MOR table
with position deletes, an equality delete and row lineage.
"""

from __future__ import annotations

import datetime
import threading

import pytest
from py4j import clientserver, java_gateway
from pyspark.sql import functions as F

from iceberg_examples_spark.sources import iceberg_native as IN
from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_of_many_files_runs_no_spark_job(spark, tmp_path):
    """Past 32 paths Spark's stock conf lists a multi-path read with a
    Spark job of one task per file; the manifest already is the
    listing, so the session pins the threshold and scan() runs none."""
    months = [datetime.date(1995, m, 1) for m in range(1, 8)]

    def batch(b):
        return spark.createDataFrame(
            [(b * 100 + i, d, float(i)) for i, d in enumerate(months)],
            "k long, d date, v double",
        )

    t = IcebergNativeTable.create(
        spark, str(tmp_path / "t"), batch(0), partition_by=["month(d)"]
    )
    for b in range(1, 5):
        t.append(batch(b))
    paths = [d["path"] for d in t._plan()[2]]
    assert len(paths) == 35  # 5 appends x 7 month partitions

    df, jobs = _jobs_in(spark, "scan-plan", t.scan)
    assert jobs == [], f"scan() ran Spark jobs {jobs}"
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        map(tuple, spark.read.parquet(*paths).select("k", "d", "v").collect())
    )
    assert got == want and len(got) == 35


class _RoundTrips:
    """Counts py4j commands this thread sends to the JVM while active
    (py4j's garbage-collector thread releases Java references in the
    background; those commands are not the caller's)."""

    def __init__(self, monkeypatch):
        self.n = 0
        me = threading.get_ident()
        for cls in (
            clientserver.ClientServerConnection,
            java_gateway.GatewayConnection,
        ):
            orig = cls.send_command

            def counting(conn, command, _orig=orig):
                self.n += threading.get_ident() == me
                return _orig(conn, command)

            monkeypatch.setattr(cls, "send_command", counting)


def test_file_uri_memo_and_inline_map_lookups(spark, tmp_path, monkeypatch):
    t = IcebergNativeTable(spark, str(tmp_path / "t"))
    recs = [
        {"path": str(tmp_path / f"p {i}%.parquet"), "seq": i} for i in range(8)
    ]
    uri = t._file_uri(recs[5]["path"])
    rt = _RoundTrips(monkeypatch)
    assert t._file_uri(recs[5]["path"]) == uri
    assert rt.n == 0  # memoised: no JVM call
    monkeypatch.undo()
    probe = spark.createDataFrame([(uri,), ("file:/nope",)], "p string")

    def lookups(m):
        return [r[0] for r in probe.select(F.element_at(m, F.col("p"))).collect()]

    assert lookups(t._inline_file_map(recs, "seq")) == [5, None]
    assert lookups(t._inline_file_map([], "seq")) == [None, None]


@pytest.mark.parametrize("mor", [False, True])
def test_scan_round_trips_constant_in_file_count(
    spark, tmp_path, monkeypatch, mor
):
    """Two tables alike but for their data-file count (4 vs 40) plan a
    scan() in the same number of py4j round trips: path lists, file
    maps and URIs cost the JVM nothing per file once the path -> URI
    memo is warm."""

    def table(n):
        df = spark.createDataFrame(
            [(i, i % 5) for i in range(n * 3)], "k long, g long"
        )
        t = IcebergNativeTable.create(
            spark, str(tmp_path / f"t{n}"), df.repartition(n)
        )
        if mor:
            live = t.scan(with_coordinates=True)
            t.add_position_deletes(
                live.filter(F.col("k") % 4 == 0).select("file_path", "pos")
            )
            t.add_equality_deletes(
                spark.createDataFrame([(3,)], "g long"), ["g"]
            )
        assert len(t._plan()[2]) == n
        t.scan()  # warm the path -> URI memo
        return t

    small, large = table(4), table(40)
    rt = _RoundTrips(monkeypatch)
    counts = []
    for t in (small, large):
        rt.n = 0
        t.scan()
        counts.append(rt.n)
    assert counts[0] == counts[1], counts


@pytest.mark.parametrize("n_files", [1, 64, 65])
def test_inline_file_map_matches_broadcast_map(
    spark, tmp_path, monkeypatch, n_files
):
    """Differential: the literal-map fast path and the broadcast-join
    general path read identical rows — sequence gating for position
    and equality deletes, and ``_row_id``/last-updated lineage."""
    schema = "k long, g long, v double"
    first = max(n_files - 1, 1)
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(first * 4)], schema
    )
    t = IcebergNativeTable.create(
        spark, str(tmp_path / "t"), df.repartition(first)
    )
    live = t.scan(with_coordinates=True)
    t.add_position_deletes(  # v2 position-delete file, carried into v3
        live.filter(F.col("k") % 7 == 0).select("file_path", "pos")
    )
    t.upgrade_format_version(3)
    t.add_equality_deletes(spark.createDataFrame([(3,)], "g long"), ["g"])
    if n_files > 1:
        # committed after the equality delete: its g=3 row survives
        t.append(spark.createDataFrame([(10_000, 3, 0.0)], schema))
    assert len(t._plan()[2]) == n_files

    def read(inline_max):
        monkeypatch.setattr(IN, "INLINE_FILE_MAP_MAX", inline_max)
        d = t.scan(with_row_lineage=True)
        plan = d._jdf.queryExecution().optimizedPlan().toString()
        return sorted(map(tuple, d.collect())), plan

    inline, inline_plan = read(n_files)
    broadcast, broadcast_plan = read(0)
    assert "map(keys:" in inline_plan
    assert "map(keys:" not in broadcast_plan
    assert inline == broadcast
    keys = {r[0] for r in inline}
    assert (10_000 in keys) == (n_files > 1)
    assert keys - {10_000} == {
        k for k in range(first * 4) if k % 7 and k % 5 != 3
    }
