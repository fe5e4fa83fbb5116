"""Per-layer metrics of a traced run, computed from its spans.

Each entry names the layer metric, its unit, the end-to-end metric it
should move and on which workloads, and how it is derived from the spans
of the measured ops.  Times are medians over the layer's calls; counts
and bytes are means per call; gauges are read once after the last op.
A layer a workload never calls reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.lake_read import SHAPES

COMMITS = (
    "iceberg_native.append",
    "iceberg_native.row_delta",
    "iceberg_native.delete_where",
    "iceberg_native.update_where",
    "iceberg_native.rewrite",
)
STATEMENTS = ("sql_merge.merge", "sql_merge.delete", "sql_merge.update")
OPERATORS = ("dedup", "similarity", "llm_quality", "text")

# name -> (unit, better, the end-to-end metric it should move, on which
# workload).  On lake, reads and stream ops set op_p50_ms and commits set
# op_tail_ms; curation never touches the iceberg_native, sql_merge or
# stream layers, so those must stay flat there.
METRICS: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s on both workloads"),
    "iceberg_native.scan_ms": ("ms", "lower", "op_p50_ms on lake; flat on curation"),
    "iceberg_native.scan_jobs": ("count", "lower", "op_p50_ms on lake"),
    "iceberg_native.scan_tasks": ("count", "lower", "op_p50_ms on lake"),
    "iceberg_native.files_read_ratio": ("ratio", "lower", "op_p50_ms on lake (pruned lookup, travel)"),
    "iceberg_native.data_files": ("count", "lower", "op_tail_ms on lake, space_amp"),
    "iceberg_native.delete_files": ("count", "lower", "op_tail_ms on lake, space_amp"),
    "iceberg_native.manifests": ("count", "lower", "op_tail_ms on lake, space_amp"),
    "iceberg_native.snapshots": ("count", "lower", "space_amp on lake"),
    "iceberg_native.append_ms": ("ms", "lower", "op_tail_ms on lake; op_p50_ms via stream ops"),
    "iceberg_native.row_delta_ms": ("ms", "lower", "op_tail_ms on lake"),
    "iceberg_native.delete_where_ms": ("ms", "lower", "op_tail_ms on lake"),
    "iceberg_native.update_where_ms": ("ms", "lower", "op_tail_ms on lake"),
    "iceberg_native.rewrite_ms": ("ms", "lower", "op_tail_ms on lake"),
    "iceberg_native.commit_jobs": ("count", "lower", "op_tail_ms on lake"),
    "iceberg_native.commit_tasks": ("count", "lower", "op_tail_ms on lake"),
    "iceberg_native.data_bytes_written": ("bytes", "lower", "write_amp on lake"),
    "iceberg_native.metadata_bytes_written": ("bytes", "lower", "write_amp on lake"),
    "iceberg_native.write_amp": ("ratio", "lower", "the report's write_amp on lake"),
    "iceberg_native.space_amp": ("ratio", "lower", "the report's space_amp on lake"),
    "sql_merge.statement_ms.merge": ("ms", "lower", "op_tail_ms on lake"),
    "sql_merge.statement_ms.delete": ("ms", "lower", "op_tail_ms on lake"),
    "sql_merge.statement_ms.update": ("ms", "lower", "op_tail_ms on lake"),
    "sql_merge.statement_jobs": ("count", "lower", "op_tail_ms on lake"),
    "catalyst.plan_ms": ("ms", "lower", "op_p50_ms on lake (q3) and curation"),
    "spark.exec_ms": ("ms", "lower", "op_p50_ms and rows_per_s on both workloads"),
    "spark.jobs": ("count", "lower", "op_p50_ms and rows_per_s on both workloads"),
    "spark.stages": ("count", "lower", "op_p50_ms and rows_per_s on both workloads"),
    "spark.tasks": ("count", "lower", "op_p50_ms and rows_per_s on both workloads"),
    "spark.shuffle_bytes": ("bytes", "lower", "rows_per_s on both workloads; peak_rss_mb"),
    "spark.scan_bytes": ("bytes", "lower", "rows_per_s on both workloads; peak_rss_mb"),
    "spark.peak_memory_bytes": ("bytes", "lower", "peak_rss_mb"),
    "dedup.op_ms": ("ms", "lower", "op_p50_ms on curation; flat on lake"),
    "similarity.op_ms": ("ms", "lower", "op_p50_ms on curation; flat on lake"),
    "llm_quality.op_ms": ("ms", "lower", "op_p50_ms on curation; flat on lake"),
    "text.op_ms": ("ms", "lower", "op_p50_ms on curation; flat on lake"),
    "python.worker_spawns": ("count", "lower", "op_tail_ms on curation and lake (bucket UDF)"),
    "stream.start_ms": ("ms", "lower", "setup_s on lake"),
    "stream.trigger_ms": ("ms", "lower", "op_p50_ms on lake (stream ops)"),
    "stream.add_batch_ms": ("ms", "lower", "op_p50_ms on lake (stream ops)"),
    "stream.source_ms": ("ms", "lower", "op_p50_ms on lake (stream ops)"),
    "stream.wal_ms": ("ms", "lower", "op_p50_ms on lake (stream ops)"),
    "iceberg_stream_source.trigger_ms": ("ms", "lower", "op_p50_ms on lake (stream ops)"),
    "trace.coverage_min": ("ratio", "higher", "share of each op's wall time inside layer spans"),
    "trace.op_p50_ms": ("ms", "lower", "tracing overhead against the untraced op_p50_ms"),
}
for _s in SHAPES:
    METRICS[f"iceberg_native.scan_ms.{_s}"] = ("ms", "lower", f"op_p50_ms on lake ({_s} reads)")
    METRICS[f"spark.exec_ms.{_s}"] = ("ms", "lower", f"op_p50_ms on lake ({_s} reads)")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def compute(spans, gauges: dict, extra: dict) -> dict:
    """{metric: value} for every entry of METRICS.

    ``gauges`` holds the table gauges read after the run; ``extra`` holds
    values measured outside spans (amplification, traced op latency,
    coverage)."""
    by_id = {s.id: s for s in spans}

    def root_of(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    measured = [s for s in spans if root_of(s).name.startswith("op:")]
    named: dict[str, list] = {}
    for s in measured:
        named.setdefault(s.name, []).append(s)

    def ms(name):
        return _median([s.duration * 1000.0 for s in named.get(name, [])])

    def mean_counter(names, key):
        return _mean([s.counters.get(key, 0) for n in names for s in named.get(n, [])])

    roots = [s for s in measured if s.parent is None]
    setup_named = {s.name: s for s in spans if s.parent is None}
    out = {
        "session.start_s": setup_named["session.start"].duration
        if "session.start" in setup_named
        else 0.0,
        "iceberg_native.scan_ms": ms("iceberg_native.scan"),
        "iceberg_native.scan_jobs": mean_counter(["iceberg_native.scan"], "jobs"),
        "iceberg_native.scan_tasks": mean_counter(["iceberg_native.scan"], "tasks"),
        "iceberg_native.files_read_ratio": _mean(
            [r.counters["files_read_ratio"] for r in roots if "files_read_ratio" in r.counters]
        ),
        "iceberg_native.commit_jobs": mean_counter(COMMITS, "jobs"),
        "iceberg_native.commit_tasks": mean_counter(COMMITS, "tasks"),
        "iceberg_native.data_bytes_written": _mean(
            [r.counters["data_bytes_written"] for r in roots if "data_bytes_written" in r.counters]
        ),
        "iceberg_native.metadata_bytes_written": _mean(
            [r.counters["metadata_bytes_written"] for r in roots if "metadata_bytes_written" in r.counters]
        ),
        "sql_merge.statement_jobs": mean_counter(STATEMENTS, "jobs"),
        "catalyst.plan_ms": ms("catalyst.plan"),
        "spark.exec_ms": ms("spark.exec"),
        "python.worker_spawns": _mean([r.counters.get("python_worker_spawns", 0) for r in roots]),
    }
    for c in COMMITS:
        out[c + "_ms"] = ms(c)
    for st in STATEMENTS:
        out["sql_merge.statement_ms." + st.split(".")[1]] = ms(st)
    for key in ("jobs", "stages", "tasks", "shuffle_bytes", "scan_bytes", "peak_memory_bytes"):
        out["spark." + key] = mean_counter(["spark.exec"], key)
    for mod in OPERATORS:
        out[f"{mod}.op_ms"] = ms(f"{mod}.op")
    for g in ("data_files", "delete_files", "manifests", "snapshots"):
        out["iceberg_native." + g] = gauges.get(g, 0)
    out["stream.start_ms"] = _median(
        [s.duration * 1000.0 for s in spans if s.name == "stream.start"]
    )
    for key in ("trigger_ms", "add_batch_ms", "source_ms", "wal_ms"):
        out["stream." + key] = mean_counter(["stream.ingest"], key)
    out["iceberg_stream_source.trigger_ms"] = mean_counter(["iceberg_stream_source.tail"], "trigger_ms")

    # per read shape: the op's total time inside scan() and inside the action
    for shape in SHAPES:
        ops = [r for r in roots if r.name == f"op:{shape}"]
        for metric, layer in (("iceberg_native.scan_ms", "iceberg_native.scan"), ("spark.exec_ms", "spark.exec")):
            out[f"{metric}.{shape}"] = _median([
                1000.0 * sum(s.duration for s in measured if s.name == layer and root_of(s) is r)
                for r in ops
            ])
    out["iceberg_native.write_amp"] = extra.get("write_amp") or 0.0
    out["iceberg_native.space_amp"] = extra.get("space_amp") or 0.0
    out["trace.coverage_min"] = extra.get("coverage_min") or 0.0
    out["trace.op_p50_ms"] = extra.get("op_p50_ms") or 0.0
    missing = set(METRICS) - set(out)
    if missing:
        raise KeyError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: out[k] for k in METRICS}
