"""Stream ingest: two long-running queries over one native table.

The ingest query reads a landing-zone parquet source and commits each
micro-batch with ``IcebergNativeTable.append`` from ``foreachBatch``,
skipping an epoch whose id a snapshot summary already records.  The tail
query reads the same table through ``icebergnative_stream``.  One op lands
one seeded event file and drains both queries with
``processAllAvailable()``; it counts as a write.
"""

from __future__ import annotations

import os
import threading

from perfbench import gen
from perfbench.harness import Bench, Op
from perfbench.tables import TableDir

EVENT_ROWS = 500
EPOCH_KEY = "perfbench-epoch"
SCHEMA = "event_id long, user_id long, event_type string, value double"


def _ms(progress: list, keys: tuple) -> float:
    return float(sum(p["durationMs"].get(k, 0) for p in progress for k in keys))


class StreamIngest:
    def __init__(self, bench: Bench, name: str = "events"):
        self.bench = bench
        self.spark = bench.spark
        self.root = os.path.join(bench.work, name)
        self.index = 0
        self.landed_rows = 0
        self.landed_value = 0.0
        self.submitted = 0
        self.tail_rows = 0
        self.tail_value = 0.0
        self._lock = threading.Lock()
        self.queries: list = []

    def start(self, tag: str) -> None:
        """Create the table and start both queries (one fixture build)."""
        from pyspark.sql import functions as F

        from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable
        from iceberg_examples_spark.sources.iceberg_stream_source import IcebergNativeStreamSource

        for q in self.queries:
            q.stop()
        spark = self.spark
        base = os.path.join(self.root, tag)
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing, exist_ok=True)
        empty = spark.createDataFrame([], SCHEMA)
        self.table = IcebergNativeTable.create(spark, os.path.join(base, "table"), empty)
        self.dir = TableDir(self.table)
        table = self.table
        b = self.bench

        def commit(batch_df, epoch_id: int) -> None:
            committed = {s["summary"].get(EPOCH_KEY) for s in table._metadata()["snapshots"]}
            if str(epoch_id) in committed:
                return  # a replayed epoch is already published
            b.layer(
                "iceberg_native.append",
                lambda: table.append(batch_df, summary={EPOCH_KEY: str(epoch_id)}),
            )

        def tail(batch_df, _epoch_id: int) -> None:
            n, v = batch_df.agg(F.count(F.lit(1)), F.sum("value")).first()
            with self._lock:
                self.tail_rows += n
                self.tail_value += v or 0.0

        try:
            spark.dataSource.register(IcebergNativeStreamSource)
        except Exception as e:  # registering twice in one session is benign
            if "already" not in str(e).lower():
                raise
        with b.tracer.span("stream.start"):
            ingest = (
                spark.readStream.schema(SCHEMA)
                .parquet(self.landing)
                .writeStream.option("checkpointLocation", os.path.join(base, "ckpt-ingest"))
                .foreachBatch(commit)
                .start()
            )
            tailq = (
                spark.readStream.format("icebergnative_stream")
                .option("path", table.location)
                .load()
                .writeStream.option("checkpointLocation", os.path.join(base, "ckpt-tail"))
                .foreachBatch(tail)
                .start()
            )
        self.queries = [ingest, tailq]
        ingest.processAllAvailable()
        tailq.processAllAvailable()
        self.landed_rows, self.landed_value = 0, 0.0
        with self._lock:
            self.tail_rows, self.tail_value = 0, 0.0

    def op(self) -> Op:
        self.index += 1
        ingest, tailq = self.queries
        b = self.bench
        batch = gen.events(self.bench.seed, self.index, EVENT_ROWS)
        staged = os.path.join(self.root, "staged", f"ev-{self.index:05d}.parquet")
        gen.write(batch, staged)
        self.submitted += os.path.getsize(staged)
        target = os.path.join(self.landing, os.path.basename(staged))
        last_batch = [q.lastProgress["batchId"] if q.lastProgress else -1 for q in self.queries]

        def body():
            os.replace(staged, target)
            with b.tracer.span("stream.ingest"):
                ingest.processAllAvailable()
            with b.tracer.span("iceberg_stream_source.tail"):
                tailq.processAllAvailable()

        value = float(sum(batch.column("value").to_pylist()))

        def check(_result):
            self.landed_rows += EVENT_ROWS
            self.landed_value += value
            with self._lock:
                got = (self.tail_rows, self.tail_value)
            if got[0] != self.landed_rows or abs(got[1] - self.landed_value) > 1e-6 * max(1.0, self.landed_value):
                raise AssertionError(
                    f"tail query saw {got} but {self.landed_rows, self.landed_value} landed"
                )

        def after(root):
            ip, tp = (
                [p for p in q.recentProgress if p["batchId"] > last]
                for q, last in zip(self.queries, last_batch)
            )
            for sp in self.bench.tracer.spans[root.id:]:
                if sp.name == "stream.ingest":
                    sp.counters.update(
                        trigger_ms=_ms(ip, ("triggerExecution",)),
                        add_batch_ms=_ms(ip, ("addBatch",)),
                        source_ms=_ms(ip, ("getBatch", "latestOffset")),
                        wal_ms=_ms(ip, ("walCommit", "commitOffsets")),
                    )
                elif sp.name == "iceberg_stream_source.tail":
                    sp.counters["trigger_ms"] = _ms(tp, ("triggerExecution",))

        return Op("stream_ingest", "write", EVENT_ROWS, body, check, (self.dir,), after)

    def finish_check(self) -> str:
        """The table must hold exactly the landed rows."""
        from pyspark.sql import functions as F

        n, v = self.table.scan().agg(F.count(F.lit(1)), F.sum("value")).first()
        if n != self.landed_rows or abs((v or 0.0) - self.landed_value) > 1e-6 * max(1.0, self.landed_value):
            return f"event table holds {(n, v)} but {(self.landed_rows, self.landed_value)} landed"
        return "ok"

