"""Mutation part of the lake workload: commits on a native orders table
partitioned by ``bucket(o_custkey, 8)``, checked against a DuckDB mirror
that applies every op.

The commits run in a fixed order (``COMMITS``): an append, a
``row_delta`` upsert, merge-on-read ``delete_where`` and
``update_where``, a rewrite (``rewrite_position_deletes`` and
``rewrite_data_files`` in turn), and copy-on-write SQL ``MERGE INTO`` /
``DELETE FROM`` / ``UPDATE`` through ``sql_merge.execute_statement`` on
``IcebergNativeSqlTable``.  Keys and literals are seeded; the order is
fixed so every seed builds the same kind of delete debt.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import gen
from perfbench.harness import Bench, Op
from perfbench.oracle import assert_same, check_df_rows, connect
from perfbench.tables import TableDir

N_BASE = 4000
N_CUSTOMERS = 600
APPEND_ROWS = 200
UPSERT_ROWS = 100
MERGE_ROWS = 50
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
COMMITS = (
    "append", "row_delta", "delete_where", "update_where",
    "rewrite", "sql_merge", "sql_delete", "sql_update",
)


class LakeChurn:
    def __init__(self, bench: Bench):
        self.bench = bench
        self.spark = bench.spark
        self.inputs = os.path.join(bench.work, "inputs")
        self.con = connect()
        self.next_key = N_BASE
        self.batch = 0
        self.rewrites = 0
        self.submitted = 0  # bytes of batches submitted by measured ops
        self.base = os.path.join(self.inputs, "base.parquet")
        gen.write(gen.churn_orders(bench.seed, 0, np.arange(N_BASE), N_CUSTOMERS), self.base)
        self.con.execute(f"CREATE TABLE m AS SELECT * FROM '{self.base}'")

    def _batch_file(self, keys: np.ndarray) -> str:
        self.batch += 1
        path = os.path.join(self.inputs, f"batch-{self.batch:05d}.parquet")
        gen.write(gen.churn_orders(self.bench.seed, self.batch, keys, N_CUSTOMERS), path)
        return path

    def build(self, loc: str):
        from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable

        return IcebergNativeTable.create(
            self.spark, loc, self.spark.read.parquet(self.base), partition_by=["bucket(o_custkey, 8)"]
        )

    def use(self, table) -> None:
        from iceberg_examples_spark.sources.iceberg_sql_bridge import IcebergNativeSqlTable

        self.table = table
        self.sql_tables = {"default.orders": IcebergNativeSqlTable(self.spark, table.location)}
        self.dir = TableDir(table)

    def live_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM m").fetchone()[0]

    def _keys(self, r, n_old: int, n_new: int) -> np.ndarray:
        live = np.array([k for (k,) in self.con.execute("SELECT o_orderkey FROM m ORDER BY 1").fetchall()])
        old = r.choice(live, size=min(n_old, len(live)), replace=False)
        new = np.arange(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        return np.sort(np.concatenate([old, new]))

    # -- ops --------------------------------------------------------------

    def op(self, kind: str, r) -> Op:
        b, t, spark = self.bench, self.table, self.spark

        def mirror(sql: str):
            return lambda _result: self.con.execute(sql)

        def upsert_mirror(path: str):
            def apply(_result):
                self.con.execute(f"DELETE FROM m WHERE o_orderkey IN (SELECT o_orderkey FROM '{path}')")
                self.con.execute(f"INSERT INTO m SELECT * FROM '{path}'")

            return apply

        def statement(name: str, sql: str):
            from iceberg_examples_spark.sql_merge import execute_statement

            return lambda: b.layer(
                f"sql_merge.{name}", lambda: execute_statement(spark, sql, self.sql_tables)
            )

        live = self.live_rows()
        if kind == "append":
            path = self._batch_file(np.arange(self.next_key, self.next_key + APPEND_ROWS))
            self.next_key += APPEND_ROWS
            self.submitted += os.path.getsize(path)
            body = lambda: b.layer("iceberg_native.append", lambda: t.append(spark.read.parquet(path)))  # noqa: E731
            return Op(kind, "write", APPEND_ROWS, body, mirror(f"INSERT INTO m SELECT * FROM '{path}'"), (self.dir,))
        if kind == "row_delta":
            path = self._batch_file(self._keys(r, UPSERT_ROWS * 4 // 5, UPSERT_ROWS // 5))
            self.submitted += os.path.getsize(path)
            body = lambda: b.layer(  # noqa: E731
                "iceberg_native.row_delta", lambda: t.row_delta(spark.read.parquet(path), ["o_orderkey"])
            )
            return Op(kind, "write", UPSERT_ROWS, body, upsert_mirror(path), (self.dir,))
        if kind == "delete_where":
            cond = f"o_orderkey % 97 = {int(r.integers(0, 97))}"
            body = lambda: b.layer("iceberg_native.delete_where", lambda: t.delete_where(cond))  # noqa: E731
            return Op(kind, "write", live, body, mirror(f"DELETE FROM m WHERE {cond}"), (self.dir,))
        if kind == "update_where":
            cond = f"o_orderkey % 89 = {int(r.integers(0, 89))}"
            sets = {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice + 1.5"}
            body = lambda: b.layer("iceberg_native.update_where", lambda: t.update_where(cond, sets))  # noqa: E731
            return Op(
                kind, "write", live, body,
                mirror(f"UPDATE m SET o_orderstatus = 'U', o_totalprice = o_totalprice + 1.5 WHERE {cond}"),
                (self.dir,),
            )
        if kind == "sql_merge":
            path = self._batch_file(self._keys(r, MERGE_ROWS * 4 // 5, MERGE_ROWS // 5))
            self.submitted += os.path.getsize(path)
            sql = (
                "MERGE INTO default.orders t USING (SELECT * FROM pb_merge_src) s "
                "ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
            run = statement("merge", sql)

            def body():
                spark.read.parquet(path).createOrReplaceTempView("pb_merge_src")
                return run()

            return Op(kind, "write", MERGE_ROWS, body, upsert_mirror(path), (self.dir,))
        if kind == "sql_delete":
            cond = f"o_orderkey % 101 = {int(r.integers(0, 101))}"
            body = statement("delete", f"DELETE FROM default.orders WHERE {cond}")
            return Op(kind, "write", live, body, mirror(f"DELETE FROM m WHERE {cond}"), (self.dir,))
        if kind == "sql_update":
            cond = f"o_orderkey % 103 = {int(r.integers(0, 103))}"
            sql = f"UPDATE default.orders SET o_totalprice = o_totalprice * 2 WHERE {cond}"
            body = statement("update", sql)
            return Op(
                kind, "write", live, body,
                mirror(f"UPDATE m SET o_totalprice = o_totalprice * 2 WHERE {cond}"),
                (self.dir,),
            )
        if kind == "rewrite":
            self.rewrites += 1
            fn = t.rewrite_position_deletes if self.rewrites % 2 else t.rewrite_data_files
            body = lambda: b.layer("iceberg_native.rewrite", fn)  # noqa: E731
            return Op(kind, "write", live, body, lambda _r: None, (self.dir,))
        # read: the verification read of the live table
        from pyspark.sql import functions as F

        def body():
            live_df = b.layer("iceberg_native.scan", t.scan)
            return b.execute(
                lambda: live_df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("o_totalprice").alias("total"),
                    F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)).alias("n_updated"),
                )
            )

        sql = (
            "SELECT count(*) n, sum(o_totalprice) total, "
            "sum(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) n_updated FROM m"
        )

        def check(rows):
            check_df_rows(rows, ["n", "total", "n_updated"], self.con, sql)

        def after(span):
            span.counters["files_read_ratio"] = span.counters.get("num_files", 0) / max(
                t.count_files(0), 1
            )

        return Op(kind, "read", live, body, check, after=after)

    def finish(self) -> dict:
        """Full-content check of the table against the mirror, then the
        gauges and amplification."""
        rows = self.table.scan().select(*COLS).collect()
        rel = self.con.sql(f"SELECT {', '.join(COLS)} FROM m")
        try:
            assert_same(COLS, [tuple(x) for x in rows], list(rel.columns), rel.fetchall())
            final = "ok"
        except AssertionError as e:
            final = f"final table differs from mirror: {e}"
        once = os.path.join(self.bench.work, "live-once.parquet")
        self.con.execute(f"COPY m TO '{once}' (FORMAT parquet, COMPRESSION snappy)")
        return {
            "final_check": final,
            "gauges": self.dir.gauges(),
            "space_amp": self.dir.reachable_bytes() / os.path.getsize(once),
        }

