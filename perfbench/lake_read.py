"""Read-only part of the lake workload: reads over native tables.

lineitem is built from ``BATCHES`` appends and partitioned by
``month(l_shipdate)``, so it carries one file per month per append and
one manifest per append; orders and customer are single commits.  The
five read shapes take seeded literals: a Q1-shaped full-scan aggregate,
a Q6-shaped range filter, a Q3-shaped 3-way join top-k, a
partition-pruned point lookup through ``scan(where=...)`` and a
time-travel aggregate at an older snapshot.
"""

from __future__ import annotations

import datetime
import os

from perfbench import gen
from perfbench.harness import Bench, Op
from perfbench.oracle import check_df_rows, connect
from perfbench.tables import TableDir

BATCHES = 5
N_ORDERS = 6000
N_CUSTOMERS = 600
SHAPES = ("q1", "q6", "q3", "lookup", "travel")
SHIP_DAY0 = gen.LAKE_ORDER_DAY0 + datetime.timedelta(days=1)
SHIP_DAYS = gen.LAKE_ORDER_DAYS + gen.LAKE_SHIP_LAG - 1


def _lit_sql(v) -> str:
    return f"DATE '{v.isoformat()}'" if isinstance(v, datetime.date) else repr(v)


class LakeRead:
    def __init__(self, bench: Bench, inputs: dict):
        self.bench = bench
        self.inputs = inputs
        self.spark = bench.spark
        self.con = connect()
        batches = [inputs[f"lineitem/{b}"] for b in range(BATCHES)]
        self.con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet({batches!r})")
        for t in ("orders", "customer"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs[t]}'")
        self.batch_rows = [
            self.con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0] for p in batches
        ]
        self.n_li = sum(self.batch_rows)

    def build(self, root: str):
        from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable

        read = self.spark.read.parquet
        li = IcebergNativeTable.create(
            self.spark,
            os.path.join(root, "lineitem"),
            read(self.inputs["lineitem/0"]),
            partition_by=["month(l_shipdate)"],
        )
        for b in range(1, BATCHES):
            li.append(read(self.inputs[f"lineitem/{b}"]))
        o = IcebergNativeTable.create(self.spark, os.path.join(root, "orders"), read(self.inputs["orders"]))
        c = IcebergNativeTable.create(self.spark, os.path.join(root, "customer"), read(self.inputs["customer"]))
        return li, o, c

    def use(self, tables) -> None:
        """Read from the tables of one fixture build."""
        self.li, self.orders, self.cust = tables
        # snapshot ids in commit order: snapshot j holds batches 0..j
        self.snaps = [s["snapshot-id"] for s in self.li._metadata()["snapshots"]]
        self.li_dir = TableDir(self.li)
        self.live_files = {
            "lineitem": self.li.count_files(0),
            "orders": self.orders.count_files(0),
            "customer": self.cust.count_files(0),
        }

    # -- shapes ---------------------------------------------------------

    def _scan(self, table, **kw):
        return self.bench.layer("iceberg_native.scan", lambda: table.scan(**kw))

    def op(self, shape: str, r) -> Op:
        from pyspark.sql import functions as F

        b = self.bench
        if shape == "q1":
            cut = SHIP_DAY0 + datetime.timedelta(days=int(r.integers(SHIP_DAYS - 40, SHIP_DAYS)))
            cols = ["l_returnflag", "l_linestatus", "sum_qty", "sum_base", "sum_disc", "avg_disc", "n"]

            def body():
                li = self._scan(self.li)
                return b.execute(
                    lambda: li.filter(F.col("l_shipdate") <= F.lit(cut))
                    .groupBy("l_returnflag", "l_linestatus")
                    .agg(
                        F.sum("l_quantity").alias("sum_qty"),
                        F.sum("l_extendedprice").alias("sum_base"),
                        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc"),
                        F.avg("l_discount").alias("avg_disc"),
                        F.count(F.lit(1)).alias("n"),
                    )
                )

            sql = (
                "SELECT l_returnflag, l_linestatus, sum(l_quantity) sum_qty, "
                "sum(l_extendedprice) sum_base, sum(l_extendedprice * (1 - l_discount)) sum_disc, "
                "avg(l_discount) avg_disc, count(*) n FROM lineitem "
                f"WHERE l_shipdate <= {_lit_sql(cut)} GROUP BY ALL"
            )
            rows, tables = self.n_li, ("lineitem",)
        elif shape == "q6":
            lo = SHIP_DAY0 + datetime.timedelta(days=int(r.integers(0, SHIP_DAYS - 60)))
            hi = lo + datetime.timedelta(days=60)
            disc = int(r.integers(2, 9)) / 100.0
            qty = float(r.integers(20, 30))
            cols = ["revenue"]

            def body():
                li = self._scan(self.li)
                return b.execute(
                    lambda: li.filter(
                        (F.col("l_shipdate") >= F.lit(lo))
                        & (F.col("l_shipdate") < F.lit(hi))
                        & F.col("l_discount").between(disc - 0.011, disc + 0.011)
                        & (F.col("l_quantity") < qty)
                    ).agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
                )

            sql = (
                "SELECT sum(l_extendedprice * l_discount) revenue FROM lineitem "
                f"WHERE l_shipdate >= {_lit_sql(lo)} AND l_shipdate < {_lit_sql(hi)} "
                f"AND l_discount BETWEEN {disc - 0.011!r} AND {disc + 0.011!r} AND l_quantity < {qty!r}"
            )
            rows, tables = self.n_li, ("lineitem",)
        elif shape == "q3":
            seg = gen.SEGMENTS[int(r.integers(0, len(gen.SEGMENTS)))]
            day = gen.LAKE_ORDER_DAY0 + datetime.timedelta(days=int(r.integers(40, 110)))
            cols = ["l_orderkey", "o_orderdate", "revenue"]

            def body():
                c, o, li = (self._scan(t) for t in (self.cust, self.orders, self.li))
                return b.execute(
                    lambda: c.filter(F.col("c_mktsegment") == seg)
                    .join(o.filter(F.col("o_orderdate") < F.lit(day)), F.col("c_custkey") == F.col("o_custkey"))
                    .join(li.filter(F.col("l_shipdate") > F.lit(day)), F.col("o_orderkey") == F.col("l_orderkey"))
                    .groupBy("l_orderkey", "o_orderdate")
                    .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
                    .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
                    .limit(10)
                )

            sql = (
                "SELECT l_orderkey, o_orderdate, sum(l_extendedprice * (1 - l_discount)) revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON o_orderkey = l_orderkey "
                f"WHERE c_mktsegment = '{seg}' AND o_orderdate < {_lit_sql(day)} "
                f"AND l_shipdate > {_lit_sql(day)} "
                "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10"
            )
            rows = self.n_li + N_ORDERS + N_CUSTOMERS
            tables = ("lineitem", "orders", "customer")
        elif shape == "lookup":
            day = SHIP_DAY0 + datetime.timedelta(days=int(r.integers(0, SHIP_DAYS)))
            cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]

            def body():
                li = self._scan(self.li, where={"l_shipdate": day})
                return b.execute(lambda: li.select(*cols))

            sql = f"SELECT {', '.join(cols)} FROM lineitem WHERE l_shipdate = {_lit_sql(day)}"
            rows, tables = self.n_li, ("lineitem",)
        else:  # travel
            j = int(r.integers(0, BATCHES - 1))
            snap = self.snaps[j]
            cols = ["n", "sum_base"]

            def body():
                li = self._scan(self.li, snapshot_id=snap)
                return b.execute(
                    lambda: li.agg(F.count(F.lit(1)).alias("n"), F.sum("l_extendedprice").alias("sum_base"))
                )

            files = [self.inputs[f"lineitem/{k}"] for k in range(j + 1)]
            sql = f"SELECT count(*) n, sum(l_extendedprice) sum_base FROM read_parquet({files!r})"
            rows, tables = sum(self.batch_rows[: j + 1]), ("lineitem",)

        live = sum(self.live_files[t] for t in tables)

        def after(span):
            span.counters["files_read_ratio"] = span.counters.get("num_files", 0) / live

        return Op(
            kind=shape,
            cls="read",
            rows=rows,
            body=body,
            check=lambda got: check_df_rows(got, cols, self.con, sql),
            after=after,
        )

    def finish(self) -> dict:
        """Gauges and amplification of the lineitem table, whose live rows
        are exactly the batches its fixture build appended."""
        li_dir = self.li_dir
        batches = [self.inputs[f"lineitem/{b}"] for b in range(BATCHES)]
        submitted = sum(os.path.getsize(p) for p in batches)
        once = os.path.join(self.bench.work, "lineitem-once.parquet")
        self.con.execute(
            f"COPY (SELECT * FROM lineitem) TO '{once}' "
            "(FORMAT parquet, COMPRESSION snappy)"
        )
        return {
            "gauges": li_dir.gauges(),
            "write_amp": li_dir.total_bytes() / submitted,
            "space_amp": li_dir.reachable_bytes() / os.path.getsize(once),
        }

