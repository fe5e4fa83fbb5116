"""lake: reads, mutations and stream ingest over native Iceberg tables.

One closed-loop client issues whole cycles of 36 ops: four blocks of
``BLOCK``, each holding

- read (5): the five ``lake_read`` shapes in a seeded order, with seeded
  literals;
- commit (2): the next ``lake_churn`` mutations, in their fixed order, so
  a cycle commits each of the eight once;
- stream (1): one ``stream_ingest`` op (land a file, drain both queries);
- verify (1): the read of the churned table that the DuckDB mirror checks.

Reads make up most of the cycle, so ``op_p50_ms`` follows planning,
execution and the streaming micro-batch; the commits are most of the
slowest ops, so ``op_tail_ms`` follows the write path.  The report line
splits latencies by op kind.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.harness import Bench
from perfbench.lake_churn import COMMITS, N_BASE, LakeChurn
from perfbench.lake_read import BATCHES, N_CUSTOMERS, N_ORDERS, SHAPES, LakeRead
from perfbench.stream_ingest import StreamIngest

BLOCK = ("read", "commit", "read", "stream", "read", "commit", "read", "verify", "read")
ROUNDS = 2  # fixture builds per run; setup_s reports their median


def main(bench: Bench) -> dict:
    work = bench.work
    inputs_dir = os.path.join(work, "inputs")
    reader = LakeRead(
        bench,
        bench.timed_setup(
            lambda: gen.lake_inputs(inputs_dir, bench.seed, BATCHES, N_ORDERS, N_CUSTOMERS)
        ),
    )
    churn = bench.timed_setup(lambda: LakeChurn(bench))
    stream = StreamIngest(bench)

    def build(i: int):
        root = os.path.join(work, f"fixture-{i}")
        with bench.tracer.span("setup.lake_read"):
            tables = reader.build(root)
        with bench.tracer.span("setup.lake_churn"):
            orders = churn.build(os.path.join(root, "churn-orders"))
        with bench.tracer.span("setup.stream_ingest"):
            stream.start(f"fixture-{i}")
        return tables, orders

    for i in range(ROUNDS):
        tables, orders = bench.build("lake", lambda i=i: build(i))
    reader.use(tables)
    churn.use(orders)

    r = gen.rng(bench.seed, 100)
    bench.warmup([reader.op(s, r) for s in SHAPES] + [churn.op("read", r)])

    def cycle():
        commits = iter(COMMITS)
        for _ in range(len(COMMITS) // BLOCK.count("commit")):
            shapes = iter(r.permutation(len(SHAPES)))
            for slot in BLOCK:
                if slot == "read":
                    yield reader.op(SHAPES[next(shapes)], r)
                elif slot == "commit":
                    yield churn.op(next(commits), r)
                elif slot == "verify":
                    yield churn.op("read", r)
                else:
                    yield stream.op()

    def cycles():
        while True:
            yield cycle()

    tracked = (churn.dir, stream.dir)
    start_bytes = sum(d.total_bytes() for d in tracked)
    churn.submitted = stream.submitted = 0
    bench.loop(cycles())
    created = sum(d.total_bytes() for d in tracked) - start_bytes
    submitted = churn.submitted + stream.submitted

    out_churn = churn.finish()
    stream_check = stream.finish_check()
    read_side = reader.finish()
    gauges = {k: out_churn["gauges"][k] + stream.dir.gauges()[k] for k in out_churn["gauges"]}
    files, size = gen.tree_bytes(inputs_dir)
    checks = [c for c in (out_churn["final_check"], stream_check) if c != "ok"]
    return {
        "final_check": "; ".join(checks) or "ok",
        "write_amp": created / submitted if submitted else None,
        "space_amp": out_churn["space_amp"],
        "gauges": gauges,
        "tables": {
            "lineitem": {**read_side["gauges"], "space_amp": read_side["space_amp"],
                         "write_amp": read_side["write_amp"]},
            "orders": {**out_churn["gauges"], "space_amp": out_churn["space_amp"]},
            "events": {**stream.dir.gauges(), "landed_rows": stream.landed_rows},
        },
        "inputs": {
            "rows": {
                "lineitem": reader.n_li,
                "orders": N_ORDERS,
                "customer": N_CUSTOMERS,
                "churn_orders_base": N_BASE,
                "events_landed": stream.landed_rows,
            },
            "lineitem_appends": BATCHES,
            "churn_batches": churn.batch,
            "files": files + stream.index,
            "bytes": size + stream.submitted,
        },
    }
