"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it is the full report: input sizes, the
read/write latency split, error rate, amplification, the failing ops and
the environment.  A traced run also writes its spans to
``.perfbench/traces/``.  Every file the run writes stays under the
checkout's ``.perfbench/`` directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("lake", "curation")


def pin_environment(work: str) -> None:
    """Fix what the engine reads from the environment before Spark starts:
    the core count, where it writes scratch data, and an import path for
    Python workers (bucket transforms run as Python UDFs)."""
    for d in ("scratch", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_SCRATCH_ROOT"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = CHECKOUT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, CHECKOUT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "iceberg_examples_spark", "__init__.py")):
        print("perfbench: no iceberg_examples_spark package beside perfbench/", file=sys.stderr)
        return 2

    base = os.path.join(CHECKOUT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    from perfbench import harness, layers

    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        bench.start_session()
        module = __import__(f"perfbench.{args.workload}", fromlist=["main"])
        extra = module.main(bench)
        e2e = bench.end_to_end()
        detail = bench.detail()
        report = {
            "workload": args.workload,
            "environment": harness.environment(args.seed),
            "seconds": args.seconds,
            "traced": bool(args.trace),
            "end_to_end": e2e,
            "latency_ms": detail,
            "write_amp": extra.get("write_amp"),
            "space_amp": extra.get("space_amp"),
            "inputs": extra.get("inputs"),
            "gauges": extra.get("gauges"),
            "tables": extra.get("tables"),
            "final_check": extra.get("final_check", "ok"),
        }
        failed = len(detail["failed_ops"]) + (extra.get("final_check", "ok") != "ok")
        attempted = detail["attempted"]
        if args.trace:
            tsum = bench.trace_summary()
            report["trace"] = tsum
            metrics = layers.compute(
                bench.tracer.spans,
                extra.get("gauges") or {},
                {
                    "write_amp": extra.get("write_amp"),
                    "space_amp": extra.get("space_amp"),
                    "coverage_min": tsum["coverage_min"],
                    "op_p50_ms": e2e["op_p50_ms"],
                },
            )
            units = {k: v[0] for k, v in layers.METRICS.items()}
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            bench.tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = e2e
            units = harness.E2E_UNITS
        missing = [k for k, v in metrics.items() if v is None]
        if missing:
            print(json.dumps({"report": report}, default=str), file=sys.stderr)
            raise RuntimeError(f"metrics without a value: {missing}")
        result = {
            "correct": failed == 0,
            "attempted": max(attempted, 1),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        harness.emit(report, result)
        return 0
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
