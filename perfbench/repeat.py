"""Run one workload N times, each in a fresh process, and report every
metric's median, quartiles and quartile spread.

    python3 perfbench/repeat.py --workload lake --runs 10 --seconds 10 [--traced]

Seeds are ``--first-seed`` .. ``--first-seed + runs - 1``.  With
``--traced`` one extra traced run (on the first seed) follows, and the
report adds the tracing overhead: the traced run's median op latency
against the median of the untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    return {"report": json.loads(lines[-2])["report"], "result": json.loads(lines[-1])}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="repeat one workload and summarize its metrics")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--keep", help="append each run's report and result to this JSONL file")
    args = ap.parse_args(argv)

    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        r = run_once(args.workload, seed, args.seconds, 0)
        runs.append(r)
        if args.keep:
            with open(args.keep, "a") as f:
                f.write(json.dumps(r, default=str) + "\n")
        m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
        print(f"seed {seed}: correct={r['result']['correct']} failed={r['result']['failed']} {m}",
              file=sys.stderr, flush=True)
    names = list(runs[0]["result"]["metrics"])
    summary = {
        k: {**spread([r["result"]["metrics"][k]["value"] for r in runs]),
            "unit": runs[0]["result"]["metrics"][k]["unit"]}
        for k in names
    }
    out = {
        "workload": args.workload,
        "runs": args.runs,
        "seconds": args.seconds,
        "all_correct": all(r["result"]["correct"] for r in runs),
        "metrics": summary,
    }
    if args.traced:
        t = run_once(args.workload, args.first_seed, args.seconds, 1)
        traced = t["result"]["metrics"]["trace.op_p50_ms"]["value"]
        untraced = summary["op_p50_ms"]["median"]
        out["tracing"] = {
            "traced_op_p50_ms": traced,
            "untraced_op_p50_ms_median": untraced,
            "overhead": traced / untraced - 1.0,
            "coverage_min": t["result"]["metrics"]["trace.coverage_min"]["value"],
            "per_layer": {k: v["value"] for k, v in t["result"]["metrics"].items()},
        }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
