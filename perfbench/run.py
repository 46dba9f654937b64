"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 24 --trace 0

Runs one workload from one process against the engine in local[nproc]
mode, checks its outputs, and prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics, measured by timing
calls into each layer's public functions from outside the engine.
Human-readable detail goes to the lines before it and to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl", "curate")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def declared_metrics() -> dict[str, dict[str, str]]:
    """name → {"unit", "kind"} for every metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {m["name"]: {"unit": m["unit"], "kind": "end_to_end"} for m in bench["end_to_end"]}
    out.update({m["name"]: {"unit": m["unit"], "kind": "per_layer"} for m in bench["per_layer"]})
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "storm_focused_crawler_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from perfbench import common

    workdir = os.path.join(common.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    common.prepare_env(workdir)
    declared = declared_metrics()
    with common.RssSampler() as rss:
        session = common.Timer()
        spark = common.start_spark(workdir)
        session_s = session.elapsed
        try:
            report = run_workload(spark, args, workdir, session_s)
        finally:
            common.stop_spark(spark)
    report["metrics"]["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    common.cleanup(workdir)

    if args.trace:
        metrics = report["layers"]
    else:
        metrics = report["metrics"]
    kind = "per_layer" if args.trace else "end_to_end"
    wanted = [n for n, d in declared.items() if d["kind"] == kind]
    out = {}
    for name in wanted:
        value, unit = metrics[name]
        if unit != declared[name]["unit"]:
            raise ValueError(f"{name}: unit {unit!r} is not the declared {declared[name]['unit']!r}")
        out[name] = {"value": float(value), "unit": unit}
    extra = sorted(set(metrics) - set(wanted))
    if extra:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {extra}")
    for f in report["failures"]:
        print(f"FAILED {f}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, **report["notes"]},
                     default=str))
    print(f"failed_share {report['failed']}/{report['attempted']}")
    for name, m in out.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": int(report["attempted"]),
        "failed": int(report["failed"]),
        "metrics": out,
    }))
    return 0


def run_workload(spark, args, workdir: str, session_s: float) -> dict:
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    if args.workload == "crawl":
        from perfbench import crawl as wl
    else:
        from perfbench import curate as wl
    report = wl.run(spark, workdir, args.seed, args.seconds, session_s, tracer=tracer)
    if tracer is not None:
        tracer.write(os.path.join(os.path.dirname(workdir), "traces"),
                     f"{args.workload}-{args.seed}")
    return report


if __name__ == "__main__":
    sys.exit(main())
