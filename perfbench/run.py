"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {search,mixed} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The engine runs on ``local[<cpus>]`` in this
process; every file it writes lives under ``perfbench/.work`` and is
removed at exit. The second-to-last stdout line is the workload's own
named metrics; the last line is the result record:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("search", "mixed")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def record(spec: dict, res, trace: bool) -> dict:
    """The last-line result record: every metric the spec lists for this
    mode, each with its unit."""
    if trace:
        unknown = set(res.layers) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            raise ValueError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {
            m["name"]: {"value": float(res.layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            value, unit = res.e2e[m["name"]]
            if unit != m["unit"]:
                raise ValueError(f"{m['name']}: unit {unit} != spec {m['unit']}")
            metrics[m["name"]] = {"value": float(value), "unit": unit}
    return {"correct": bool(res.correct), "attempted": int(res.attempted),
            "failed": int(res.failed), "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vstream_spark")):
        print("perfbench: engine sources (vstream_spark/) not found next to perfbench/",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = load_spec()

    from perfbench import harness, trace

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        spark = run.start()
        tracer = trace.Tracer(spark.sparkContext, enabled=bool(args.trace))
        if args.workload == "search":
            from perfbench import vector

            res = vector.search(run, tracer)
        else:
            from perfbench import mixed

            res = mixed.mixed(run, tracer)
        tracer.unwrap_all()
        if args.trace:
            res.layers["session.start_s"] = run.session_start_s
            res.layers.update(tracer.common_layers(res.notes))
            out = os.path.join(ROOT, "perfbench", ".traces")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        run.close()

    setup_s = run.session_start_s + res.notes.get("setup_engine_s", 0.0)
    res.e2e["setup_s"] = (setup_s, "s")
    res.e2e["peak_rss_mb"] = (run.rss.peak_mb, "MB")
    detail = {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()}
    detail["setup_s"] = {"value": setup_s, "unit": "s"}
    detail["peak_rss_mb"] = {"value": run.rss.peak_mb, "unit": "MB"}
    detail["error_rate"] = {"value": res.failed / max(1, res.attempted), "unit": "ratio"}
    notes = {k: v for k, v in res.notes.items() if k != "trace_progress"}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail,
                      "notes": notes, "problems": res.problems}, default=float))
    print(json.dumps(record(spec, res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
