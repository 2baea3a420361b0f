"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced run.
The lines before it print every metric by name and unit, then the run record
(environment, sizes, dispatch routes taken, per-op-type medians and tails,
errors).  ``--out FILE`` also writes the record, and with tracing every span,
as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    "ann_serve": ("perfbench.serve", "AnnServe"),
    "analytics_mix": ("perfbench.analytics", "AnalyticsMix"),
}

# (name, unit): reported by every workload with tracing off
END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("work_per_s", "1/s"),
    ("python_peak_rss_mb", "MB"),
    ("result_quality", "ratio"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="also write the run record (and spans) here")
    return p.parse_args(argv)


def end_to_end(wl, oplog, setup_s, warmup_s, peak_mb, quality) -> dict:
    from perfbench import harness

    medians = [harness.median(v) * 1000.0 for v in oplog.latencies.values() if v]
    return {
        "setup_s": setup_s + warmup_s,
        "op_p50_ms": harness.geomean(medians) if medians else 0.0,
        "work_per_s": wl.work_per_s(),
        "python_peak_rss_mb": peak_mb,
        "result_quality": quality,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hnsw_spark")):
        print(f"error: no hnsw_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    # Python workers import the library and write temp files like the driver
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")

    import importlib

    from perfbench import harness, layers
    from perfbench.trace import NullTracer, Tracer

    sampler = harness.RssSampler()
    sampler.start()
    spark = harness.start_spark(work_dir, traced=bool(args.trace))
    sampler.add_root(harness.jvm_pid(spark))
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            tracer.install()
        oplog = harness.OpLog()
        mod_name, cls_name = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(mod_name), cls_name)(
            spark, tracer, oplog, work_dir, args.seed
        )
        setup_s = wl.setup()
        warmup_s = wl.warmup()
        t0 = time.perf_counter()
        wl.measure(args.seconds)
        measured_s = time.perf_counter() - t0
        sampler.sample()  # memory up to the end of the timed phase
        peak_mb, peak_sampled_mb = sampler.python_peak_mb(), sampler.peak_sampled_mb()
        hwm_mb = sampler.hwm_mb()
        quality = wl.gate()
        e2e = end_to_end(wl, oplog, setup_s, warmup_s, peak_mb, quality)
        if args.trace:
            values = layers.compute(tracer)
            units = {m["name"]: m["unit"] for m in layers.catalog()}
        else:
            values, units = e2e, dict(END_TO_END)
        record = {
            "workload": args.workload,
            "trace": args.trace,
            "env": harness.environment(ROOT, args.seed),
            **wl.describe(),
            **wl.record,
            "end_to_end": e2e,
            "warmup_s": warmup_s,
            "measured_s": measured_s,
            "ops": oplog.summary(),
            "attempted": oplog.attempted,
            "failed": oplog.failed,
            "errors": oplog.errors,
            "peak_rss_hwm_mb": hwm_mb,
            "peak_rss_sampled_mb": peak_sampled_mb,
        }
        if args.trace:
            record["per_layer"] = values
            record["layer_catalog"] = layers.catalog()
            record["spans"] = tracer.records()
            tracer.uninstall()
    finally:
        sampler.stop()
        harness.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    for name, value in values.items():
        print(f"{name:48s} {value:16.4f} {units[name]}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1, default=str)
    record.pop("spans", None)
    print("record " + json.dumps(record, default=str))
    result = {
        "correct": oplog.failed == 0,
        "attempted": oplog.attempted,
        "failed": oplog.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
