#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily|serve --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout of the repository.  Progress and the
output checks go to stderr; the last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``).  The exit code is 0 only when every output check passed.
See perfbench/README.md for what each workload and metric means.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Context, log, percentile, program_present  # noqa: E402
from kernels_alone import KERNELS  # noqa: E402
from workloads import CLASSES, OPERATORS, WORKLOADS  # noqa: E402

S, MS, COUNT, RATIO, BYTES = "s", "ms", "count", "ratio", "bytes"

# name -> (unit, better)
END_TO_END = {
    "setup_s": (S, "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "membership_p50_ms": (MS, "lower"),
    "token_freq_p50_ms": (MS, "lower"),
    "rollup_p50_ms": (MS, "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "store_mb": ("MB", "lower"),
}


def _per_layer() -> dict:
    m = {}
    for n in ("session_start_s", "first_session_start_s", "worker_warmup_s",
              "checkpoint.run_s", "checkpoint.finalize_s"):
        m[f"plans.{n}"] = (S, "lower")
    for k in KERNELS:
        m[f"kernels.{k}.update_rows_per_s"] = ("rows/s", "higher")
        m[f"kernels.{k}.merge_s"] = (S, "lower")
        m[f"kernels.{k}.serialize_s"] = (S, "lower")
    m["kernels.bloom.exist_per_s"] = ("1/s", "higher")
    m["kernels.cms.estimate_per_s"] = ("1/s", "higher")
    m["kernels.hll.merge_count_s"] = (S, "lower")
    for op in OPERATORS:
        for n, u in (("s", S), ("tasks", COUNT), ("executor_run_s", S),
                     ("executor_cpu_s", S), ("gc_s", S),
                     ("shuffle_write_bytes", BYTES), ("spill_bytes", BYTES),
                     ("task_skew", RATIO)):
            m[f"operators.{op}.{n}"] = (u, "lower")
        m[f"operators.{op}.kernel_share"] = (RATIO, "higher")
    for n in ("curate_s", "run_build_s", "run_cube_s",
              "persist_drift_states_s", "incremental_minhash_dedup_s",
              "run_daily.self_s"):
        m[f"jobs.{n}"] = (S, "lower")
    for g in ("run_daily", "curate", "run_build",
              "incremental_minhash_dedup"):
        m[f"jobs.{g}.tasks"] = (COUNT, "lower")
        m[f"jobs.{g}.executor_run_s"] = (S, "lower")
    for n in ("input_rows", "curated_rows", "known_url_dropped",
              "near_dup_dropped", "day_docs"):
        m[f"jobs.{n}"] = (COUNT, "higher")
    m["jobs.recrawl_kill_ratio"] = (RATIO, "higher")
    m["jobs.near_dup_kill_ratio"] = (RATIO, "higher")
    m["jobs.conflation_false_drop_ratio"] = (RATIO, "lower")
    for q in CLASSES:
        m[f"store.{q}_ms"] = (MS, "lower")
        m[f"store.{q}_p90_ms"] = (MS, "lower")
        m[f"store.{q}.bytes_read"] = (BYTES, "lower")
    m["store.membership.shards_probed"] = (COUNT, "lower")
    m["store.merge_stores_s"] = (S, "lower")
    m["store.bytes"] = (BYTES, "lower")
    m["trace.spans"] = (COUNT, "lower")
    m["trace.op_s"] = (S, "lower")
    m["trace.overhead_s"] = (S, "lower")
    m["trace.speed_factor"] = (RATIO, "lower")
    m["trace.raw_op_s"] = (S, "lower")
    return m


PER_LAYER = _per_layer()


def end_to_end_metrics(res: dict) -> dict:
    lat = res["lat"]
    vals = {
        "setup_s": res["setup_s"],
        "throughput_per_s": res["throughput_per_s"],
        "membership_p50_ms": percentile(lat["membership"], 50),
        "token_freq_p50_ms": percentile(lat["token_freq"], 50),
        "rollup_p50_ms": percentile(lat["rollup"], 50),
        "peak_rss_mb": res["peak_rss_mb"],
        "store_mb": res["store_bytes"] / 2**20,
    }
    log("latency samples: " + ", ".join(f"{k}={len(v)}"
                                         for k, v in sorted(lat.items())))
    return {k: {"value": float(v), "unit": END_TO_END[k][0]}
            for k, v in vals.items()}


def per_layer_metrics(res: dict) -> dict:
    """Every per-layer metric; a layer the workload never enters reads 0."""
    lay = res["layers"]
    for c, v in res["lat"].items():
        lay[f"store.{c}_p90_ms"] = percentile(v, 90)
    return {k: {"value": float(lay.get(k, 0.0)), "unit": u}
            for k, (u, _) in PER_LAYER.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not program_present(root):
        log(f"{root} holds no gopie_spark/ and jobs/: run from the root "
            "of a checkout of the repository")
        return 2
    ctx = Context.create(args.workload, args.seed, args.seconds,
                         bool(args.trace), root)
    try:
        res = WORKLOADS[args.workload](ctx)
        metrics = (per_layer_metrics(res) if ctx.trace
                   else end_to_end_metrics(res))
        attempted, failed = res["attempted"], res["failed"]
    except Exception:
        traceback.print_exc()
        ctx.check("workload.completed", False, "the workload raised")
        metrics, attempted, failed = {}, 1, 1
    finally:
        ctx.cleanup()
    if ctx.correct and not ctx.trace:
        ctx.record_untraced(res["op_s"])
    print(json.dumps({"correct": ctx.correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if ctx.correct else 1


if __name__ == "__main__":
    sys.exit(main())
