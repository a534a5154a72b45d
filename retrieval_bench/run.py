"""Retrieval benchmark entry point.

    python3 retrieval_bench/run.py --workload interactive_hot --seed 3 \\
        --seconds 10 --trace 0

Runs one workload in one driver process on local[<nproc>], prints every
metric by name and unit, checks every output against the oracle, and
ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and, when an untraced record of the same workload, seed and length
exists under results/, the tracing overhead). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the end-to-end metrics of the result line (BENCHMARK.json's end_to_end)
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "qps": "questions/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "refresh_p50_s": "s",
}
# printed and recorded, but too noisy run to run to gate on (README.md)
REPORTED = {"refresh_tail_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "index.build.build_index_s": "s",
    "index.build.blocks_s": "s",
    "index.build.jobs": "count",
    "index.build.tasks": "count",
    "index.build.task_busy_s": "s",
    "index.build.core_utilisation": "ratio",
    "index.build.shuffle_write_mb": "MB",
    "index.build.spill_mb": "MB",
    "index.build.gc_s": "s",
    "index.build.tf_kernel_docs_per_s": "docs/s",
    "serve.make_searcher_s": "s",
    "serve.resident_mb": "MB",
    "query.wand.resolve_s": "s",
    "query.wand.jobs_per_batch": "count",
    "query.wand.tasks_per_batch": "count",
    "query.wand.score_s": "s",
    "query.wand.task_busy_s": "s",
    "query.wand.core_utilisation": "ratio",
    "query.wand.shuffle_read_mb": "MB",
    "query.wand.rows_read_per_result": "ratio",
    "query.scorer.attach_passages_s": "s",
    "eval.validation.annotate_hits_s": "s",
    "eval.validation.accuracy_at_k_s": "s",
    "streaming.refresh.ingest_s": "s",
    "streaming.refresh.fresh_index_s": "s",
    "streaming.refresh.delta_docs": "count",
    "streaming.refresh.bytes_written_per_user_byte": "ratio",
    "streaming.refresh.compact_ingest_s": "s",
    "streaming.refresh.compactions": "count",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["offline_nq", "interactive_hot", "crawl_refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full")
    p.add_argument(
        "--perturb", choices=["swap_doc_id", "score_ulp", "stale_recrawl"],
        help="self-test only: corrupt outputs before checking; the run must then fail",
    )
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dpr_spark", "__init__.py")):
        print(f"retrieval_bench: no dpr_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    cache = os.path.join(HERE, ".cache")
    results = os.path.join(HERE, "results")

    from retrieval_bench import host

    host.pin_environment(ROOT, work)
    try:
        return run(args, work, cache, results, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, cache, results, host) -> int:
    from dpr_spark.session import get_spark

    from retrieval_bench.inputs import SCALES
    from retrieval_bench.tracing import Tracer
    from retrieval_bench.workloads import WORKLOADS

    nproc = host.nproc()
    env = host.versions()
    scale = SCALES[args.scale]
    calib = host.calibrate()
    phases = {}  # wall seconds of each phase of this run, for the record

    def phase(name, fn):
        t = time.perf_counter()
        out = fn()
        phases[name] = time.perf_counter() - t
        return out

    with host.RssSampler() as rss:
        spark = phase("session", lambda: get_spark(
            "retrieval_bench", master=f"local[{nproc}]", extra_conf=host.spark_conf(work)
        ))
        try:
            tracer = Tracer(spark, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, scale, args.seed, cache, work, nproc)
            wl.perturb = args.perturb
            phase("prepare", wl.prepare)
            phase("setup", wl.setup)
            phase("window", lambda: wl.run_window(args.seconds))
            phase("teardown", wl.teardown)
            if args.trace:
                phase("counters", tracer.collect_counters)
                wl.count_results()
        finally:
            phase("stop", lambda: stop_spark(spark))
            host.reap_descendants()
        peak, peak_parts = rss.peak, rss.peak_parts
    # oracle checks: after the JVM is gone, outside any timing
    phase("verify", wl.verify)

    e2e = wl.end_to_end(phases["session"], peak)
    layers = wl.per_layer() if args.trace else {}
    failed = sum(1 for op in wl.ops if op.problems)
    attempted = len(wl.ops)
    problems = [p for op in wl.ops for p in op.problems]

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "env": env, "calibration": calib,
        "phases_s": phases, "peak_rss_parts_mb": peak_parts, "samples": wl.s,
        "sample_counts": wl.sample_counts(), "tail_percentile": "p90 (nearest rank)", "info": wl.info,
        "end_to_end": e2e, "per_layer": layers, "error_rate": failed / attempted,
        "problems": problems[:50],
    }
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-{args.scale}-s{args.seed}-n{args.seconds:g}")
    if args.trace:
        record["spans"] = tracer.dump()
        base = f"{stem}-t0.json"
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
    with open(f"{stem}-t{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"scale={args.scale} nproc={nproc} java={env['java']!r} pyspark={env['pyspark']} "
          f"pyarrow={env['pyarrow']}")
    print(f"# host calibration: {calib['kernel']} median {calib['median_ms']:.2f} ms, "
          f"IQR {100 * calib['iqr_share']:.1f}% of median")
    print(f"# phases (s): {json.dumps({k: round(v, 2) for k, v in phases.items()})}")
    print(f"# samples: {json.dumps(wl.sample_counts())}; tails are p90 (nearest rank); "
          f"info: {json.dumps(wl.info)}")
    for k, v in e2e.items():
        print(f"# {k} = {v:.6g} {END_TO_END.get(k) or REPORTED[k]}")
    print(f"# error_rate = {failed}/{attempted} = {failed / attempted:.6g} ratio")
    for k, v in layers.items():
        print(f"# {k} = {v:.6g} {PER_LAYER[k]}")
    for k, v in record.get("tracing_overhead", {}).items():
        print(f"# tracing overhead {k} = {v:+.6g} {END_TO_END.get(k) or REPORTED[k]}")
    for p in problems[:20]:
        print(f"# PROBLEM {p}", file=sys.stderr)

    units = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
