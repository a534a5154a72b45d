"""Benchmark self-test at tiny scale.

    python3 retrieval_bench/selftest.py

1. Every workload runs end to end (untraced and traced) and reports
   every metric with no failed operation.
2. Each output check rejects a perturbed result: a swapped doc_id and a
   score one ulp off (rank identity, on interactive_hot and on
   crawl_refresh's post-compaction check) and a re-crawled url serving
   its old version (crawl_refresh).

Runs are subprocesses of run.py with `--scale tiny`, two at a time.
Exits 0 when every case behaves as expected.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from retrieval_bench.run import END_TO_END, PER_LAYER  # noqa: E402

SEED = 9
# (workload, trace, perturbation, expect_correct)
CASES = [
    ("offline_nq", 0, None, True),
    ("interactive_hot", 0, None, True),
    ("crawl_refresh", 0, None, True),
    ("offline_nq", 1, None, True),
    ("interactive_hot", 1, None, True),
    ("crawl_refresh", 1, None, True),
    ("offline_nq", 0, "swap_doc_id", False),
    ("interactive_hot", 0, "score_ulp", False),
    ("crawl_refresh", 0, "score_ulp", False),
    ("crawl_refresh", 0, "stale_recrawl", False),
]


def run_case(case) -> str:
    workload, trace, perturb, expect = case
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
    ] + (["--perturb", perturb] if perturb else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    label = f"{workload} trace={trace} perturb={perturb}"
    if p.returncode != 0:
        return f"FAIL {label}: exit {p.returncode}\n{p.stderr[-2000:]}"
    out = json.loads(p.stdout.strip().splitlines()[-1])
    names = PER_LAYER if trace else END_TO_END
    if set(out["metrics"]) != set(names):
        return f"FAIL {label}: metrics {sorted(out['metrics'])}"
    if not trace and any(m["value"] <= 0 for m in out["metrics"].values()):
        return f"FAIL {label}: a zero end-to-end metric {out['metrics']}"
    if out["correct"] != expect or (out["failed"] == 0) != expect:
        return f"FAIL {label}: correct={out['correct']} failed={out['failed']}, expected correct={expect}"
    return f"ok   {label}: correct={out['correct']} failed={out['failed']}/{out['attempted']}"


def main() -> int:
    with ThreadPoolExecutor(max_workers=2) as pool:
        lines = list(pool.map(run_case, CASES))
    for line in lines:
        print(line)
    bad = [line for line in lines if not line.startswith("ok")]
    print(f"{len(lines) - len(bad)}/{len(lines)} self-test cases passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
