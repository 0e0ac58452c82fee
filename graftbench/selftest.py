#!/usr/bin/env python3
"""Core-count invariance self-test of the benchmark.

Runs serve and corpus_dedup with the same seed at Spark local[2] and
local[4] and requires identical generated inputs (table hashes), identical
recall_at_10 and neardup_recall, and an identical hash of serve's
top-k ids on its fixed evaluation batch. No workload parameter may follow
the core count, so any difference is a defect.

    python3 graftbench/selftest.py [--seed 7]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# (workload, detail keys, info keys) that must not change with the core count
CHECKS = [("serve", ["recall_at_10"], ["input_hash", "topk_hash"]),
          ("corpus_dedup", ["neardup_recall"], ["input_hash"])]


def run(workload, seed, cores):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "0",
                          "--cores", str(cores)],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = [l for l in out.splitlines() if l.startswith("{")]
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} local[{cores}]: output checks failed: {result}")
    return detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    seed = ap.parse_args().seed
    failures = 0
    for workload, detail_keys, info_keys in CHECKS:
        a, b = run(workload, seed, 2), run(workload, seed, 4)
        pairs = [(k, a["detail"][k]["value"], b["detail"][k]["value"]) for k in detail_keys]
        pairs += [(k, a["info"][k], b["info"][k]) for k in info_keys]
        for key, x, y in pairs:
            ok = x == y and x not in (None, "")
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {workload}.{key}: local[2]={x} local[4]={y}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
