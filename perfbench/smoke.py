#!/usr/bin/env python3
"""Tiny-size smoke of every workload, untraced and traced, with all output
checks on. Exits non-zero if a run fails, reports a failed check or misses
a metric of BENCHMARK.json.

    python3 perfbench/smoke.py

Run from the repository root; it takes about five minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, "perfbench/run.py", "--workload",
                   w["name"], "--seed", "1", "--seconds", "2", "--trace",
                   str(trace), "--size", "tiny"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                 text=True, timeout=600)
            tag = f"{w['name']} trace={trace}"
            if out.returncode != 0:
                bad.append(f"{tag}: exit {out.returncode}\n"
                           f"{out.stderr[-2000:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            missing = {m["name"] for m in spec[kind]} - set(res["metrics"])
            if not res["correct"] or res["failed"] or missing:
                bad.append(f"{tag}: correct={res['correct']} "
                           f"failed={res['failed']} missing={missing}\n"
                           f"{out.stderr[-2000:]}")
            print(f"{tag}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}",
                  flush=True)
    for b in bad:
        print("FAILED " + b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
