#!/usr/bin/env python3
"""Failure-accounting self-check for the benchmark.

Runs query_light with two injected operations, one that throws and one
that returns a wrong result, and checks that both are reported as failed,
that neither is timed as a success, and that the run exits non-zero.

Usage: python3 perfbench/selfcheck.py   (from the repository root)
"""
import json
import subprocess
import sys
from pathlib import Path

cmd = [sys.executable, str(Path(__file__).parent / "run.py"), "--workload", "query_light",
       "--seed", "1", "--seconds", "1", "--trace", "0", "--inject-failure"]
r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
last = json.loads(r.stdout.strip().splitlines()[-1])
res = json.loads(Path(".bench_work/results/query_light-seed1-trace0.json").read_text())
timed = [o["name"] for o in res["ops"] if o["ok"]]
checks = {
    "the run exits non-zero": r.returncode != 0,
    "the result is marked incorrect": last["correct"] is False,
    "both injected operations are counted as failed":
        last["failed"] == 2 and {f["name"] for f in res["failures"]} == {"inject.throw", "inject.wrong"},
    "no injected operation is timed as a success":
        "inject.throw" not in timed and "inject.wrong" not in timed
        and res["details"]["samples"]["value"] == last["attempted"] - 2,
}
for what, ok in checks.items():
    print(("ok   " if ok else "FAIL ") + what)
sys.exit(0 if all(checks.values()) else 1)
