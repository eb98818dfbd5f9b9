#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--inject-failure]

It builds the engine and the harness from source (perfbench/build.py),
generates the workload's input tables from the seed (perfbench/gen.py),
runs the harness JVM as one closed-loop client on a local[N] session with
N = the CPUs this process may use, checks every operation's output, and
prints as its last stdout line one JSON object with the keys correct,
attempted, failed and metrics. Untraced runs report the end-to-end
metrics; traced runs report the per-layer metrics. Both also print an
environment stamp and a fuller report on the line before, and keep
everything under .bench_work/. Workloads are defined in workloads.json
and explained in NOTES.md. Exits non-zero when any operation failed or
returned a wrong result, or when the engine sources are missing.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = json.loads((HERE / "workloads.json").read_text())
SETUPS = 3
XMX = "2g"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def passes_for(w: dict, seed: int, count: int) -> list:
    """The operations of each pass of a query workload.

    A stratified workload lists its queries in strata of similar
    latency; every pass takes one seed-chosen query from each stratum,
    so passes of different seeds hold the same latency mix. Operations
    run in seed-permuted order unless the workload fixes the order.
    """
    out = []
    for p in range(count):
        rng = random.Random(seed * 1009 + p)
        ops = [rng.choice(s) for s in w["strata"]] if "strata" in w else list(w["ops"])
        if w.get("order") != "fixed":
            rng.shuffle(ops)
        out.append(ops)
    return out


def inputs(w: dict, seed: int, work: Path) -> Path:
    """Generated tables for (scale, seed), made once and reused."""
    key = hashlib.sha256(json.dumps(w["scale"], sort_keys=True).encode()).hexdigest()[:8]
    d = work / "data" / f"{key}-seed{seed}"
    if not (d / "_DONE").exists():
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, seed, w["scale"])
        (d / "_DONE").write_text("")
    return d


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def cpu_times() -> list:
    """Aggregate CPU time counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run_jvm(cp: list, args: dict, log: Path, timeout: float) -> None:
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{XMX}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={args['work']}/tmp",
            "-cp", os.pathsep.join(map(str, cp)), "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    Path(args["work"], "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness exceeded {timeout:.0f} s; log in {log}")
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {r.returncode}; log in {log}")


def check_ops(report: dict, pins: dict) -> list:
    """Every timed operation with its verdict; a query must match its pin."""
    ops = []
    for p in report["passes"]:
        for o in p["ops"]:
            ok, why = o["ok"], o["error"]
            pin = pins.get("q10_agg_basic" if o["name"] == "inject.wrong" else o["name"])
            if ok and pin is not None and (o["rows"], o["hash"]) != (pin["rows"], pin["hash"]):
                ok, why = False, f"result {o['rows']} rows/{o['hash']} != oracle {pin['rows']} rows/{pin['hash']}"
            ops.append(dict(o, ok=ok, error=why, traced=p["traced"], **{"pass": p["pass"]}))
    return ops


def end_to_end(report: dict) -> dict:
    return {
        "setup_s": median([s["setup_s"] for s in report["setups"]]),
        "wall_s": median([p["wall_s"] for p in report["passes"] if not p["traced"]]),
        "peak_rss_mb": report["peak_rss_mb"],
    }


def per_layer(report: dict) -> dict:
    traced = [p for p in report["passes"] if p["traced"]]
    out = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
    setups = report["setups"]
    out["entry.registry_s"] = median([s["registry_s"] for s in setups])
    out["jvm.gc_s"] = median([s["gc_s"] for s in setups])
    out["jvm.jit_s"] = median([s["jit_s"] for s in setups])
    # The first pass is the cold one; the overhead compares warm passes only.
    walls = lambda t: median([p["wall_s"] for p in report["passes"][1:] if p["traced"] == t])
    out["trace.overhead_s"] = walls(True) - walls(False)
    return out


def details(w: dict, report: dict, ops: list) -> dict:
    """Figures printed on the report line but not gated: per-operation
    latency (the median, and p90 when at least ten samples lie beyond it),
    the error rate, the cold set-up and warm-up, and on the ETL workload
    each phase's throughput and the Parquet bytes written per row."""
    lat = sorted(o["latency_s"] for o in ops if o["ok"] and not o["traced"])
    d = {"samples": (len(lat), "count"), "op_p50_s": (median(lat), "s"),
         "error_rate": (sum(not o["ok"] for o in ops) / max(1, len(ops)), "ratio"),
         "setup_cold_s": (report["setups"][0]["setup_s"], "s"), "warmup_s": (report["warmup_s"], "s")}
    if len(lat) >= 100:
        d["op_p90_s"] = (statistics.quantiles(lat, n=10)[8], "s")
    if w["kind"] == "etl":
        n = w["rows"]
        for phase, key in [("sources.generate_write", "generate"), ("sources.scan", "scan"),
                           ("sources.ingest", "ingest"), ("streaming.stream", "stream"),
                           ("sources.export", "export")]:
            t = median([o["latency_s"] for o in ops if o["ok"] and o["name"] == phase and not o["traced"]])
            d[f"{key}_rows_per_s"] = (n / t if t else 0.0, "1/s")
        writes = [o["detail"] for o in ops if o["name"] == "sources.generate_write" and o["ok"]]
        if writes:
            d["written_bytes_per_row"] = (writes[0]["bytes"] / n, "bytes")
    return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one throwing and one wrong-result operation (self-check)")
    a = ap.parse_args()
    if not (Path("build.sbt").is_file() and Path("src/main/scala").is_dir()):
        print("perfbench: run from the repository root; engine sources not found", file=sys.stderr)
        return 2
    w = WORKLOADS[a.workload]
    if a.inject_failure and w["kind"] != "queries":
        print("perfbench: --inject-failure applies to query workloads", file=sys.stderr)
        return 2
    work_root = Path(".bench_work")
    cp, source_digest = build.build()
    t_start = time.monotonic()
    data = inputs(w, a.seed, work_root)
    work = work_root / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    args = {"workload": w["kind"], "data": data.resolve(), "work": work.resolve(),
            "out": (work / "report.json").resolve(), "spans": (work / "spans.jsonl").resolve(),
            "seconds": a.seconds, "trace": a.trace, "seed": a.seed, "cores": cores, "setups": SETUPS}
    if w["kind"] == "etl":
        args["rows"] = w["rows"]
    else:
        plan = passes_for(w, a.seed, 16)
        if a.inject_failure:
            plan[0] = ["inject.throw"] + plan[0] + ["inject.wrong"]
        args["passes"] = ";".join(",".join(p) for p in plan)
        args["warmup"] = ",".join(w["warmup"])
    cpu0 = cpu_times()
    run_jvm(cp, args, work / "harness.log", JVM_TIMEOUT_S - (time.monotonic() - t_start))
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    report = json.loads((work / "report.json").read_text())
    pins = oracle.pins(data.resolve(), gen.TABLES, report["oracle_sql"], data / "pins.json")
    ops = check_ops(report, pins)
    failed = sum(not o["ok"] for o in ops)
    metrics = per_layer(report) if a.trace else end_to_end(report)
    stamp = dict(report["env"], workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                 xmx=XMX, setups=SETUPS, scale=w["scale"], rows=w.get("rows"),
                 git_commit=git_commit(), source_digest=source_digest,
                 passes=len(report["passes"]), measured_s=report["measured_s"],
                 cpu_steal_share=cpu[7] / max(1, sum(cpu)))
    full = {"env": stamp, "details": details(w, report, ops),
            "failures": [{"name": o["name"], "error": o["error"]} for o in ops if not o["ok"]]}
    results = work_root / "results"
    results.mkdir(exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(dict(full, metrics=metrics, ops=ops), indent=1))
    if a.trace:
        shutil.copy(work / "spans.jsonl", results / f"{a.workload}-seed{a.seed}-spans.jsonl")
    print("perfbench-report " + json.dumps(full))
    spec = json.loads(Path("BENCHMARK.json").read_text())["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(metrics):
        raise SystemExit(f"perfbench: metrics {sorted(set(units) ^ set(metrics))} disagree with BENCHMARK.json")
    correct = failed == 0 and len(ops) > 0
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
