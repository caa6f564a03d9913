#!/usr/bin/env python3
"""Records the benchmark's baseline into pipebench/results/baseline.json.

Usage (from the repository root):

    python3 pipebench/record.py [--seeds 10] [--first-seed 1]
        [--workloads wiki_cycle,query_suite,stream_ingest] [--untraced-only]
        [--out pipebench/results/baseline.json]

For every workload: --seeds untraced runs (seeds first..first+N-1) with the median,
quartiles and spread (quartile distance / median) of each end-to-end
metric; one traced run (seed 1) with every per-layer metric and the
tracing overhead (traced end-to-end figure / untraced median - 1); and
for stream_ingest and wiki_cycle one local[1] run, the single-thread
reference (skipped with --untraced-only). Takes about 40 minutes on four
cores for all three workloads.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wiki_cycle", "query_suite", "stream_ingest")


def run(workload, seed, trace=0, cpus=4, seconds=10):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--cpus", str(cpus)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{workload} seed {seed} cpus {cpus} produced no "
                           f"result:\n{p.stderr[-3000:]}")
    with open(os.path.join(HERE, ".work", "logs",
                           f"{workload}-trace{trace}.json")) as f:
        full = json.load(f)
    full["info"].pop("dump_dir", None)  # a scratch path, gone after the run
    if "sf" in full["info"]:
        full["info"]["sf"] = os.path.basename(full["info"]["sf"])
    return {"seed": seed, "cpus": cpus, "exit": p.returncode,
            "elapsed_s": round(time.time() - t0, 1),
            "result": json.loads(lines[-1]), "full": full}


def summary(values):
    q = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    med = statistics.median(values)
    return {"median": med, "q1": q[0], "q3": q[2],
            "spread": (q[2] - q[0]) / med if med else 0.0, "values": values}


def single_thread(wl, seed, e2e):
    """One local[1] run: the single-thread reference."""
    try:
        one = run(wl, seed, cpus=1)
    except RuntimeError as e:
        return {"error": str(e)[-1000:]}
    return {"end_to_end": {k: v["value"] for k, v in
                           one["full"]["end_to_end"].items()},
            "info": one["full"]["info"],
            "speedup_local4_over_local1": {
                k: one["full"]["end_to_end"][k]["value"] / e2e[k]["median"]
                for k in ("work_s", "op_p50_s") if e2e[k]["median"]}}


def write(out, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--untraced-only", action="store_true")
    ap.add_argument("--out", default=os.path.join(HERE, "results", "baseline.json"))
    a = ap.parse_args()
    out = {"machine": {"nproc": os.cpu_count(), "platform": platform.platform(),
                       "cpu": next((l.split(":", 1)[1].strip() for l in
                                    open("/proc/cpuinfo") if l.startswith("model name")), "")},
           "workloads": {}}
    for wl in a.workloads.split(","):
        untraced = [run(wl, s) for s in range(a.first_seed, a.first_seed + a.seeds)]
        e2e = {k: summary([r["result"]["metrics"][k]["value"] for r in untraced])
               for k in untraced[0]["result"]["metrics"]}
        w = {"units": {k: v["unit"] for k, v in untraced[0]["result"]["metrics"].items()},
             "end_to_end": e2e,
             "runs": [{k: r[k] for k in ("seed", "exit", "elapsed_s")} |
                      {"correct": r["result"]["correct"],
                       "checks": [c for c in r["full"]["checks"] if not c["ok"]],
                       "info": r["full"]["info"]} for r in untraced]}
        if not a.untraced_only:
            traced = run(wl, a.first_seed, trace=1)
            w["traced"] = {
                "per_layer": {k: v["value"] for k, v in
                              traced["result"]["metrics"].items()},
                "end_to_end": {k: v["value"] for k, v in
                               traced["full"]["end_to_end"].items()},
                "info": traced["full"]["info"]}
            w["tracing_overhead"] = {
                k: traced["full"]["end_to_end"][k]["value"] / e2e[k]["median"] - 1
                for k in e2e if e2e[k]["median"]}
            if wl != "query_suite":
                w["local1"] = single_thread(wl, a.first_seed, e2e)
        out["workloads"][wl] = w
        write(out, a.out)
        print(f"{wl}: " + ", ".join(f"{k} {v['median']:.4g} (spread {v['spread']:.3f})"
                                    for k, v in e2e.items()), flush=True)


if __name__ == "__main__":
    main()
