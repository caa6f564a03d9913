#!/usr/bin/env python3
"""Pipeline benchmark: build, run one workload, check it, print every metric.

Usage (from the repository root):

    python3 pipebench/run.py --workload stream_ingest|wiki_cycle|query_suite
        [--seed N] [--seconds S] [--trace 0|1] [--cpus N] [--sf DIR]

The first run in a checkout compiles the program's sources together with
the harness (pipebench/build.sbt) and caches the classpath; later runs
start the JVM directly. The harness writes a result file; this script
adds the DuckDB oracle compare for query_suite, prints each metric with
its unit and every check with its verdict, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The exit code is 0
only when every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("stream_ingest", "wiki_cycle", "query_suite")
RUN_TIMEOUT_S = 170
# The program's own sbt runs default to an 8 GB heap (SPARK_DRIVER_MEM in
# build.sbt). The benchmark caps it at 3 GB, four times the largest live
# set it measured, so runs keep a small footprint on a shared host.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, so a change to any of them rebuilds."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compiles once per source state; returns the runtime classpath."""
    digest = hashlib.sha256()
    for p in sources():
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    print("pipebench: building (first run in this checkout)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "pipebench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, a, work, result):
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-trace{a.trace}.log")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp directory
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "pipebench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), str(a.cpus), a.sf,
            os.path.join(work, "run"), result]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}; log: {log}")


def oracle_compare(r):
    """query_suite: DuckDB oracle compare of the cold pass's dumps with
    tools/selfcheck.py, and a non-empty check for rows-only queries."""
    info = r["info"]
    dumps = info["dump_dir"]
    checks, bad = [], set(info["failed_queries"])
    oracle = info["oracle_queries"]
    if oracle:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
             info["sf"], dumps] + oracle,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=120)
        info["oracle_compare_s"] = time.time() - t0
        ok = {l.split(":")[0] for l in p.stdout.splitlines() if ": OK" in l}
        for q in oracle:
            checks.append({"name": f"oracle.{q}", "ok": q in ok,
                           "detail": "matches DuckDB" if q in ok else
                           next((l for l in p.stdout.splitlines()
                                 if l.startswith(q + ":")), "no verdict")})
            if q not in ok:
                bad.add(q)
    import pyarrow.parquet as pq
    for q in info["rows_only_queries"]:
        d = os.path.join(dumps, q)
        n = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for f in os.listdir(d) if f.endswith(".parquet")) \
            if os.path.isdir(d) else 0
        checks.append({"name": f"rows.{q}", "ok": n > 0, "detail": f"{n} rows"})
        if n == 0:
            bad.add(q)
    r["checks"] += checks
    r["failed"] = len(bad)
    r["end_to_end"]["ok_frac"]["value"] = 1.0 - len(bad) / r["attempted"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="TPC-H/events testdata directory for query_suite")
    a = ap.parse_args()
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "selfcheck.py")):
        if not os.path.exists(need):
            fail(f"not a checkout of the program: {need} is missing")
    if a.workload == "query_suite" and not os.path.isdir(a.sf):
        fail(f"testdata directory {a.sf} is missing")

    cp = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = os.path.join(work, "result.json")
        t0 = time.time()
        run_jvm(cp, a, work, result)
        with open(result) as f:
            r = json.load(f)
        shutil.copy(result, os.path.join(WORK, "logs", f"{a.workload}-trace{a.trace}.json"))
        if a.workload == "query_suite":
            oracle_compare(r)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = r["per_layer"] if a.trace else r["end_to_end"]
    values_ok = all(isinstance(m["value"], (int, float)) for m in metrics.values())
    correct = (all(c["ok"] for c in r["checks"]) and r["failed"] == 0
               and values_ok)
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  "
          f"trace {a.trace}  cpus {a.cpus}  ({time.time() - t0:.1f} s)")
    for c in r["checks"]:
        print(f"  check {'PASS' if c['ok'] else 'FAIL'}  {c['name']}: {c['detail']}")
    print(f"  ops attempted {r['attempted']}, failed {r['failed']}")
    for name, m in sorted(metrics.items()):
        print(f"  metric {name} = {m['value']} {m['unit']}")
    for k, v in sorted(r["info"].items()):
        if k not in ("dump_dir",):
            print(f"  info {k} = {json.dumps(v)}")
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
