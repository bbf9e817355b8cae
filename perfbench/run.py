#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness with sbt (offline) into perfbench/.build; later runs reuse
the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM with a local[nproc] Spark session
and one client thread, runs the workload's ops in a closed loop for the
given seconds, checks every op's output against DuckDB and prints one
JSON line last. See perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170
PLANTED_MISSING = "perfbench_planted_unregistered_query"


def plant_wrong(w, r):
    """Self-test only: make one checked output disagree with its reference."""
    if w["kind"] == "queries":
        name = w["queries"][0]
        r["oracle_sql"][name] = f"SELECT * FROM ({r['oracle_sql'][name]}) LIMIT 0"
    else:
        row = r["etl_reads"][0]["rows"][0]
        row[3] += 1


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def program_sources():
    """Files whose content decides the build."""
    out = []
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(p for p in out if os.path.isfile(p))


def build() -> str:
    """Compiles the program and harness once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources not found beside perfbench/ (run from a checkout root)")
    h = hashlib.sha256()
    for p in program_sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f,
                           text=True, timeout=800)
        f.write(r.stdout)
    cps = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not cps:
        die(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def pct(xs, q):
    """q-quantile by linear interpolation between order statistics."""
    s = sorted(xs)
    if not s:
        return 0.0
    i = q * (len(s) - 1)
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def run_jvm(cp, w, seed, seconds, trace, data, work, cpus, deadline):
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{w['heap']}", f"-Xmx{w['heap']}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", w["name"], "--kind", w["kind"],
            "--queries", ",".join(w.get("queries", [])), "--data", data,
            "--work", work, "--seconds", str(seconds), "--pass-seconds", str(w["pass_s"]),
            "--trace", str(trace),
            "--seed", str(seed), "--out", out, "--cpus", str(cpus)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness JVM exceeded the run limit (log: {work}/jvm.log)")
    shm = os.path.join("/dev/shm", "graft-scratch", str(p.pid))
    shutil.rmtree(shm, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        die(f"harness JVM failed with code {rc} (log: {work}/jvm.log)")
    with open(out) as f:
        return json.load(f), launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="self-test scale inputs")
    ap.add_argument("--plant", action="store_true",
                    help="self-test: plant one failing op and one wrong result")
    a = ap.parse_args()
    w = dict(workloads.WORKLOADS[a.workload], name=a.workload)
    if a.smoke:
        w.update(workloads.SMOKE[a.workload])
    if a.plant and w["kind"] == "queries":
        w["queries"] = w["queries"] + [PLANTED_MISSING]
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    load_start = loadavg()
    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    in_bytes = workloads.generate(w, a.seed, data)
    inputs_s = time.perf_counter() - t0

    r, launch = run_jvm(cp, w, a.seed, a.seconds, a.trace, data, work, cpus, deadline)
    load_end = loadavg()
    setup_s = inputs_s + (r["first_op_epoch_ms"] / 1000.0 - launch)

    if a.plant:
        plant_wrong(w, r)
    verdicts, is_wrong = check.check(w, r, data, work)
    wrong = {n for n, v in verdicts.items() if v != "OK"}

    ops = r["ops"]
    for o in ops:
        o["failed"] = bool(o["err"]) or is_wrong(o)
    failed_ops = [o for o in ops if o["failed"]]
    good = [o["s"] for o in ops if not o["traced"] and not o["failed"]]
    walls = [p["wall_s"] for p in r["passes"] if not p["traced"]]
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (pct(good, 0.5), "s"),
        "op_p90_s": (pct(good, 0.9), "s"),
        "peak_rss_mb": (r["rss_hwm_mb"], "MB"),
        "error_rate": (len(failed_ops) / max(1, len(ops)), "ratio"),
    }
    layers = {}
    if a.trace:
        layers = workloads.per_layer(w, r, walls, in_bytes, inputs_s)
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cpus,
        "clients": 1, "loop": "closed", "loadavg_start": load_start, "loadavg_end": load_end,
        "host.job_floor_ms": r["job_floor_ms"], "ops": len(ops),
        "passes": len(r["passes"]), "input_bytes": in_bytes,
        "failed_ops": sorted({o["name"] for o in failed_ops}),
        "check": {n: v for n, v in sorted(verdicts.items()) if v != "OK"},
        "checked": len(verdicts),
        "determinism_checked": sorted(set(w.get("queries", [])) - set(r["oracle_sql"])),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    print("perfbench: " + json.dumps(info))
    # Keep the run's full record (per-op times) and traced spans; drop the rest.
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    for src, sub, name in [("result.json", "results", f"{tag}.json"),
                           ("result.json.spans.jsonl", "spans", f"{tag}.jsonl")]:
        if os.path.isfile(os.path.join(work, src)):
            os.makedirs(os.path.join(WORK, sub), exist_ok=True)
            shutil.copy(os.path.join(work, src), os.path.join(WORK, sub, name))
    shutil.rmtree(work, ignore_errors=True)

    names = workloads.E2E if not a.trace else workloads.PER_LAYER
    source = dict(e2e) if not a.trace else layers
    metrics = {n: {"value": source[n][0], "unit": source[n][1]} for n in names}
    print(json.dumps({"correct": not wrong and not any(o["err"] for o in ops),
                      "attempted": len(ops), "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
