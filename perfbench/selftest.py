#!/usr/bin/env python3
"""Self-tests of the benchmark's own code, at self-test scale (sf0.001).

    python3 perfbench/selftest.py

Checks that:
  * the same seed yields byte-identical inputs and another seed different ones;
  * every metric named in BENCHMARK.json is printed, with its unit, by
    untraced and traced runs of every workload;
  * a planted exception and a planted wrong result both land in the
    failure count;
  * traced spans nest and every self time is >= 0.
Takes a few minutes: it starts one JVM per run.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "selftest")
FAILURES = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def digest(d):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_inputs():
    for name, w in workloads.WORKLOADS.items():
        w = dict(w, **workloads.SMOKE[name])
        d = {}
        for tag, seed in [("a", 7), ("b", 7), ("c", 8)]:
            out = os.path.join(SCRATCH, f"inputs-{name}-{tag}")
            shutil.rmtree(out, ignore_errors=True)
            workloads.generate(w, seed, out)
            d[tag] = digest(out)
        expect(d["a"] == d["b"], f"{name}: same seed gives byte-identical inputs")
        expect(d["a"] != d["c"], f"{name}: another seed gives different inputs")


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(p.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    info = [ln for ln in lines if ln.startswith("perfbench: ")]
    res["info"] = json.loads(info[-1][len("perfbench: "):]) if info else {}
    return res


def test_metrics(bench):
    for w in workloads.WORKLOADS:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            res = run(w, trace)
            expect(res is not None, f"{w} trace={trace}: run exits 0 and prints a result")
            if res is None:
                continue
            got = res["metrics"]
            for m in bench[key]:
                ok = m["name"] in got and got[m["name"]]["unit"] == m["unit"] and \
                    isinstance(got[m["name"]]["value"], (int, float))
                expect(ok, f"{w} trace={trace}: prints {m['name']} in {m['unit']}")
            expect(res["correct"] and res["failed"] == 0,
                   f"{w} trace={trace}: all ops correct at self-test scale")


def test_planted():
    for w in workloads.WORKLOADS:
        res = run(w, 0, "--plant")
        expect(res is not None and not res["correct"] and res["failed"] > 0,
               f"{w}: planted failures land in the failure count")
        if res is not None and w == "query_mix":
            failed = set(res["info"].get("failed_ops", []))
            expect({"perfbench_planted_unregistered_query", workloads.QUERY_SAMPLE[0]} <= failed,
                   f"{w}: planted exception and planted wrong result are both listed as failed")
            expect(res["info"]["metrics"]["error_rate"]["value"] > 0, f"{w}: error_rate > 0")


def test_spans():
    files = sorted(glob.glob(os.path.join(HERE, ".work", "spans", "*.jsonl")),
                   key=os.path.getmtime)
    expect(bool(files), "traced runs write their spans")
    for path in files[-2:]:
        with open(path) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
        by_id = {s["id"]: s for s in spans}
        nested = all(s["parent"] == 0 or (
            s["parent"] in by_id and by_id[s["parent"]]["start_ns"] <= s["start_ns"] and
            s["end_ns"] <= by_id[s["parent"]]["end_ns"] and
            by_id[s["parent"]]["op"] == s["op"]) for s in spans)
        expect(nested, f"{os.path.basename(path)}: every span lies inside its parent")
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        ok = True
        for s in spans:
            covered, hi = 0, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
                a, b = c["start_ns"], c["end_ns"]
                if hi is None or a >= hi:
                    covered += b - a
                    hi = b
                elif b > hi:
                    covered += b - hi
                    hi = b
            ok &= (s["end_ns"] - s["start_ns"]) - covered >= 0
        expect(ok, f"{os.path.basename(path)}: every self time is >= 0")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(SCRATCH, exist_ok=True)
    test_inputs()
    test_metrics(bench)
    test_planted()
    test_spans()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(f"{len(FAILURES)} failed")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
