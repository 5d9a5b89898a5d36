#!/usr/bin/env python3
"""Self-test of the graft benchmark at a tiny input size (scale 0.01 of
the default inputs, about the size of the sf0.001 test data).

    python3 perfbench/selftest.py

Checks, in order:
  1. the counting filesystem of the traced run counts a known
     mkdirs/create/list/open/rename/delete sequence, one call each, and
     the bytes written and read;
  2. every workload runs untraced with every check passing, and prints
     every end-to-end metric of BENCHMARK.json;
  3. every workload runs traced and prints every per-layer metric of
     BENCHMARK.json;
  4. every workload with one row dropped from its final output fails its
     check, and the failure is counted against an operation.
Exits 0 when all hold, 1 otherwise.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

WORKLOADS = tuple(run.PRIMARY)
failures = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def bench(wl, trace, corrupt=False):
    args = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
            "--seed", "7", "--seconds", "2", "--trace", str(trace),
            "--scale", "0.01"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, p.stderr[-2000:]
    return json.loads(lines[-1]), None


def fs_counts():
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
        p = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.Main", "--fs-selftest", d],
                           capture_output=True, text=True, timeout=120)
    out = json.loads(p.stdout.strip().splitlines()[-1])
    steps = out["steps"]
    expect(out["filesystem"].endswith("CountingFileSystem"),
           f"counting filesystem installed ({out['filesystem']})")
    for step, key in (("create", "create_calls"), ("list", "list_calls"),
                      ("open", "open_calls"), ("rename", "rename_calls"),
                      ("delete", "delete_calls")):
        expect(steps[step].get(key) == 1, f"fs {step}: {key} == 1 ({steps[step]})")
    expect(steps["create"].get("bytes_written", 0) >= 4096, "fs create: 4096 bytes written")
    expect(steps["open"].get("bytes_read", 0) >= 4096, "fs open: 4096 bytes read")
    expect(not set(steps["mkdirs"]) - {"status_calls"},
           f"fs mkdirs: no list/open/create/rename/delete ({steps['mkdirs']})")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    e2e = [m["name"] for m in b["end_to_end"]]
    layers = [m["name"] for m in b["per_layer"]]
    fs_counts()
    for wl in WORKLOADS:
        r, err = bench(wl, 0)
        expect(r is not None and r["correct"] and r["failed"] == 0,
               f"{wl}: untraced run correct ({err or (r and r['attempted'])} ops)")
        if r:
            missing = [k for k in e2e if not r["metrics"].get(k, {}).get("value")]
            expect(not missing, f"{wl}: every end-to-end metric present and nonzero {missing}")
        r, err = bench(wl, 1)
        expect(r is not None and r["correct"], f"{wl}: traced run correct {err or ''}")
        if r:
            missing = [k for k in layers if k not in r["metrics"]]
            expect(not missing, f"{wl}: every per-layer metric printed {missing[:5]}")
        r, err = bench(wl, 0, corrupt=True)
        expect(r is not None and not r["correct"] and r["failed"] >= 1,
               f"{wl}: one dropped row fails the check ({err or (r and r['failed'])} failed)")
    print("selftest:", "FAILED " + str(len(failures)) if failures else "passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
