#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload ingest|upsert|neardup \
        --seed N --seconds S --trace 0|1 [--scale X] [--corrupt]

Run from the repository root. The first run builds graft and the
harness with sbt (perfbench/build.sbt) and writes a class-data archive;
later runs reuse both until a source file changes. Each run starts one
JVM (graftbench.Main), checks the outputs against references computed
with DuckDB outside graft, and prints, as the last line of standard
output, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. The full record (medians,
means and tails with their sample counts, run context, check results,
per-layer summary) is written to
.bench_build/runs/<workload>-s<seed>-t<trace>/record.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import summarize  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
JVM_TIMEOUT_S = 170
HEAP = "2g"

# The operation each end-to-end latency metric reads, per workload:
# op_* is the workload's defining call, aux_* its companion.
PRIMARY = {"ingest": "commit", "upsert": "merge", "neardup": "batch"}
AUX = {"ingest": "scan", "upsert": "scan", "neardup": "erase"}
# Tail percentile of the defining operation, per workload: the highest
# with at least ten samples beyond it at the run length of BENCHMARK.json
# (see README.md). Fixed, so that runs of different lengths still compare
# the same percentile.
TAIL = {"ingest": 70, "upsert": 50, "neardup": 50}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build: graft's main tree and the
    harness's sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when a source changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources (src/main/scala/graft) not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.endswith(".jar") and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = cps[-1]
    train_class_archive(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def train_class_archive(cp):
    """Write the class-data archive every run maps at start: one JVM runs
    each workload at a tiny scale and dumps the classes it loaded. It
    takes the cost of loading and verifying Spark's classes out of every
    run (on a 4-core host about 5 s of a 25 s run), which the benchmark's
    time budget needs; graft's code paths are the same with or without it.
    Without an archive (training failed) runs start without one."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    out = os.path.join(BUILD, "train")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_jvm(cp, ["--train", os.path.join(out, "work", "train")], out,
            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], timeout=400)
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, out, jvm_opts=None, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(out, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's scratch space and the JVM's temp files stay in the run
    # directory, whatever the caller's environment says
    env = {k: v for k, v in os.environ.items() if k != "GRAFT_E23_T"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "work", "spark-local")
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + jvm_opts
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(n, p):
    """Samples strictly above the p-th percentile rank of n samples."""
    return n - 1 - int((n - 1) * p / 100.0)


def latency(ops, cls, key, tail=None):
    """Median and mean of one operation class's `key` ("ms" wall or
    "cpu_ms" work CPU) and, for the workload's defining operation, its
    tail at the fixed percentile `tail`, with the samples behind them."""
    xs = [o[key] for o in ops if o["cls"] == cls and o["ok"]]
    if not xs:
        return {}
    out = {"p50": percentile(xs, 50), "mean": sum(xs) / len(xs), "n": len(xs)}
    if tail is not None:
        out.update(tail_pct=tail, tail=percentile(xs, tail),
                   beyond_tail=beyond(len(xs), tail))
    return out


def figures(wl, rec):
    """Every end-to-end figure of a run, under the per-workload names of
    README.md (commit_p50_ms, scan_p50_cpu_ms, ...), and the latency
    detail behind them."""
    ops, timed, setup, space = rec["ops"], rec["timed"], rec["setup"], rec["space"]
    lat, out = {}, {}
    for cls, tail in ((PRIMARY[wl], TAIL[wl]), (AUX[wl], None)):
        for key, sfx in (("ms", "ms"), ("cpu_ms", "cpu_ms")):
            l = lat.setdefault(cls, {})[key] = latency(ops, cls, key, tail)
            out[f"{cls}_p50_{sfx}"] = l.get("p50")
            out[f"{cls}_mean_{sfx}"] = l.get("mean")
            if tail is not None:
                out[f"{cls}_tail_{sfx}"] = l.get("tail")
        out[f"{cls}_samples"] = lat[cls]["ms"].get("n")
    out[f"{PRIMARY[wl]}_tail_pct"] = TAIL[wl]
    out.update(
        rows_per_s=timed["rows"] / timed["seconds"],
        rows_per_cpu_s=timed["rows"] / timed["cpu_s"],
        space_amp=space["table_bytes"] / space["plain_bytes"],
        peak_rss_mb=rec["peak_rss_mb"], live_heap_mb=rec["live_heap_mb"],
        setup_s=setup["cpu_s"], setup_wall_s=setup["wall_s"])
    return out, lat


def end_to_end(wl, fig):
    """The gated metrics of BENCHMARK.json: work-CPU figures, which host
    CPU steal does not move, plus space and retained memory. A run makes
    a fixed sequence of operations (see Workloads.scala), so the mean
    per operation compares like with like and averages out the noise a
    median of a few samples keeps."""
    p, a = PRIMARY[wl], AUX[wl]
    return {
        "op_cpu_ms": (fig[f"{p}_mean_cpu_ms"], "ms"),
        "aux_cpu_ms": (fig[f"{a}_mean_cpu_ms"], "ms"),
        "rows_per_cpu_s": (fig["rows_per_cpu_s"], "rows/s"),
        "space_amp": (fig["space_amp"], "ratio"),
        "live_heap_mb": (fig["live_heap_mb"], "MB"),
        "setup_s": (fig["setup_s"], "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the default (selftest: 0.01)")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row of the final output before the check")
    a = ap.parse_args()

    cp = build()
    wl = a.workload
    out = os.path.join(BUILD, "runs", f"{wl}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = (["--workload", wl, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", out, "--scale", str(a.scale)]
            + (["--corrupt"] if a.corrupt else []))
    t0 = time.time()
    code = run_jvm(cp, args, out)
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        die(f"{wl} run failed (exit {code}); see {os.path.join(out, 'jvm.log')}")
    with open(result) as f:
        rec = json.load(f)

    verdict = checks.run(wl, rec)
    ops = rec["ops"]
    bad = {o["seq"] for o in ops if not o["ok"]} | set(verdict["failed_ops"])
    attempted = len(ops)
    failed = len(bad)
    fig, lat = figures(wl, rec)
    fig["failed_ratio"] = failed / attempted if attempted else 1.0
    e2e = end_to_end(wl, fig)
    record = {
        "workload": wl, "seed": a.seed, "trace": a.trace,
        "context": dict(rec["context"], git_head=git_head(),
                        source_digest=source_stamp()[:16], heap=HEAP,
                        wall_s=time.time() - t0),
        "setup": rec["setup"], "timed": rec["timed"],
        "metrics": fig,
        "latency": lat,
        "checks": verdict,
        "errors": [o["error"] for o in ops if o["error"]],
    }
    if a.trace:
        layers, detail = summarize.summarize(rec, os.path.join(out, "spans.jsonl"))
        record["per_layer"] = detail
        record["tracing_overhead"] = summarize.overhead(wl, rec, BUILD, PRIMARY, AUX)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)

    for k, v in sorted(record["metrics"].items()):
        print(f"{wl} {k} = {v}", file=sys.stderr)
    missing = [k for k, m in metrics.items() if m["value"] is None]
    correct = verdict["ok"] and failed == 0 and not missing
    for k in missing:
        metrics[k]["value"] = 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
