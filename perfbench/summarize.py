"""Per-layer summary of a traced run of the graft benchmark.

The harness writes, per traced run, spans (one per operation, with child
spans for the stream drain and the near-dup operator) and the events of
the benchmark's Spark and query-execution listeners to spans.jsonl.
Events are attributed to the operation whose span contains them; one
client thread issues every operation, so the attribution is exact.

summarize(record, spans_path) -> (metrics, detail)
  metrics: every per_layer metric of BENCHMARK.json, name -> (value, unit),
           0 where the workload has no such operation class.
  detail:  per op class, each nonzero metric as <name>.<op> (times as the
           median per operation, counts and bytes as the mean), each
           layer's self time, and the run-level values.
overhead(...) compares the traced latencies with the latest untraced run.
"""
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _within(t, span):
    # listener times are whole epoch milliseconds
    return span["start"] - 1.0 <= t <= span["end"] + 1.0


def _op_metrics(cls, op, spans, jobs, stages, queries, probe):
    s0, s1 = op["start"], op["end"]
    dur = s1 - s0
    clipped = [(max(j["start"], s0), min(j["end"], s1)) for j in jobs
               if _within(j["start"], op)]
    clipped = [(a, b) for a, b in clipped if b > a]
    covered = _union(clipped)
    m = {"wall_ms": dur, "driver.self_ms": dur - covered,
         "spark.jobs": len(clipped), "spark.job_ms": sum(b - a for a, b in clipped),
         "spark.share": covered / dur if dur > 0 else 0.0}
    st = [s for s in stages if _within(s["start"], op)]
    m["spark.stages"] = len(st)
    for k, name in (("tasks", "spark.tasks"), ("executor_run_ms", "spark.executor_run_ms"),
                    ("executor_cpu_ms", "spark.executor_cpu_ms"),
                    ("shuffle_bytes", "spark.shuffle_bytes"),
                    ("input_bytes", "spark.input_bytes"),
                    ("output_bytes", "spark.output_bytes")):
        m[name] = sum(s.get(k, 0) for s in st)
    qs = [q for q in queries if _within(q["end"], op)]
    m["plan.queries"] = len(qs)
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"plan.{k}"] = sum(q[k] for q in qs)
    for k in ("files_read", "bytes_read", "metadata_ms"):
        m[f"scan.{k}"] = sum(q[k] for q in qs)
    for k, val in op["attrs"].items():
        if k.startswith("fs."):
            m[k] = val
    for k, val in probe.items():
        if not k.startswith("table."):
            m[k] = val
    if cls in ("scan", "merge") and "table.live_files" in probe:
        m["scan.files_total"] = probe["table.live_files"]
    kids = [s for s in spans if s["op"] == op["id"] and s["id"] != op["id"]]
    drains = [s for s in kids if s["name"] == "drain"]
    bodies = [s for s in kids if s["name"] == "foreachBatch"]
    if drains:
        m["stream.batches"] = len(bodies)
        m["stream.overhead_ms"] = (sum(d["end"] - d["start"] for d in drains)
                                   - sum(b["end"] - b["start"] for b in bodies))
    probes = [s for s in kids if s["name"] == "probeAndAdvance"]
    if probes:
        m["neardup.probe_ms"] = sum(s["end"] - s["start"] for s in probes)
    # self time per layer: a span's duration minus its child spans and,
    # in a leaf, the Spark jobs inside it (reported as layer "spark")
    for s in [op] + kids:
        children = [(c["start"], c["end"]) for c in kids if c["parent"] == s["id"]]
        own_jobs = [] if children else [
            (max(a, s["start"]), min(b, s["end"])) for a, b in clipped
            if a < s["end"] and b > s["start"]]
        self_ms = (s["end"] - s["start"]) - _union(children + own_jobs)
        key = f"self_ms.{s['layer']}"
        m[key] = m.get(key, 0.0) + self_ms
        if own_jobs:
            m["self_ms.spark"] = m.get("self_ms.spark", 0.0) + _union(own_jobs)
    return m


def _load(path):
    spans, jobs, stages, queries = [], [], [], []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            {"span": spans, "job": jobs, "stage": stages, "query": queries}[e["kind"]].append(e)
    return spans, jobs, stages, queries


def summarize(rec, spans_path):
    spans, jobs, stages, queries = _load(spans_path)
    by_seq = {o["seq"]: o for o in rec["ops"]}
    per_cls = {}
    for s in spans:
        seq = s["attrs"].get("seq")
        if s["parent"] == 0 and seq in by_seq:
            rec_op = by_seq[seq]
            if not rec_op["ok"]:
                continue
            m = _op_metrics(rec_op["cls"], s, spans, jobs, stages, queries, rec_op.get("probe") or {})
            per_cls.setdefault(rec_op["cls"], []).append(m)
    detail = {}
    for cls, ms in per_cls.items():
        keys = sorted({k for m in ms for k in m})
        for k in keys:
            # times per operation as a median; counts and bytes as a
            # mean, so that an event every tenth operation still shows
            agg = statistics.median if "_ms" in k else statistics.mean
            v = agg(m.get(k, 0) for m in ms)
            if v:
                detail[f"{k}.{cls}"] = v
        detail[f"ops.{cls}"] = len(ms)
    last = [o["probe"] for o in rec["ops"] if o["ok"] and o.get("probe")]
    if last:
        detail["table.live_files"] = last[-1].get("table.live_files", 0)
        detail["table.mean_file_bytes"] = last[-1].get("table.mean_file_bytes", 0)
    detail.update(rec["facts"].get("run_level") or {})

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {w["name"]: (detail.get(w["name"], 0), w["unit"]) for w in bench["per_layer"]}
    return metrics, detail


def overhead(workload, rec, build_dir, primary, aux):
    """Traced median minus untraced median, per latency metric, against
    the most recent untraced run of the same workload."""
    runs = sorted(glob.glob(os.path.join(build_dir, "runs", f"{workload}-s*-t0", "record.json")),
                  key=os.path.getmtime)
    if not runs:
        return {"note": "no untraced run of this workload recorded yet; "
                        "run it with --trace 0 first"}
    with open(runs[-1]) as f:
        base = json.load(f)

    def med(ops, cls, key):
        xs = [o[key] for o in ops if o["cls"] == cls and o["ok"]]
        return statistics.median(xs) if xs else None

    out = {"untraced_run": os.path.relpath(runs[-1], build_dir)}
    for cls in (primary[workload], aux[workload]):
        for key in ("ms", "cpu_ms"):
            t = med(rec["ops"], cls, key)
            u = base["latency"].get(cls, {}).get(key, {}).get("p50")
            if t is not None and u:
                out[f"{cls}_p50_{key}"] = {"traced": t, "untraced": u,
                                           "overhead": t - u, "overhead_ratio": (t - u) / u}
    return out
