"""graft benchmark: serve and scan workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload serve|scan --seed N \
      --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Each run builds the engine from source if needed (perfbench/build.py),
starts one fresh JVM on a local[nproc] Spark session, and prints a
human-readable summary followed by one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics of the traced run. See
perfbench/BENCHMARK.md for the workloads and the metric definitions.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 165


def run_jvm(cmd, work, timeout):
    """Runs the JVM with its output in a log file; returns (rc, log tail).
    The JVM is killed and waited for if this process is stopped first."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(log_path, errors="replace") as f:
        return rc, f.read()[-6000:]


# ---------------------------------------------------------------- metrics

def phase(raw, name):
    return next(p for p in raw["phases"] if p["name"] == name)


def end_to_end(raw):
    m = phase(raw, "measure")
    s = stats.op_summary(m["ops"], raw["clients"], m["end"] - m["start"])
    sizes = raw["sizes"]
    index_ratio = sizes["index_bytes"] / sizes["input_bytes"]
    setup_s = raw["session_s"] + stats.median(raw["setup_reps_s"])
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (s["op_p50_ms"], "ms"),
        "op_tail_ms": (s["op_tail_ms"], "ms"),
        "queries_per_s": (s["queries_per_s"], "1/s"),
        "pairs_per_s": (s["pairs_per_s"], "1/s"),
        "index_bytes_per_input_byte": (index_ratio, "ratio"),
    }
    extra = {
        "error_rate": s["error_rate"],
        "rss_peak_mb": raw["rss_peak_mb"],
        "gen_s": raw["gen_s"],
        "session_s": raw["session_s"],
        "setup_reps_s": raw["setup_reps_s"],
        "verify_s": raw["verify_s"],
        # the JVM's CPU time over the measured phase ÷ (cpus × its wall time)
        "measure_cpu_share": raw["measure_cpu_ns"] / ((m["end"] - m["start"]) * raw["cpus"]),
        "tail_percentile": s["tail_pct"],
        "tail_samples_beyond": s["tail_beyond"],
        "latency_samples": s["samples"],
        "phase_s": {p["name"]: round((p["end"] - p["start"]) / 1e9, 2) for p in raw["phases"]},
        "latencies_ms": {p["name"]: [round(o["latency_ns"] / 1e6) for o in p["ops"]]
                         for p in raw["phases"]},
    }
    return metrics, s, extra


PER_LAYER = [
    # (name, unit)
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.driver_gap_ms_per_op", "ms"),
    ("spark.task_busy_share", "ratio"),
    ("io.input_bytes_per_op", "B"), ("io.shuffle_bytes_per_op", "B"),
    ("io.spill_bytes_per_op", "B"), ("io.output_bytes_per_op", "B"),
    ("ServeE2e.route_ms", "ms"), ("ServeE2e.retrieve_ms", "ms"), ("ServeE2e.rerank_ms", "ms"),
    ("Bm25.score_ms", "ms"), ("BinaryQuant.coded_ms", "ms"), ("ServeE2e.fetch_ms", "ms"),
    ("Mmr.select_ms", "ms"), ("BinaryQuant.cells_read_share", "ratio"),
    ("ServeE2e.fetch_rows_per_id", "ratio"), ("Bm25.postings_rows_per_query", "count"),
    ("Bm25.layout_build_s", "s"), ("ServeE2e.dense_layout_build_s", "s"),
    ("ServeE2e.emb_by_id_build_s", "s"), ("ServeE2e.open_s", "s"),
    ("Knn.topk_ms.cosine", "ms"), ("Knn.topk_ms.l2", "ms"), ("Knn.topk_ms.ip", "ms"),
    ("Knn.topk_ms.filtered", "ms"), ("Tables.decode_ms", "ms"),
    ("VectorTopK.pair_dims_per_s", "1/s"),
    ("StreamingQueries.bm25_ingest_ms", "ms"), ("StreamingQueries.nsw_incremental_ms", "ms"),
    ("streaming.triggers_per_op", "count"), ("streaming.trigger_ms_p50", "ms"),
    ("streaming.add_batch_share", "ratio"), ("streaming.commit_ms_per_trigger", "ms"),
    ("written_bytes_per_input_byte", "ratio"),
    ("self.op_ms", "ms"), ("trace.overhead_ms_per_op", "ms"),
]


def per_layer(raw):
    """Per-layer metrics of the traced half, and of the streaming writes
    that follow it on `serve`. A layer the workload does not exercise
    reports 0 (it did no work there)."""
    tr = phase(raw, "traced")
    un = phase(raw, "untraced")
    wr = next((p for p in raw["phases"] if p["name"] == "writes"), None)
    writes = [o for o in wr["ops"] if o["latency_ns"] >= 0] if wr else []
    write_ids = {o["id"] for o in writes}
    lo, hi = tr["start"], tr["end"]
    ops = {o["id"]: o for o in tr["ops"]}
    ok_ids = {i for i, o in ops.items() if o["latency_ns"] >= 0}
    n_ops = max(1, len(ok_ids))
    # request-path jobs: the split runs after the traced phase ends
    jobs = [j for j in raw["jobs"] if lo <= j["start"] < hi and j["end"] >= 0]
    split_jobs = [j for j in raw["jobs"] if j["start"] >= hi and j["op"] in ok_ids]
    spans = [s for s in raw["spans"] if s["op"] in ok_ids]
    setup_spans = [s for s in raw["spans"] if s["op"] <= -100]
    counts = [c for c in raw["counts"] if c["op"] in ok_ids]
    out = {name: 0.0 for name, _ in PER_LAYER}

    def total(key, js):
        return sum(j[key] for j in js)

    out["spark.jobs_per_op"] = len(jobs) / n_ops
    out["spark.stages_per_op"] = total("stages", jobs) / n_ops
    out["spark.tasks_per_op"] = total("tasks", jobs) / n_ops
    gaps = []
    for i in ok_ids:
        o = ops[i]
        s0, s1 = o["start"], o["start"] + o["latency_ns"]
        own = [(j["start"], j["end"]) for j in jobs if j["op"] == i]
        gaps.append(stats.driver_gap(s0, s1, own) / 1e6)
    out["spark.driver_gap_ms_per_op"] = stats.median(gaps) if gaps else 0.0
    out["spark.task_busy_share"] = total("task_ns", jobs) / ((hi - lo) * raw["cpus"])
    out["io.input_bytes_per_op"] = total("input_bytes", jobs) / n_ops
    out["io.shuffle_bytes_per_op"] = total("shuffle_bytes", jobs) / n_ops
    out["io.spill_bytes_per_op"] = total("spill_bytes", jobs) / n_ops
    out["io.output_bytes_per_op"] = total("output_bytes", jobs) / n_ops

    def span_ms(name):
        d = [(s["end"] - s["start"]) / 1e6 for s in spans if s["name"] == name]
        return stats.median(d) if d else 0.0

    for layer in ("route", "retrieve", "rerank", "fetch"):
        out[f"ServeE2e.{layer}_ms"] = span_ms(f"ServeE2e.{layer}")
    out["Bm25.score_ms"] = span_ms("Bm25.score")
    out["BinaryQuant.coded_ms"] = span_ms("BinaryQuant.coded")
    out["Mmr.select_ms"] = span_ms("Mmr.select")
    cells = [c["value"] for c in counts if c["name"] == "BinaryQuant.cells_read_share"]
    out["BinaryQuant.cells_read_share"] = stats.median(cells) if cells else 0.0
    fetch_rows = sum(j["input_records"] for j in split_jobs if j["span"] == "ServeE2e.fetch")
    ids = sum(c["value"] for c in counts if c["name"] == "ServeE2e.ids_requested")
    out["ServeE2e.fetch_rows_per_id"] = fetch_rows / ids if ids else 0.0
    score_rows = sum(j["input_records"] for j in split_jobs if j["span"] == "Bm25.score")
    scored_q = sum(ops[s["op"]]["queries"] for s in spans if s["name"] == "Bm25.score")
    if scored_q:
        out["Bm25.postings_rows_per_query"] = score_rows / scored_q

    for name in ("Bm25.layout_build", "ServeE2e.dense_layout_build",
                 "ServeE2e.emb_by_id_build", "ServeE2e.open"):
        d = [(s["end"] - s["start"]) / 1e9 for s in setup_spans if s["name"] == name]
        out[name + "_s"] = stats.median(d) if d else 0.0

    for v in ("cosine", "l2", "ip", "filtered"):
        out[f"Knn.topk_ms.{v}"] = span_ms(f"Knn.topk.{v}")
    out["Tables.decode_ms"] = span_ms("Tables.decode")
    decode = {s["op"]: s["end"] - s["start"] for s in spans if s["name"] == "Tables.decode"}
    rates = []
    for s in spans:
        if s["name"].startswith("Knn.topk.") and s["op"] in decode:
            kernel_ns = (s["end"] - s["start"]) - decode[s["op"]]
            sizes = raw["sizes"]
            pd = sizes["queries_per_op"] * sizes["corpus_rows"] * sizes["dims"]
            if kernel_ns > 0:
                rates.append(pd / (kernel_ns / 1e9))
    out["VectorTopK.pair_dims_per_s"] = stats.median(rates) if rates else 0.0

    write_spans = [s for s in raw["spans"] if s["op"] in write_ids]
    for kind in ("bm25_ingest", "nsw_incremental"):
        d = [(s["end"] - s["start"]) / 1e6 for s in write_spans
             if s["name"] == "StreamingQueries." + kind]
        out[f"StreamingQueries.{kind}_ms"] = stats.median(d) if d else 0.0
    trig = [t for t in raw["triggers"] if wr and wr["start"] <= t["t"] < wr["end"]]
    if trig and writes:
        te = sum(t["trigger_ms"] for t in trig)
        out["streaming.triggers_per_op"] = len(trig) / len(writes)
        out["streaming.trigger_ms_p50"] = stats.median([t["trigger_ms"] for t in trig])
        out["streaming.add_batch_share"] = sum(t["add_batch_ms"] for t in trig) / te if te else 0.0
        out["streaming.commit_ms_per_trigger"] = sum(t["commit_ms"] for t in trig) / len(trig)
    in_b = sum(o["in_bytes"] for o in writes)
    if in_b:
        out["written_bytes_per_input_byte"] = sum(o["out_bytes"] for o in writes) / in_b

    # self time of the op root: op wall not covered by any layer span
    selfs = []
    for i in ok_ids:
        o = ops[i]
        s0, s1 = o["start"], o["start"] + o["latency_ns"]
        kids = [(s["start"], s["end"]) for s in spans if s["op"] == i and s["parent"] is None
                and s["start"] < s1]
        selfs.append(stats.self_time((s0, s1), kids) / 1e6)
    out["self.op_ms"] = stats.median(selfs) if selfs else 0.0
    t_p50 = stats.op_summary(tr["ops"], raw["clients"], hi - lo)["op_p50_ms"]
    u_p50 = stats.op_summary(un["ops"], raw["clients"], un["end"] - un["start"])["op_p50_ms"]
    out["trace.overhead_ms_per_op"] = t_p50 - u_p50
    units = dict(PER_LAYER)
    metrics = {k: (v, units[k]) for k, v in out.items()}
    extra = {"traced_op_p50_ms": t_p50, "untraced_op_p50_ms": u_p50,
             "traced_ops": len(tr["ops"]), "untraced_ops": len(un["ops"]),
             "split_ops": sorted({s["op"] for s in spans if s["start"] >= hi}),
             "write_ops_ms": {o["kind"] + "#" + str(o["id"]): round(o["latency_ns"] / 1e6)
                              for o in (wr["ops"] if wr else [])},
             "layer_self_ms": layer_self_times(spans + write_spans)}
    timed = tr["ops"] + un["ops"] + (wr["ops"] if wr else [])
    counts = {"attempted": len(timed), "failed": sum(o["latency_ns"] < 0 for o in timed)}
    return metrics, counts, extra


def layer_self_times(spans):
    """Median self time per span name over the traced ops."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault((s["op"], s["parent"]), []).append(s)
    selfs = {}
    for s in spans:
        kids = [(k["start"], k["end"]) for k in by_parent.get((s["op"], s["name"]), [])]
        selfs.setdefault(s["name"], []).append(stats.self_time((s["start"], s["end"]), kids) / 1e6)
    return {k: round(stats.median(v), 3) for k, v in sorted(selfs.items())}


# ---------------------------------------------------------------- entry point

def selftest(bdir, work):
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    rc, log = run_jvm(build.java_cmd(bdir, work) + ["graft.perfbench.SelfTest"], work, 120)
    print(log.strip())
    return ok and rc == 0


def main():
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["serve", "scan"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        bdir = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    os.makedirs(build.OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.OUT)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        if a.selftest:
            return 0 if selftest(bdir, work) else 1
        raw_path = os.path.join(work, "raw.json")
        cpus = os.cpu_count() or 1
        cmd = build.java_cmd(bdir, work) + [
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", raw_path, "--cpus", str(cpus)]
        rc, log = run_jvm(cmd, work, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(raw_path):
            print(f"[perfbench] JVM exited with {rc}:\n{log}", file=sys.stderr)
            return 1
        with open(raw_path) as f:
            raw = json.load(f)
        return report(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(raw):
    if raw["trace"]:
        metrics, summary, extra = per_layer(raw)
    else:
        metrics, summary, extra = end_to_end(raw)
    check = raw["sample_check"]
    failed_ops = [o for p in raw["phases"] for o in p["ops"] if o["latency_ns"] < 0]
    correct = bool(check["ok"]) and not failed_ops
    print(f"# perfbench {raw['workload']} seed={raw['seed']} trace={int(raw['trace'])} "
          f"cpus={raw['cpus']} clients={raw['clients']}")
    print(f"# inputs: {json.dumps(raw['inputs'], sort_keys=True)}")
    print(f"# sizes: {json.dumps(raw['sizes'], sort_keys=True)}")
    print(f"# sample check ({check['checked']}): {'ok' if check['ok'] else check['problems']}")
    for o in failed_ops:
        print(f"# FAILED op {o['id']} ({o['kind']}, {'warmup' if o in phase(raw, 'warmup')['ops'] else 'measured'}): {o['error']}")
    for k, (v, unit) in metrics.items():
        print(f"{k:40s} {v:16.6g} {unit}")
    for k, v in extra.items():
        print(f"# {k}: {v}")
    print(json.dumps({
        "correct": correct,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
