"""Metric definitions of the graft benchmark.

`summarize` turns one run's raw samples (written by the harness JVM)
into the workload's result row, with every end-to-end metric the
workload defines, and into the summary line the benchmark prints last:
the contract metrics (`END_TO_END`) of an untraced run, or the
per-layer metrics (`PER_LAYER`) of a traced one. Per-layer metrics of a
layer the workload does not exercise read 0.
"""
import json
import math
import statistics
from collections import defaultdict

# contract end-to-end metrics, the same three for every workload
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "lake.write_ms": "ms", "lake.prepare_ms": "ms", "lake.commit_ms": "ms",
    "lake.rebase_rounds": "count", "lake.buckets_touched": "count",
    "lake.files_added": "count", "lake.bytes_written": "bytes",
    "lake.write_amp": "ratio",
    "lake.resolve_ms": "ms", "lake.files_scanned": "count",
    "lake.live_files": "count", "lake.skip_ratio": "ratio",
    "stream.batches": "count", "stream.trigger_ms": "ms",
    "stream.overhead_ms": "ms", "stream.input_rows": "count",
    "plan.queries": "count", "plan.analysis_ms": "ms", "plan.optimize_ms": "ms",
    "plan.physical_ms": "ms", "plan.codegen_ms": "ms", "plan.codegen_classes": "count",
    "exec.tasks": "count", "exec.task_busy_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.tiny_task_share": "ratio", "exec.gc_ms": "ms", "exec.jobs": "count",
    "exec.task_skew": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.driver_gap_ms": "ms",
    "exec.driver_gap_share": "ratio", "exec.failed_tasks": "count",
    "pipeline.tables": "count", "pipeline.retries": "count",
    "pipeline.idle_share": "ratio",
    "ann.ivf_ms": "ms", "ann.graph_ms": "ms", "ann.bq_ivf_ms": "ms",
    "ann.recall.ivf": "ratio", "ann.recall.graph": "ratio",
    "ann.recall.bq_ivf": "ratio", "ann.cached_partitions": "count",
    "harness.release_ms": "ms", "harness.check_ms": "ms",
    "jvm.heap_peak_mb": "MB", "jvm.gc_ms": "ms",
    "trace.overhead_share": "ratio", "trace.op_p50_s": "s", "trace.ops_per_s": "1/s",
}

# the workload-specific end-to-end metrics each result row carries
ROW_METRICS = {
    "cdc_ingest": ["setup_s", "commits_per_s", "commit_p50_s", "commit_tail_s",
                   "lookup_p50_s", "space_amp", "error_rate", "peak_rss_mb"],
    "lake_serve": ["setup_s", "reads_per_s", "read_p50_s", "read_tail_s",
                   "lookup_p50_s", "merge_p50_s", "space_amp", "error_rate",
                   "peak_rss_mb"],
    "medallion_refresh": ["setup_s", "refresh_p50_s", "error_rate", "peak_rss_mb"],
    "ann_search": ["setup_s", "probes_per_s", "recall_at_k", "error_rate",
                   "peak_rss_mb"],
}
ROW_METRICS["ann_search_all"] = ROW_METRICS["ann_search"]
UNITS = {"setup_s": "s", "commits_per_s": "1/s", "commit_p50_s": "s",
         "commit_tail_s": "s", "lookup_p50_s": "s", "reads_per_s": "1/s",
         "read_p50_s": "s", "read_tail_s": "s", "merge_p50_s": "s",
         "refresh_p50_s": "s", "probes_per_s": "1/s", "recall_at_k": "ratio",
         "space_amp": "ratio", "error_rate": "ratio", "peak_rss_mb": "MB"}


def percentile(xs, p):
    """Linear-interpolated percentile p (0-100) of xs."""
    s = sorted(xs)
    if not s:
        return None
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it (p50
    when there are too few samples for that); returns (value, p, n)."""
    n = len(xs)
    if n == 0:
        return None, None, 0
    p = max(50, math.floor(100 * (1 - 10 / n))) if n > 10 else 50
    return percentile(xs, p), p, n


def med(xs):
    return statistics.median(xs) if xs else None


def geomean(xs):
    xs = [x for x in xs if x]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def _m(value, unit, n, **extra):
    d = {"value": value, "unit": unit, "n": n}
    d.update(extra)
    return d


def row_metrics(workload, res, failed, attempted):
    s = res["samples"]
    get = lambda k: s.get(k, [])  # noqa: E731
    out = {
        "setup_s": _m(med(res.get("setup_s", [])), "s", len(res.get("setup_s", []))),
        "peak_rss_mb": _m(res["jvm"]["rss_peak_mb"], "MB", 1),
        "error_rate": _m(failed / attempted if attempted else 1.0, "ratio", attempted),
    }
    if workload == "cdc_ingest":
        c = get("commit_s")
        t, p, n = tail(c)
        out.update({
            "commits_per_s": _m((get("commits_per_s") or [None])[0], "1/s", len(c),
                                batch_rows=res["info"].get("batch_rows")),
            "commit_p50_s": _m(med(c), "s", len(c)),
            "commit_tail_s": _m(t, "s", n, percentile=p),
            "lookup_p50_s": _m(med(get("lookup_s")), "s", len(get("lookup_s"))),
            "space_amp": _m((get("space_amp") or [None])[0], "ratio", 1),
        })
    elif workload == "lake_serve":
        reads = [x for k, v in s.items() if k.startswith("read_s.") for x in v]
        t, p, n = tail(reads)
        out.update({
            "reads_per_s": _m((get("reads_per_s") or [None])[0], "1/s", len(reads)),
            "read_p50_s": _m(med(reads), "s", len(reads)),
            "read_tail_s": _m(t, "s", n, percentile=p),
            "lookup_p50_s": _m(med(get("read_s.lookup")), "s", len(get("read_s.lookup"))),
            "merge_p50_s": _m(med(get("merge_s")), "s", len(get("merge_s"))),
            "space_amp": _m((get("space_amp") or [None])[0], "ratio", 1),
        })
    elif workload == "medallion_refresh":
        r = get("refresh_s")
        out["refresh_p50_s"] = _m(med(r), "s", len(r))
    elif workload.startswith("ann_search"):
        n = sum(len(v) for k, v in s.items() if k.startswith("search_s."))
        out.update({
            "probes_per_s": _m((get("probes_per_s") or [None])[0], "1/s", n,
                               probes_per_call=res["info"].get("probes_per_call")),
            "recall_at_k": _m((get("recall_at_k") or [None])[0], "ratio", 1, k=5),
        })
    return out


def contract_metrics(workload, res):
    """The contract end-to-end metrics, from a run's samples."""
    s = res["samples"]
    first = lambda k: (s.get(k) or [None])[0]  # noqa: E731
    if workload == "cdc_ingest":
        ops, p50 = first("commits_per_s"), med(s.get("commit_s", []))
    elif workload == "lake_serve":
        ops = first("reads_per_s")
        p50 = geomean([med(v) for k, v in s.items() if k.startswith("read_s.")])
    elif workload == "medallion_refresh":
        ops, p50 = first("refreshes_per_s"), med(s.get("refresh_s", []))
    else:
        ops = first("probes_per_s")
        p50 = geomean([med(v) for k, v in s.items() if k.startswith("search_s.")])
    return {"setup_s": med(res.get("setup_s", [])), "ops_per_s": ops, "op_p50_s": p50}


def _load_trace(path):
    recs = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs[r["kind"]].append(r)
    return recs


def layer_metrics(workload, res):
    """Per-layer metrics of a traced run. Work counts, bytes and times are
    per timed-loop operation unless the name says otherwise; see README."""
    rec = _load_trace(res["trace_file"])
    win = res["window"]
    t0, t1 = win["start_us"], win["end_us"]
    inwin = lambda us: t0 <= us <= t1  # noqa: E731
    spans = [s for s in rec["span"] if inwin(s["start_us"])]
    ops = [s for s in spans if s["name"] == "op"]
    n_ops = max(len(ops), 1)
    dur = lambda s: (s["end_us"] - s["start_us"]) / 1000.0  # noqa: E731
    named = lambda *ns: [dur(s) for s in spans if s["name"] in ns]  # noqa: E731
    z = lambda x: 0 if x is None else x  # noqa: E731
    m = {}

    # sources: lake write
    by_op = defaultdict(float)
    for s in spans:
        if s["name"] in ("sources.upsertTxn", "sources.upsert", "sources.prepare",
                         "sources.commitPending") and s["op"] >= 0:
            by_op[s["op"]] += dur(s)
    commits = [c for c in rec["commit"] if c["op"] >= 0]
    m["lake.write_ms"] = z(med(list(by_op.values())))
    m["lake.prepare_ms"] = z(med(named("sources.prepare")))
    m["lake.commit_ms"] = z(med(named("sources.commitPending")))
    m["lake.rebase_rounds"] = sum(c["rebase_rounds"] for c in commits)
    m["lake.buckets_touched"] = z(med([c["buckets_touched"] for c in commits]))
    m["lake.files_added"] = z(med([c["files_added"] for c in commits]))
    m["lake.bytes_written"] = z(med([c["bytes_written"] for c in commits]))
    m["lake.write_amp"] = z(med([c["bytes_written"] / c["change_bytes"]
                                 for c in commits if c["change_bytes"]]))
    # sources: lake read
    reads = [r for r in rec["read"] if r["op"] >= 0]
    m["lake.resolve_ms"] = z(med([dur(s) for s in spans if s["name"] in (
        "sources.read", "sources.readKeys", "sources.readRange", "sources.readWhere",
        "sources.changes", "sources.history")]))
    m["lake.files_scanned"] = z(med([r["files_scanned"] for r in reads]))
    m["lake.live_files"] = z(med([r["live_files"] for r in reads]))
    skips = [r["skip_ratio"] for r in reads if r.get("skip_ratio") is not None]
    m["lake.skip_ratio"] = statistics.fmean(skips) if skips else 0
    # streaming
    st = [e for e in rec["stream"] if inwin(e["t_ms"] * 1000) and e["input_rows"] > 0]
    m["stream.batches"] = len(st)
    m["stream.trigger_ms"] = z(med([e["trigger_ms"] for e in st]))
    m["stream.overhead_ms"] = z(med([e["trigger_ms"] - e["add_batch_ms"] for e in st]))
    m["stream.input_rows"] = z(med([e["input_rows"] for e in st]))
    # planning
    qs = [q for q in rec["query"] if inwin(q["t_ms"] * 1000)]
    m["plan.queries"] = len(qs) / n_ops
    m["plan.analysis_ms"] = sum(q["analysis_ms"] for q in qs) / n_ops
    m["plan.optimize_ms"] = sum(q["optimize_ms"] for q in qs) / n_ops
    m["plan.physical_ms"] = sum(q["physical_ms"] for q in qs) / n_ops
    m["plan.codegen_ms"] = win["codegen_ms"] / n_ops
    m["plan.codegen_classes"] = win["codegen_classes"] / n_ops
    # execution
    tasks = [t for t in rec["task"] if inwin(t["launch_ms"] * 1000)]
    tdur = lambda t: t["finish_ms"] - t["launch_ms"]  # noqa: E731
    m["exec.tasks"] = len(tasks) / n_ops
    m["exec.task_busy_ms"] = sum(t["run_ms"] for t in tasks) / n_ops
    m["exec.task_cpu_ms"] = sum(t["cpu_ns"] for t in tasks) / 1e6 / n_ops
    m["exec.tiny_task_share"] = (sum(1 for t in tasks if tdur(t) < 10) / len(tasks)
                                 if tasks else 0)
    m["exec.gc_ms"] = sum(t["gc_ms"] for t in tasks) / n_ops
    starts = {j["job"]: j["t_ms"] for j in rec["job_start"]}
    ends = {j["job"]: j["t_ms"] for j in rec["job_end"]}
    jobs = [(starts[j] * 1000, ends.get(j, starts[j]) * 1000) for j in starts
            if inwin(starts[j] * 1000)]
    m["exec.jobs"] = len(jobs) / n_ops
    stages = defaultdict(list)
    for t in tasks:
        stages[(t["stage"], t["stage_attempt"])].append(tdur(t))
    heavy = max((v for v in stages.values() if len(v) >= 2), key=sum, default=None)
    m["exec.task_skew"] = (max(heavy) / max(statistics.median(heavy), 1)
                           if heavy else 0)
    for key, field in (("shuffle_write_bytes", "shuffle_write"),
                       ("shuffle_read_bytes", "shuffle_read"),
                       ("spill_bytes", "spill"), ("input_bytes", "input")):
        m[f"exec.{key}"] = sum(t[field] for t in tasks) / n_ops
    gaps, walls = [], []
    for o in ops:
        a, b = o["start_us"], o["end_us"]
        iv = sorted((max(s, a), min(e, b)) for s, e in jobs if s < b and e > a)
        covered, cur_s, cur_e = 0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        gaps.append((b - a - covered) / 1000.0)
        walls.append((b - a) / 1000.0)
    m["exec.driver_gap_ms"] = z(med(gaps))
    m["exec.driver_gap_share"] = sum(gaps) / sum(walls) if walls and sum(walls) else 0
    m["exec.failed_tasks"] = sum(1 for t in tasks if t["failed"])
    # plans
    refreshes = [r for r in rec["refresh"] if r["op"] >= 0]
    m["pipeline.tables"] = z(med([r["tables"] for r in refreshes]))
    m["pipeline.retries"] = sum(r["retries"] for r in refreshes)
    busy, wall = 0.0, 0.0
    for o in ops:
        if o.get("op_kind") != "refresh":
            continue
        a, b = o["start_us"] / 1000, o["end_us"] / 1000
        busy += sum(tdur(t) for t in tasks if a <= t["launch_ms"] <= b)
        wall += b - a
    m["pipeline.idle_share"] = 1 - busy / (res["cores"] * wall) if wall else 0
    # operators: ANN
    for idx in ("ivf", "graph", "bq_ivf"):
        m[f"ann.{idx}_ms"] = z(med(named(f"operators.{idx}")))
        m[f"ann.recall.{idx}"] = z((res["samples"].get(f"recall.{idx}") or [None])[0])
    m["ann.cached_partitions"] = z(med([a["cached_partitions"] for a in rec["ann"]
                                        if a["op"] >= 0]))
    # harness and JVM
    m["harness.release_ms"] = z(med(res["samples"].get("harness_release_s", []))) * 1000
    m["harness.check_ms"] = z((res["samples"].get("harness_check_s") or [None])[0]) * 1000
    m["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    m["jvm.gc_ms"] = win["gc_ms"]
    # tracing overhead, and the traced run's own end-to-end figures
    cm = contract_metrics(workload, res)
    m["trace.overhead_share"] = res["trace_overhead_s"] / win["wall_s"]
    m["trace.op_p50_s"] = z(cm["op_p50_s"])
    m["trace.ops_per_s"] = z(cm["ops_per_s"])
    return m


def summarize(workload, res, verdicts, env, traced):
    """(result row, summary line) of one run."""
    # a check that fails marks wrong output: checks count as attempts too
    failed_checks = [v for v in verdicts if not v["ok"]]
    attempted = max(int(res["attempted"]) + len(verdicts), 1)
    failed = int(res["failed"]) + len(failed_checks)
    correct = not failed_checks and int(res["failed"]) == 0
    row = {
        "row": workload, "seed": res["seed"], "traced": traced,
        "correct": correct, "inputs_digest": res["digest"],
        "metrics": row_metrics(workload, res, failed, attempted),
        "checks": verdicts, "errors": res["errors"], "env": env,
    }
    if traced:
        layer = layer_metrics(workload, res) if "window" in res else {}
        row["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
        values = {k: (v, PER_LAYER[k]) for k, v in layer.items()}
    else:
        values = {k: (v, END_TO_END[k]) for k, v in contract_metrics(workload, res).items()}
    summary = {"correct": correct, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    return row, summary
