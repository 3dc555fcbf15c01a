"""Metric arithmetic for the benchmark: everything that turns a run record
(written by the JVM side, bench.Main) into the reported metrics.

Kept free of I/O so that test_metrics.py can check each rule directly.
"""

import statistics

MB = float(1 << 20)

# SQL metric types as Spark reports them, and the factor to seconds or MB.
UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / MB}

# Executed-plan SQL metrics, by (metric name, node-name prefix or "").
PLAN_METRICS = {
    "plan.scan_s": [("scan time", "")],
    "plan.codegen_s": [("duration", "WholeStageCodegen")],
    "plan.exchange_mb": [("shuffle bytes written", "")],
    "plan.exchange_write_s": [("shuffle write time", "")],
    "plan.fetch_wait_s": [("fetch wait time", "")],
    "plan.broadcast_build_s": [("time to build", "")],
    "plan.agg_build_s": [("time in aggregation build", "")],
    "plan.spill_mb": [("spill size", "")],
    "plan.write_commit_s": [("task commit time", ""), ("job commit time", "")],
}

LAYERS = ["op", "core", "sources", "functions", "operators.dedup",
          "operators.selection", "operators.similarity", "sinks", "action",
          "spark"]

ETL_OPS = ["bootstrap", "select", "upsert", "jdbc_write", "scan"]
SPARK_PER_OP = ["jobs", "tasks", "cpu_util", "task_wait_s", "gc_s"]
PLAN_PER_OP = ["scan_s", "codegen_s", "exchange_mb", "write_commit_s"]
LAYOUTS = ["ivf", "pq", "ivfpq"]

# Which op kinds play which role in each workload's end-to-end metrics.
# Bulk ops are summed per pass. On curate_serve the probes (one per index
# layout) are summed per pass too, so that every layout's probe counts.
ROLES = {
    "etl_sync": {"build": ["bootstrap"], "batch": ["select", "upsert", "jdbc_write"],
                 "scan": ["scan"]},
    "curate_serve": {"build": ["curate", "build"], "batch": ["ingest"], "scan": ["probe"]},
}
SCAN_PER_PASS = {"curate_serve"}


def convert(value, metric_type):
    """A raw SQL metric value in seconds (timings) or MB (sizes)."""
    return value * UNIT_SCALE.get(metric_type, 1.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def blocking_path(root, spans):
    """Self time along an op's blocking path, per layer.

    Every instant of `root` is charged to one span: a child rather than its
    parent, and where siblings overlap (concurrent jobs), the one that
    started first. For nested spans that do not overlap, a span's charge is
    its duration minus the part its children cover.

    `spans` are (id, parent, start, end, layer) for the root's descendants;
    `root` is (id, start, end, layer). Each child is clipped to its parent.
    Returns {layer: ns}; the values sum to the root's duration.
    """
    rid, rs, re_, rlayer = root
    kids = {}
    for sid, parent, s, e, layer in spans:
        kids.setdefault(parent, []).append((sid, s, e, layer))
    out = {}

    def walk(sid, s, e, layer):
        if e <= s:
            return
        inner = [(cs, ce, c, cl) for c, cs, ce, cl in kids.get(sid, [])]
        clipped = sorted((max(s, a), min(e, b), c, cl) for a, b, c, cl in inner)
        t = s
        for a, b, c, cl in clipped:
            if b <= a or b <= t:
                continue
            a = max(a, t)
            out[layer] = out.get(layer, 0) + (a - t)
            walk(c, a, b, cl)
            t = b
        out[layer] = out.get(layer, 0) + max(0, e - t)

    walk(rid, rs, re_, rlayer)
    return out


def covered(intervals):
    """Length covered by the union of (start, end) intervals."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if reach is None or a >= reach:
            total, reach = total + b - a, b
        elif b > reach:
            total, reach = total + b - reach, b
    return total


def self_times(root, spans):
    """Self time per layer computed span by span, as a cross-check of
    `blocking_path`: each span's duration minus the union of its children's
    intervals, with no clipping of the benchmark's own spans. Jobs (layer
    "spark") are leaves; the jobs under one parent count as the union of
    their intervals, clipped to the parent, since jobs may run concurrently
    and their millisecond times come from another clock.

    Same arguments as `blocking_path`. Equal to it, layer by layer, exactly
    when every span lies inside its parent and sibling spans do not overlap.
    """
    rid, rs, re_, rlayer = root
    kids = {}
    for sid, parent, s, e, layer in spans:
        kids.setdefault(parent, []).append((s, e, layer))
    out = {}
    own = [(rid, rs, re_, rlayer)] + [(sid, s, e, layer) for sid, _, s, e, layer in spans
                                      if layer != "spark"]
    for sid, s, e, layer in own:
        ch = kids.get(sid, [])
        jobs = [(max(s, a), min(e, b)) for a, b, l in ch if l == "spark"]
        calls = [(a, b) for a, b, l in ch if l != "spark"]
        out[layer] = out.get(layer, 0) + (e - s) - covered(calls + jobs)
        if jobs:
            out["spark"] = out.get("spark", 0) + covered(jobs)
    return out


def blocking_gap(root, spans):
    """Summed per-layer difference between `self_times` and `blocking_path`,
    relative to the root's duration: 0 when the spans nest."""
    wall = root[2] - root[1]
    if wall <= 0:
        return 0.0
    path, naive = blocking_path(root, spans), self_times(root, spans)
    return sum(abs(naive.get(l, 0) - path.get(l, 0)) for l in set(path) | set(naive)) / wall


def attribute_jobs(jobs, spans_by_id):
    """Map each job to the span that submitted it, skipping jobs no traced
    span submitted: {job id: span id}."""
    return {j["job"]: j["span"] for j in jobs if j["span"] in spans_by_id}


class Run:
    """Index over one run record."""

    def __init__(self, rec):
        self.rec = rec
        self.ops = {o["id"]: o for o in rec["ops"]}
        self.spans = {s["id"]: s for s in rec.get("spans", [])}
        eng = rec.get("engine") or {}
        self.jobs = eng.get("jobs", [])
        self.stages = eng.get("stages", [])
        self.driver_accums = eng.get("driver_accums", [])
        self.meta = eng.get("metric_meta", {})
        self.job_span = attribute_jobs(self.jobs, self.spans)
        self.exec_span = {}
        for j in self.jobs:
            if j["exec"] >= 0 and j["span"] in self.spans:
                self.exec_span.setdefault(j["exec"], j["span"])
        ms0, ns0 = rec.get("epoch_ms0", 0), 0
        self.job_ns = lambda ms: (ms - ms0) * 1_000_000 + ns0

    def op_of_span(self, sid):
        s = self.spans.get(sid)
        return self.ops.get(s["op"]) if s else None

    def op_kind(self, sid):
        o = self.op_of_span(sid)
        return o["kind"] if o else None

    def kind_ops(self, kinds):
        return [o for o in self.rec["ops"] if o["kind"] in kinds]

    def dur(self, o):
        return (o["end_ns"] - o["start_ns"]) / 1e9

    def span_total(self, layer, name=None):
        """Summed duration (s) of the spans of a layer, optionally of one name."""
        return sum(s["end_ns"] - s["start_ns"] for s in self.spans.values()
                   if s["layer"] == layer and name in (None, s["name"])) / 1e9

    def op_counter(self, name, op_ids=None):
        return sum(c["value"] for c in self.rec.get("op_counters", [])
                   if c["name"] == name and (op_ids is None or c["op"] in op_ids))

    def op_counter_max(self, name):
        vals = [c["value"] for c in self.rec.get("op_counters", []) if c["name"] == name]
        return max(vals) if vals else 0.0

    def plan_value(self, key, span_filter):
        """Sum of one plan metric over stages and driver updates whose span
        passes `span_filter`, converted to seconds or MB."""
        wanted = PLAN_METRICS[key]
        ids = {}
        for acc, (name, mtype, node) in self.meta.items():
            for n, prefix in wanted:
                if name == n and node.startswith(prefix):
                    ids[int(acc)] = mtype
        total = 0.0
        for st in self.stages:
            if not span_filter(st["span"]):
                continue
            for acc, v in st["accums"].items():
                if int(acc) in ids:
                    total += convert(v, ids[int(acc)])
        for d in self.driver_accums:
            if d["acc"] in ids and span_filter(self.exec_span.get(d["exec"], -1)):
                total += convert(d["value"], ids[d["acc"]])
        return total

    def plan_sum(self, name, span_filter):
        """Raw sum of a SQL metric by name (counts such as files read)."""
        ids = {int(a) for a, (n, _, _) in self.meta.items() if n == name}
        total = 0.0
        for st in self.stages:
            if span_filter(st["span"]):
                total += sum(v for a, v in st["accums"].items() if int(a) in ids)
        for d in self.driver_accums:
            if d["acc"] in ids and span_filter(self.exec_span.get(d["exec"], -1)):
                total += d["value"]
        return total


def passes_wall(rec):
    """Per pass: first op start to last op end, in seconds."""
    out = []
    for p in sorted({o["pass"] for o in rec["ops"] if o["pass"] > 0}):
        ops = [o for o in rec["ops"] if o["pass"] == p and not o["kind"].startswith("kernel.")]
        if ops:
            out.append((max(o["end_ns"] for o in ops) - min(o["start_ns"] for o in ops)) / 1e9)
    return out


def batch_samples(rec, kinds):
    """Latency of one batch: the summed durations of consecutive ops whose
    kinds are `kinds` in order (a single kind gives one sample per op)."""
    out, cur = [], []
    for o in rec["ops"]:
        if o["kind"] not in kinds:
            continue
        if o["kind"] == kinds[0]:
            cur = []
        cur.append((o["end_ns"] - o["start_ns"]) / 1e9)
        if o["kind"] == kinds[-1] and len(cur) == len(kinds):
            out.append(sum(cur))
    return out


def pass_sums(ops, kinds):
    """Per pass, the summed durations (s) of the ops whose kind is in `kinds`."""
    sums = {}
    for o in ops:
        if o["kind"] in kinds:
            sums[o["pass"]] = sums.get(o["pass"], 0.0) + (o["end_ns"] - o["start_ns"]) / 1e9
    return list(sums.values())


def op_latencies(rec):
    """{op kind: [seconds]} in run order."""
    out = {}
    for o in rec["ops"]:
        out.setdefault(o["kind"], []).append((o["end_ns"] - o["start_ns"]) / 1e9)
    return out


def counted_ops(rec):
    return [o for o in rec["ops"] if not o["kind"].startswith("kernel.")]


def end_to_end(rec):
    """Every end-to-end metric, from an untraced run."""
    roles = ROLES[rec["workload"]]
    ops = counted_ops(rec)
    dur = lambda kinds: [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops if o["kind"] in kinds]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    scans = (pass_sums(ops, roles["scan"]) if rec["workload"] in SCAN_PER_PASS
             else dur(roles["scan"]))
    c = rec["counters"]
    return {
        "setup_s": (median(rec["setup_s"]), "s"),
        "wall_s": (median(passes_wall(rec)), "s"),
        "success_rate": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
        "store_mb": (c.get("store_bytes", 0.0) / MB, "MB"),
        "build_s": (median(pass_sums(ops, roles["build"])), "s"),
        "batch_p50_s": (median(batch_samples(rec, roles["batch"])), "s"),
        "scan_p50_s": (median(scans), "s"),
        "recall": (c.get("recall", 0.0), "ratio"),
    }


def per_layer(rec):
    """Every per-layer metric, from a traced run."""
    r = Run(rec)
    c = rec["counters"]
    cores = rec["cores"]
    wl = rec["workload"]
    out = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    def ratio(a, b):
        return a / b if b else 0.0

    pass_ops = {o["id"] for o in counted_ops(rec)}
    in_pass = lambda sid: sid in r.spans and r.spans[sid]["op"] in pass_ops
    of_kinds = lambda kinds: (lambda sid: sid in r.spans and r.op_kind(sid) in kinds
                              and r.spans[sid]["op"] in pass_ops)

    # sources
    read_s = r.span_total("sources", "jdbc.read")
    put("sources.jdbc.read_s", read_s, "s")
    put("sources.jdbc.rows_per_s", ratio(r.op_counter("sources.jdbc.rows"), read_s), "1/s")
    reads = of_kinds({"scan", "probe"})
    read_ops = {o["id"] for o in r.kind_ops({"scan", "probe"})}
    put("sources.scan.time_s", r.plan_value("plan.scan_s", reads), "s")
    put("sources.scan.bytes_read_mb", r.plan_sum("size of files read", reads) / MB, "MB")
    put("sources.scan.files_read_ratio",
        ratio(r.plan_sum("number of files read", reads),
              r.op_counter("sources.scan.files_in_version", read_ops)), "ratio")

    # functions (scan kernels)
    for k in ["quality", "shingle", "minhash", "image_dhash", "image_features"]:
        put(f"functions.{k}.rows_per_s", ratio(c.get(f"functions.{k}.rows", 0.0),
                                               c.get(f"functions.{k}.s", 0.0)), "1/s")
    put("functions.image.decode_null_ratio",
        ratio(c.get("functions.image.decode_nulls", 0.0), c.get("functions.image.rows", 0.0)),
        "ratio")

    # operators
    dedup_spans = {sid for sid, s in r.spans.items() if s["layer"] == "operators.dedup"}
    put("operators.dedup.call_s", r.span_total("operators.dedup"), "s")
    put("operators.dedup.eager_jobs",
        sum(1 for sid in r.job_span.values() if sid in dedup_spans), "count")
    put("operators.dedup.persisted_mb", r.op_counter_max("operators.dedup.cached_bytes") / MB, "MB")
    put("operators.dedup.dup_recall", c.get("operators.dedup.dup_recall", 0.0), "ratio")
    put("operators.selection.call_s", r.span_total("operators.selection"), "s")
    for l in LAYOUTS:
        sim = {sid for sid, s in r.spans.items()
               if s["layer"] == "operators.similarity" and s["name"].startswith(l + ".")}
        probe_ops = {o["id"] for o in rec["ops"]
                     if o["kind"] == "probe"
                     and r.op_counter(f"operators.similarity.{l}.probe", {o["id"]}) > 0}
        in_probe = lambda sid, ids=probe_ops: sid in r.spans and r.spans[sid]["op"] in ids
        p = f"operators.similarity.{l}"
        put(f"{p}.build_s", r.span_total("operators.similarity", f"{l}.build"), "s")
        put(f"{p}.append_s", r.span_total("operators.similarity", f"{l}.append"), "s")
        put(f"{p}.probe_call_s", r.span_total("operators.similarity", f"{l}.probeTopK"), "s")
        put(f"{p}.eager_jobs", sum(1 for sid in r.job_span.values() if sid in sim), "count")
        put(f"{p}.probe_read_mb", r.plan_sum("size of files read", in_probe) / MB, "MB")
        put(f"{p}.probe_files_read_ratio",
            ratio(r.plan_sum("number of files read", in_probe),
                  r.op_counter("sources.scan.files_in_version", probe_ops)), "ratio")
        put(f"{p}.index_mb", c.get(f"{p}.index_bytes", 0.0) / MB, "MB")
        put(f"{p}.recall_at_10", c.get(f"{p}.recall_at_10", 0.0), "ratio")
    put("operators.similarity.maintain_s",
        sum(r.span_total("operators.similarity", f"{l}.maintain") for l in LAYOUTS), "s")

    # sinks
    put("sinks.snapshot_store.upsert_s", r.span_total("sinks", "SnapshotStore.upsert"), "s")
    put("sinks.snapshot_store.read_call_s", r.span_total("sinks", "SnapshotStore.read"), "s")
    put("sinks.snapshot_store.touched_bucket_ratio",
        ratio(r.op_counter("sinks.snapshot_store.touched_buckets"),
              r.op_counter("sinks.snapshot_store.buckets")), "ratio")
    put("sinks.snapshot_store.bytes_written_per_row",
        ratio(r.op_counter("sinks.snapshot_store.bytes_written"),
              r.op_counter("sinks.snapshot_store.rows")), "B")
    put("sinks.snapshot_store.files_written", r.op_counter("sinks.snapshot_store.files_written"), "count")
    write_s = r.span_total("sinks", "JdbcUpsert.write")
    put("sinks.jdbc_upsert.write_s", write_s, "s")
    put("sinks.jdbc_upsert.rows_per_s", ratio(r.op_counter("sinks.jdbc_upsert.rows"), write_s), "1/s")
    put("sinks.jdbc_upsert.prohibited", r.op_counter("sinks.jdbc_upsert.prohibited"), "count")

    # core
    put("core.graph_run_s", r.span_total("core", "Graph.run"), "s")
    put("core.leaked_persists", r.op_counter("core.leaked_persists"), "count")
    put("core.cached_mb", c.get("core.cached_bytes", 0.0) / MB, "MB")

    # engine and plan, whole run and per etl op type
    def engine(prefix, flt, kinds):
        wall = sum(r.dur(o) for o in counted_ops(rec) if o["kind"] in kinds)
        st = [s for s in r.stages if flt(s["span"])]
        run_s = sum(s["run_ms"] for s in st) / 1e3
        vals = {
            "jobs": (sum(1 for j in r.jobs if flt(j["span"])), "count"),
            "tasks": (sum(s["tasks"] for s in st), "count"),
            "cpu_util": (ratio(run_s, wall * cores), "ratio"),
            "task_wait_s": (sum(max(0, s["dur_ms"] - s["run_ms"]) for s in st) / 1e3, "s"),
            "gc_s": (sum(s["gc_ms"] for s in st) / 1e3, "s"),
            "shuffle_write_mb": (sum(s["shuffle_write_bytes"] for s in st) / MB, "MB"),
            "spill_mb": (sum(s["spill_bytes"] for s in st) / MB, "MB"),
        }
        return {f"{prefix}.{k}": v for k, v in vals.items()}

    all_kinds = {o["kind"] for o in counted_ops(rec)}
    for k, v in engine("spark", in_pass, all_kinds).items():
        put(k, *v)
    for key in PLAN_METRICS:
        put(key, r.plan_value(key, in_pass), "MB" if key.endswith("_mb") else "s")
    for op in ETL_OPS:
        flt = of_kinds({op}) if wl == "etl_sync" else (lambda sid: False)
        eng = engine(f"spark.{op}", flt, {op})
        for k in SPARK_PER_OP:
            put(f"spark.{op}.{k}", *eng[f"spark.{op}.{k}"])
        for k in PLAN_PER_OP:
            put(f"plan.{op}.{k}", r.plan_value(f"plan.{k}", flt), "MB" if k.endswith("_mb") else "s")

    # blocking path: each instant of an op charged to its deepest open span
    by_layer = {l: 0.0 for l in LAYERS}
    worst_gap = 0.0
    children = [(sid, s["parent"], s["start_ns"], s["end_ns"], s["layer"])
                for sid, s in r.spans.items() if s["layer"] != "op"]
    for j in r.jobs:
        if j["span"] in r.spans and j["end_ms"] > 0:
            children.append((f"job{j['job']}", j["span"], r.job_ns(j["start_ms"]),
                             r.job_ns(j["end_ms"]), "spark"))
    by_op = {}
    for ch in children:
        owner = ch[1]
        top = r.spans[owner]["op"] if owner in r.spans else None
        by_op.setdefault(top, []).append(ch)
    for sid, s in r.spans.items():
        if s["layer"] != "op" or s["op"] not in pass_ops:
            continue
        root = (sid, s["start_ns"], s["end_ns"], "op")
        path = blocking_path(root, by_op.get(s["op"], []))
        worst_gap = max(worst_gap, blocking_gap(root, by_op.get(s["op"], [])))
        for layer, ns in path.items():
            by_layer[layer] = by_layer.get(layer, 0.0) + ns / 1e9
    for layer in LAYERS:
        put(f"{layer}.self_s", by_layer.get(layer, 0.0), "s")
    put("trace.wall_s", median(passes_wall(rec)), "s")
    put("trace.blocking_gap", worst_gap, "ratio")
    return out
