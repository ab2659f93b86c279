"""Reduce a raw run record (written by perfbench.Main) to named metrics.

Pure functions only, so the rules are unit-tested in perfbench/tests:
the tail-percentile rule, the union of job intervals behind
`driver_gap_ms`, and span self time.
"""
import statistics

WORKLOADS = ("elt_lifecycle", "curation_store")

# the operator gates curation_store runs (perfbench.Gates.Curation)
GATES = ("kneser_ney_logppl",)

# the steady-state operation of each workload
STEADY = {"elt_lifecycle": ("elt.ingest_round",),
          "curation_store": ("curation.query_unfiltered", "curation.query_filtered"),
          "operator_gates": ()}

# every operation kind any workload records
OP_KINDS = (
    ["elt.project_build", "elt.project_noop", "elt.project_rebuild", "elt.test",
     "elt.preview", "elt.stream_catchup", "elt.ingest_round",
     "curation.dedup_ingest", "curation.ann_ingest",
     "curation.query_filtered", "curation.query_unfiltered", "curation.forget",
     "curation.compact"]
    + ["gate." + g for g in GATES])

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

# name, unit, better. Reported by every run (trace 0).
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("lifecycle_s", "s", "lower"),
    ("steady_p50_ms", "ms", "lower"),
    ("heap_retained_mb", "MB", "lower"),
]


def _per_layer():
    m = []
    add = lambda n, u, b="lower": m.append((n, u, b))
    # the workload-level figures each workload owns (0 on the others)
    for n in ("project_build_s", "project_noop_s", "project_rebuild_s"):
        add("elt." + n, "s")
    add("elt.preview_p50_ms", "ms")
    add("elt.freshness_p50_ms", "ms")
    add("elt.ingest_rows_per_s", "1/s", "higher")
    add("curation.ingest_rows_per_s", "1/s", "higher")
    add("curation.ann_query_p50_ms", "ms")
    add("curation.forget_s", "s")
    add("ops_failed_frac", "fraction")
    add("session_start_s", "s")
    add("lifecycle_cpu_s", "s")
    add("steady_cpu_s", "s")
    add("prepare_s", "s")
    add("trace_overhead_frac", "fraction")
    add("harness_self_ms", "ms")
    # engine.control: standalone sub-steps at the built catalog's state
    for n in ("register_views", "sources_of", "infer_schema", "has_changed",
              "catalog_list"):
        add(f"engine.control.{n}_ms", "ms")
    add("engine.control.catalog_streams", "count")
    # engine.project
    add("engine.project.load_models_ms", "ms")
    add("engine.project.models_created", "count", "higher")
    add("engine.project.models_unchanged", "count", "higher")
    add("engine.project.driver_gap_ms", "ms")
    # engine.store
    for n in ("append_p50_ms", "read_p50_ms", "compact_ms"):
        add("engine.store." + n, "ms")
    add("engine.store.files", "count")
    add("engine.store.bytes", "bytes")
    # streaming (StreamingQuery progress)
    add("streaming.refresh_p50_ms", "ms")
    for n in ("trigger_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms"):
        add("streaming." + n, "ms")
    add("streaming.input_rows", "count", "higher")
    # engine.preview
    add("engine.preview.test_p50_ms", "ms")
    # engine.index
    for n in ("dedup_ingest_p50_ms", "ann_ingest_p50_ms", "query_filtered_p50_ms",
              "query_unfiltered_p50_ms", "forget_ms"):
        add("engine.index." + n, "ms")
    add("engine.index.sibling_files", "count")
    add("engine.index.dedup_dropped", "count", "higher")
    add("engine.index.dedup_dropped_ratio", "fraction", "higher")
    add("engine.index.recall_at_10", "fraction", "higher")
    # operators
    for g in GATES:
        add(f"operators.{g}_s", "s")
    # spark (listeners)
    for n in ("jobs", "stages", "tasks"):
        add("spark." + n, "count")
    for n in ("executor_run_ms", "executor_cpu_ms", "analysis_ms",
              "optimization_ms", "planning_ms"):
        add("spark." + n, "ms")
    for n in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "peak_exec_mem_bytes"):
        add("spark." + n, "bytes")
    add("spark.persisted_rdds_end", "count")
    for k in OP_KINDS:
        add(f"spark.jobs.{k}", "count")
        add(f"spark.stages.{k}", "count")
    return m


PER_LAYER = _per_layer()


# ---- pure helpers (unit-tested) -------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def tail_percentile(n, ladder=TAIL_LADDER, beyond=10):
    """The highest percentile of `ladder` that leaves at least `beyond`
    samples above it in a sample of `n`, or None when none does."""
    best = None
    for p in ladder:
        if n * (100.0 - p) >= beyond * 100.0 - 1e-6:
            best = p
    return best


def tail(xs):
    """(value, percentile, samples); value and percentile are 0 when the
    sample is too small for any percentile with ten samples beyond it."""
    p = tail_percentile(len(xs))
    if p is None:
        return 0.0, 0.0, len(xs)
    return percentile(xs, p), p, len(xs)


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((a, b) for a, b in intervals if b > a):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans):
    """Span id -> its duration minus the part of its interval that its
    child spans cover. Spans are dicts with id, parent, t0, t1."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(
        clipped(children.get(s["id"], []), s["t0"], s["t1"])) for s in spans}


# ---- reduction --------------------------------------------------------------

def _durations(ops, kind):
    return [o["t1"] - o["t0"] for o in ops if o["kind"] == kind and o["ok"]]


def end_to_end(r):
    steady = [o["t1"] - o["t0"] for o in r["ops"]
              if o["kind"] in STEADY.get(r["workload"], ()) and o["ok"]]
    return {
        "setup_s": r["session_start_s"] + r["prepare_s"] + median(r["setups_ms"]) / 1000.0,
        "lifecycle_s": r["lifecycle_ms"] / 1000.0,
        "steady_p50_ms": median(steady),
        "heap_retained_mb": r["heap_retained_mb"],
    }


def counts(r):
    """(attempted, failed): every operation and every output check."""
    attempted = len(r["ops"]) + len(r["checks"])
    failed = sum(not o["ok"] for o in r["ops"]) + sum(not c["ok"] for c in r["checks"])
    return attempted, failed


def per_layer(r):
    ops = r["ops"]
    vals = {k: median(v) for k, v in r["values"].items()}
    spans = r["spans"]
    out = {name: 0.0 for name, _, _ in PER_LAYER}

    def span_ms(layer, name):
        return [s["t1"] - s["t0"] for s in spans if s["layer"] == layer and s["name"] == name]

    def total(kind):
        return sum(_durations(ops, kind))

    # workload-level figures
    out["elt.project_build_s"] = total("elt.project_build") / 1000
    out["elt.project_noop_s"] = total("elt.project_noop") / 1000
    out["elt.project_rebuild_s"] = total("elt.project_rebuild") / 1000
    out["elt.preview_p50_ms"] = median(_durations(ops, "elt.preview"))
    rounds = _durations(ops, "elt.ingest_round")
    out["elt.freshness_p50_ms"] = median(rounds)
    if rounds:
        rows = sum(r["values"].get("elt.ingest_rows", []))
        out["elt.ingest_rows_per_s"] = rows / (sum(rounds) / 1000)
    ingest = _durations(ops, "curation.dedup_ingest") + _durations(ops, "curation.ann_ingest")
    if ingest:
        rows = sum(r["values"].get("curation.ingest_rows", []))
        out["curation.ingest_rows_per_s"] = rows / (sum(ingest) / 1000)
    out["curation.ann_query_p50_ms"] = median(
        _durations(ops, "curation.query_filtered") + _durations(ops, "curation.query_unfiltered"))
    out["curation.forget_s"] = median(_durations(ops, "curation.forget")) / 1000
    out["session_start_s"] = r["session_start_s"]
    out["lifecycle_cpu_s"] = r["lifecycle_cpu_ms"] / 1000.0
    out["steady_cpu_s"] = r["steady_cpu_ms"] / 1000.0
    out["prepare_s"] = r["prepare_s"]
    op_total = sum(o["t1"] - o["t0"] for o in ops)
    # time inside operations but outside every layer call: the benchmark's
    # own reads of results (self time of the operation spans)
    selfs = self_times(spans)
    out["harness_self_ms"] = sum(selfs[s["id"]] for s in spans if s["layer"] == "op")
    if op_total:
        out["trace_overhead_frac"] = (r["listener_ms"] + r["drain_ms"]) / op_total

    # engine.control (probes)
    probe = lambda layer, name: median([p["ms"] for p in r["probes"]
                                        if p["layer"] == layer and p["name"] == name])
    for key, name in (("register_views", "registerViews"), ("sources_of", "sourcesOf"),
                      ("infer_schema", "inferSchema"), ("has_changed", "hasChanged"),
                      ("catalog_list", "catalogList")):
        out[f"engine.control.{key}_ms"] = probe("engine.control", name)
    out["engine.control.catalog_streams"] = vals.get("engine.control.catalog_streams", 0.0)

    # engine.project
    out["engine.project.load_models_ms"] = probe("engine.project", "loadModels")
    out["engine.project.models_created"] = vals.get("engine.project.models_created", 0.0)
    out["engine.project.models_unchanged"] = vals.get("engine.project.models_unchanged", 0.0)
    gaps = []
    for o in ops:
        if o["kind"].startswith("elt.project_") and o["traced"]:
            js = [(j["t0"], j["t1"]) for j in r["jobs"] if j["op"] == o["kind"]]
            gaps.append((o["t1"] - o["t0"]) - union_length(clipped(js, o["t0"], o["t1"])))
    out["engine.project.driver_gap_ms"] = sum(gaps)

    # engine.store
    out["engine.store.append_p50_ms"] = median(span_ms("engine.store", "appendRows"))
    out["engine.store.read_p50_ms"] = median(span_ms("engine.store", "readStream"))
    out["engine.store.compact_ms"] = median(span_ms("engine.store", "compactStorage"))
    out["engine.store.files"] = vals.get("engine.store.files", 0.0)
    out["engine.store.bytes"] = vals.get("engine.store.bytes", 0.0)

    # streaming
    out["streaming.refresh_p50_ms"] = median(span_ms("streaming", "refreshAvailable"))
    prog = r["progress"]
    for n in ("trigger_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms"):
        out["streaming." + n] = median([p[n] for p in prog])
    out["streaming.input_rows"] = sum(p["input_rows"] for p in prog)

    # engine.preview
    out["engine.preview.test_p50_ms"] = median(span_ms("engine.preview", "runTestJudged"))

    # engine.index
    for key, name in (("dedup_ingest_p50_ms", "curation.dedup_ingest"),
                      ("ann_ingest_p50_ms", "curation.ann_ingest"),
                      ("query_filtered_p50_ms", "curation.query_filtered"),
                      ("query_unfiltered_p50_ms", "curation.query_unfiltered")):
        out["engine.index." + key] = median(_durations(ops, name))
    out["engine.index.forget_ms"] = median(span_ms("engine.index", "forgetRows"))
    for n in ("sibling_files", "dedup_dropped", "dedup_dropped_ratio", "recall_at_10"):
        out["engine.index." + n] = vals.get("engine.index." + n, 0.0)

    # operators
    for g in GATES:
        out[f"operators.{g}_s"] = median(_durations(ops, "gate." + g)) / 1000

    # spark
    st, jobs, ph = r["stages"], r["jobs"], r["phases"]
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(st)
    out["spark.tasks"] = sum(s["tasks"] for s in st)
    out["spark.executor_run_ms"] = sum(s["run_ms"] for s in st)
    out["spark.executor_cpu_ms"] = sum(s["cpu_ms"] for s in st)
    for n in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out["spark." + n] = sum(s[n] for s in st)
    out["spark.peak_exec_mem_bytes"] = max([s["peak_exec_mem_bytes"] for s in st], default=0)
    for n in ("analysis_ms", "optimization_ms", "planning_ms"):
        out["spark." + n] = sum(p[n] for p in ph)
    out["spark.persisted_rdds_end"] = r["persisted_rdds_end"]
    # every kind this run recorded (the file record keeps kinds beyond
    # OP_KINDS, e.g. the gates of an operator_gates run)
    for k in sorted(set(OP_KINDS) | {o["kind"] for o in ops}):
        out[f"spark.jobs.{k}"] = sum(1 for j in jobs if j["op"] == k)
        out[f"spark.stages.{k}"] = sum(1 for s in st if s["op"] == k)
    # file record only: the per-kind split of executor time and shuffle
    for k in sorted({o["kind"] for o in ops}):
        out[f"spark.executor_run_ms.{k}"] = sum(s["run_ms"] for s in st if s["op"] == k)
        out[f"spark.shuffle_write_bytes.{k}"] = sum(
            s["shuffle_write_bytes"] for s in st if s["op"] == k)
        out[f"op_ms.{k}"] = median(_durations(ops, k))
    # file record only: tails need at least 20 samples, which a run of a
    # few seconds does not make (see README)
    all_ops = [o["t1"] - o["t0"] for o in ops if o["ok"]]
    out["op_tail_ms"], out["op_tail_pct"], out["op_samples"] = tail(all_ops)
    q = _durations(ops, "curation.query_filtered") + _durations(ops, "curation.query_unfiltered")
    (out["engine.index.query_tail_ms"], out["engine.index.query_tail_pct"],
     out["engine.index.query_samples"]) = tail(q)
    return out
