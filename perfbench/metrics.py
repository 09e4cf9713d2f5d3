"""Turns one JVM run's raw record (spans, listener figures, checks) into
the benchmark's metrics. Pure functions, so they can be unit-tested."""

import statistics

# --- the result line: every run prints exactly these ----------------------

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
]

# spans whose Spark work (summed over the span and its children) is spark.<span>.*
SPARK_CALLS = ["profile", "segmented", "to_store", "store_read", "ks_stats",
               "near_dup_clusters", "ivfpq_search"]
SPARK_FIELDS = [
    ("jobs", "count", "lower"), ("stages", "count", "lower"),
    ("tasks", "count", "lower"), ("exec_run_s", "s", "lower"),
    ("exec_cpu_s", "s", "lower"), ("sched_wait_s", "s", "lower"),
    ("shuffle_bytes", "B", "lower"), ("spill_bytes", "B", "lower"),
    ("peak_exec_mem_mb", "MB", "lower"), ("core_util", "ratio", "higher"),
    ("failed_tasks", "count", "lower"),
]

# per-layer metric -> the span whose self time it is
SPAN_METRICS = {
    "api.profile.construct_s": "api.profile.construct",
    "api.profile.action_s": "api.profile.action",
    "api.profile.parse_s": "api.profile.parse",
    "api.segmented_s": "segmented",
    "api.store.read_s": "store_read",
    "streaming.start_s": "streaming.start",
    "streaming.query_s": "streaming.query",
    "profile.merge_s": "merge",
    "profile.why1_encode_s": "why1_encode",
    "profile.why1_decode_s": "why1_decode",
    "analysis.drift_scores_s": "drift_scores",
    "analysis.constraints_s": "constraints",
    "analysis.ks_stats_s": "ks_stats",
    "pipeline.dedup_exact_s": "dedup_exact",
    "pipeline.minhash_pairs_s": "minhash_pairs",
    "pipeline.near_dup_clusters_s": "near_dup_clusters",
    "pipeline.ivfpq_build_s": "ivfpq_build",
    "pipeline.ivfpq_search_s": "ivfpq_search",
}
# StreamingQueryProgress.durationMs keys
STREAM_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
}
GAUGES = {  # per-operation gauges the JVM recorded
    "api.store.files": ("count", "lower"),
    "api.store.bytes_per_profile": ("B", "lower"),
    "profile.why1_bytes": ("B", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.cpu_s": ("s", "lower"),
}
RUN_GAUGES = {  # run-level gauges from the checks
    "pipeline.pair_yield": ("ratio", "higher"),
    "pipeline.ivfpq_recall_at_k": ("ratio", "higher"),
}
CORE_CALLS = ["profile", "segmented", "to_store"]


def per_layer_spec():
    """[(name, unit, better)] of every per-layer metric, in print order."""
    spec = []
    for name in SPAN_METRICS:
        spec.append((name, "s", "lower"))
    spec += [(n, "ms", "lower") for n in STREAM_DURATIONS]
    spec += [("streaming.batches", "count", "lower"),
             ("streaming.input_rows", "count", "higher")]
    spec += [(n, u, b) for n, (u, b) in GAUGES.items()]
    spec += [(n, u, b) for n, (u, b) in RUN_GAUGES.items()]
    spec += [(f"core.{c}.partitions", "count", "higher") for c in CORE_CALLS]
    spec += [(f"spark.{c}.{f}", u, b) for c in SPARK_CALLS for f, u, b in SPARK_FIELDS]
    spec += [("jvm.persistent_rdds_end", "count", "lower"),
             ("jvm.temp_views_end", "count", "lower"),
             ("jvm.heap_retained_mb", "MB", "lower"),
             ("trace.overhead_s", "s", "lower")]
    return spec


# --- statistics ------------------------------------------------------------

def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (percent, value), or None when there are not more than `beyond` samples."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - 1 - beyond  # 0-based rank of the sample with `beyond` above it
    p = 100.0 * k / (n - 1) if n > 1 else 0.0
    return p, sorted(values)[k]


# --- spans -----------------------------------------------------------------

def self_times(spans):
    """span id -> its duration minus the time its direct children cover
    (children may not overlap each other: one client thread)."""
    covered = {}
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - covered.get(s["id"], 0.0) for s in spans}


def subtree(spans, root_id):
    """Ids of `root_id` and all its descendants."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(children.get(i, []))
    return out


# --- metrics of one run ----------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_ops(record, traced):
    """Indices of the timed (non-warm-up) operations with the given traced flag."""
    return {o["index"] for o in record["ops"] if not o["warmup"] and o["traced"] == traced}


def op_durations(record, traced):
    ops = timed_ops(record, traced)
    return [s["end"] - s["start"] for s in record["spans"] if s["name"] == "op" and s["op"] in ops]


def end_to_end(record):
    durations = op_durations(record, traced=False)
    if not durations:
        raise ValueError("no untraced timed operation completed")
    return {
        "setup_s": record["setup_s"],
        "op_p50_s": statistics.median(durations),
    }


def per_layer(record):
    spans = record["spans"]
    traced_ops = timed_ops(record, traced=True)
    selft = self_times(spans)
    cores = record["env"]["cores"]
    out = {}

    def per_op(fn):
        """median over traced operations of fn(op index)."""
        return _median([fn(i) for i in sorted(traced_ops)])

    def spans_named(op, name):
        return [s for s in spans if s["op"] == op and s["name"] == name]

    for metric, name in SPAN_METRICS.items():
        out[metric] = per_op(lambda i, n=name: sum(selft[s["id"]] for s in spans_named(i, n)))

    stream = record.get("streaming", {})

    def progress(i):
        entries = []
        for s in spans_named(i, "to_store"):
            for sid in subtree(spans, s["id"]):
                entries += stream.get(str(sid), [])
        return entries

    for metric, key in STREAM_DURATIONS.items():
        out[metric] = per_op(lambda i, k=key: sum(e.get(k, 0) for e in progress(i)))
    out["streaming.batches"] = per_op(lambda i: len(progress(i)))
    out["streaming.input_rows"] = per_op(lambda i: sum(e["input_rows"] for e in progress(i)))

    gauges = {o["index"]: o["gauges"] for o in record["ops"]}
    for metric in GAUGES:
        out[metric] = per_op(lambda i, m=metric: gauges[i].get(m, 0.0))
    for metric in RUN_GAUGES:
        out[metric] = record.get("run_gauges", {}).get(metric, 0.0)

    spark = record.get("spark", {})

    def spark_of(i, call):
        """Listener figures summed over the call's span subtrees in op i."""
        agg = {f: 0.0 for f, _, _ in SPARK_FIELDS}
        stages, wall = [], 0.0
        for s in spans_named(i, call):
            wall += s["end"] - s["start"]
            for sid in subtree(spans, s["id"]):
                st = spark.get(str(sid))
                if not st:
                    continue
                for f in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                          "sched_wait_s", "shuffle_bytes", "spill_bytes", "failed_tasks"):
                    agg[f] += st[f]
                agg["peak_exec_mem_mb"] = max(agg["peak_exec_mem_mb"], st["peak_exec_mem_mb"])
                stages += st["stages_seen"]
        agg["core_util"] = agg["exec_run_s"] / (wall * cores) if wall > 0 else 0.0
        scans = sorted(s for s in stages if s[2] > 0)
        agg["scan_partitions"] = scans[0][1] if scans else 0
        return agg

    for call in SPARK_CALLS:
        for f, _, _ in SPARK_FIELDS:
            out[f"spark.{call}.{f}"] = per_op(lambda i, c=call, f=f: spark_of(i, c)[f])
    for call in CORE_CALLS:
        out[f"core.{call}.partitions"] = per_op(lambda i, c=call: spark_of(i, c)["scan_partitions"])

    jvm = record["jvm"]
    out["jvm.persistent_rdds_end"] = jvm["persistent_rdds_end"] - jvm["persistent_rdds_after_warmup"]
    out["jvm.temp_views_end"] = jvm["temp_views_end"] - jvm["temp_views_after_warmup"]
    out["jvm.heap_retained_mb"] = jvm["heap_end_mb"] - jvm["heap_after_warmup_mb"]
    traced = op_durations(record, traced=True)
    untraced = op_durations(record, traced=False)
    out["trace.overhead_s"] = (_median(traced) - _median(untraced)) if traced and untraced else 0.0
    assert set(out) == {n for n, _, _ in per_layer_spec()}, "per-layer spec out of sync"
    return out


def workload_figures(workload, record):
    """The workload's own headline figures (named as in the README), for the
    human-readable summary and the results file."""
    ops = op_durations(record, traced=False)
    figs = {}
    if workload == "monitor_loop":
        figs["monitor_cycle_s.p50"] = (statistics.median(ops), "s")
        t = tail(ops)
        figs["monitor_cycle_s.tail"] = ((t[1], f"s (p{t[0]:.1f} of {len(ops)} cycles)")
                                        if t else (None, f"s (needs >10 cycles, ran {len(ops)})"))
    elif workload == "curate_corpus":
        figs["curate_docs_per_s"] = (record["items_per_op"] / statistics.median(ops), "1/s")
    jvm = record["jvm"]
    figs["heap_retained_mb"] = (jvm["heap_end_mb"] - jvm["heap_after_warmup_mb"], "MB")
    return figs
