"""Derive the end-to-end and per-layer metrics from a JVM run record.

End-to-end metrics come from the untraced phase of a run; per-layer
metrics from the traced phase. A per-layer metric whose layer a workload
does not exercise reads 0.
"""
from .stats import median, median_tail, self_times, tail, union_length

E2E = {  # name -> unit
    "setup_s": "s", "peak_rss_mb": "MB", "latency_p50_ms": "ms",
    "latency_tail_ms": "ms", "throughput_per_s": "1/s",
}

PER_LAYER = {  # name -> unit
    "ChSql.sql_ms": "ms", "ChSql.translate_ms": "ms", "ChSql.self_ms": "ms",
    "catalyst.parsing_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "plans.rules_ms": "ms", "plans.rules_effective_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.stage_gap_ms": "ms", "spark.task_busy_share": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_ms": "ms",
    "Tables.rows_read": "count", "Tables.bytes_read": "bytes", "Tables.scan_rows_per_s": "1/s",
    "functions.shingle_rows_per_s": "1/s", "functions.minhash_rows_per_s": "1/s",
    "functions.textstats_rows_per_s": "1/s", "functions.simhash_rows_per_s": "1/s",
    "functions.dot_pairs_per_s": "1/s", "functions.int8_quantize_rows_per_s": "1/s",
    "Dedup.minhashPairs_ms": "ms", "Dedup.candidate_pairs": "count",
    "Dedup.verified_pairs": "count", "Dedup.verify_yield": "ratio",
    "Dedup.planted_recall": "ratio", "Dedup.cached_bytes": "bytes",
    "Similarity.topk_ms": "ms", "Similarity.int8_topk_ms": "ms",
    "Similarity.scored_pairs": "count", "Similarity.planted_hit_rate": "ratio",
    "TextAnalysis.pipeline_ms": "ms",
    "streaming.batch_ms": "ms", "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms", "streaming.walCommit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.rows_evicted": "count", "streaming.duplicates_dropped": "count",
    "streaming.sink_write_ms": "ms", "streaming.backlog_rows": "count",
    "jvm.gc_ms": "ms", "jvm.heap_used_peak_mb": "MB",
    # the workload figures behind the generic end-to-end metrics
    "dedup_docs_per_s": "1/s", "text_docs_per_s": "1/s", "ann_vectors_per_s": "1/s",
    "stream_sustained_rows_per_s": "1/s", "stream_generator_late_ms": "ms",
    "stream_lag_run_tail_ms": "ms",
    # traced minus untraced, per end-to-end metric measured in both halves
    "trace.overhead_latency_p50_ms": "ms", "trace.overhead_latency_tail_ms": "ms",
    "trace.overhead_throughput_per_s": "1/s",
}

def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ms(op):
    return op["end"] - op["start"]


def latency_figures(rec, workload, phase):
    """(latency samples in ms, (tail in ms, how it was read), throughput
    per second) of one phase."""
    ops = [o for o in rec["ops"] if o["phase"] == phase]
    if workload == "stream_ingest":
        st = rec["info"]["stream"]
        by_batch = stream_lags(st, phase)
        lat = [x for b in by_batch for x in b]
        t, pct, n_batches = median_tail(by_batch)
        note = (f"tail = median over {n_batches} micro-batches of each batch's "
                f"tail (median p{pct:.2f}, 10 rows beyond)")
        return lat, (t, note), capacity(st, phase)
    if workload == "ch_sql":
        lat = [_ms(o) for o in ops if o["kind"] == "query"]
        thr = 1000.0 * len(lat) / max(sum(lat), 1e-9)
    else:
        stages = [o for o in ops if o["kind"] == "stage"]
        passes = [stages[i:i + 4] for i in range(0, len(stages) - 3, 4)]
        lat = [sum(_ms(o) for o in p) for p in passes]
        thr = 1000.0 * rec["info"]["n_docs"] * len(lat) / max(sum(lat), 1e-9)
    t, pct, beyond, _ = tail(lat)
    return lat, (t, f"tail = p{pct:.2f} with {beyond} samples beyond"), thr


def stream_lags(st, phase):
    """Per-row lags (ms) of the rows created during the phase's lag rung
    (its first rung), one list per micro-batch that read any of them.
    The memory source hands out rows in feeding order, so a batch reads
    the `rows_in` rows that follow those of the batches before it, and a
    row's scheduled creation time follows from its rung's start and
    rate. Its lag is the batch's commit time minus that creation time."""
    rungs = st["rungs"]
    k = next((i for i, r in enumerate(rungs) if r["phase"] == phase), None)
    if k is None:
        return []
    rung = rungs[k]
    first = sum(r["fed"] for r in rungs[:k])
    last = first + rung["fed"]
    step = 1000.0 / rung["rate"]
    out, pos = [], 0
    for b in sorted(st["batches"], key=lambda b: b["batch"]):
        lo, hi = max(pos, first), min(pos + b["rows_in"], last)
        pos += b["rows_in"]
        if hi > lo:
            out.append([b["commit"] - (rung["start"] + (i - first) * step) for i in range(lo, hi)])
    return out


def capacity(st, phase):
    """Rows the query processed per second of micro-batch busy time in
    this phase: the rate it could sustain, measured at the offered load."""
    prog = [p for p in st["progress"] if p["phase"] == phase]
    busy = sum(p["durations"].get("triggerExecution", 0) for p in prog)
    return 1000.0 * sum(p["rows"] for p in prog) / max(busy, 1e-9)


def sustained_rate(st, phase):
    """Highest offered rate of the ladder whose backlog did not grow. The
    backlog saw-tooths with each micro-batch, so its troughs are
    compared: the lowest backlog over a rung's last third may exceed that
    of its first third by at most 0.25 s of input."""
    best = 0.0
    for r in st["rungs"]:
        if r["phase"] != phase or len(r["backlog"]) < 3:
            continue
        b = [x[1] for x in r["backlog"]]
        third = max(1, len(b) // 3)
        if min(b[-third:]) - min(b[:third]) <= 0.25 * r["rate"]:
            best = max(best, r["rate"])
    return best


def end_to_end(rec, workload, setup_s):
    lat, (t, note), thr = latency_figures(rec, workload, "untraced")
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": rec["jvm"]["rss_peak_mb"],
        "latency_p50_ms": median(lat),
        "latency_tail_ms": t,
        "throughput_per_s": thr,
    }
    return values, f"latency samples {len(lat)}, {note}"


def per_layer(rec, spans, workload):
    m = {k: 0.0 for k in PER_LAYER}
    ops = {o["id"]: o for o in rec["ops"] if o["phase"] == "traced"}
    counts = [c for c in rec["counts"] if c["op"] in ops or workload == "stream_ingest"]
    traced_spans = [s for s in spans if s["op"] in ops or workload == "stream_ingest"]

    def count_vals(key):
        return [c["value"] for c in counts if c["key"] == key]

    def span_ms(name):
        return [s["end"] - s["start"] for s in traced_spans if s["name"] == name]

    # ChSql and Catalyst, per query
    by_op = {}
    for c in counts:
        by_op.setdefault(c["op"], {}).setdefault(c["key"], []).append(c["value"])
    text_ops = [o for o, kv in by_op.items() if "chsql.text" in kv]
    sql = {s["op"]: s["end"] - s["start"] for s in traced_spans if s["name"] == "ChSql.sql"}
    tr = {s["op"]: s["end"] - s["start"] for s in traced_spans if s["name"] == "ChSql.translate"}
    m["ChSql.sql_ms"] = _mean(sql.values())
    m["ChSql.translate_ms"] = _mean(tr.values())
    m["ChSql.self_ms"] = _mean(
        sql[o] - tr.get(o, 0) - sum(by_op[o].get("phase.parsing", [0]))
        - sum(by_op[o].get("phase.analysis", [0])) for o in text_ops if o in sql)
    query_ops = [o for o, kv in by_op.items() if "chsql.text" in kv or "chsql.builder" in kv]
    for p in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = _mean(sum(by_op[o].get(f"phase.{p}", [0])) for o in query_ops)
    m["plans.rules_ms"] = _mean(sum(by_op[o].get("rules.ns", [0])) / 1e6 for o in query_ops)
    inv = sum(count_vals("rules.invoked"))
    m["plans.rules_effective_ratio"] = sum(count_vals("rules.effective")) / inv if inv else 0.0

    # Spark runtime and scans, per operation (per micro-batch when streaming)
    cores = rec["info"]["cores"]
    if workload == "stream_ingest":
        st = rec["info"]["stream"]
        prog = [p for p in st["progress"] if p["phase"] == "traced"]
        lo = min((p["time"] - p["durations"].get("triggerExecution", 0) for p in prog), default=0)
        hi = max((p["time"] for p in prog), default=0)
        stages = [s for s in rec["stages"] if s["op"] == "" and lo <= s["submit"] <= hi]
        jobs = [j for j in rec["jobs"] if j["op"] == "" and lo <= j["time"] <= hi]
        n_ops = max(1, len(prog))
        walls = [p["durations"].get("triggerExecution", 0) for p in prog]
    else:
        # the workload's own queries and stages, not the kernel
        # micro-benchmarks that follow them in llm_corpus
        work = {i: o for i, o in ops.items() if o["kind"] != "kernel"}
        stages = [s for s in rec["stages"] if s["op"] != "" and int(s["op"]) in work]
        jobs = [j for j in rec["jobs"] if j["op"] != "" and int(j["op"]) in work]
        n_ops = max(1, len(work))
        walls = [_ms(o) for o in work.values()]
    m["spark.jobs"] = len(jobs) / n_ops
    m["spark.stages"] = len(stages) / n_ops
    m["spark.tasks"] = sum(s["tasks"] for s in stages) / n_ops
    m["spark.executor_run_ms"] = sum(s["run_ms"] for s in stages) / n_ops
    m["spark.executor_cpu_ms"] = sum(s["cpu_ms"] for s in stages) / n_ops
    m["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages) / n_ops
    m["spark.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in stages) / n_ops
    m["spark.spill_bytes"] = sum(s["spill"] for s in stages) / n_ops
    m["spark.gc_ms"] = sum(s["gc_ms"] for s in stages) / n_ops
    busy = union_length([(s["submit"], s["complete"]) for s in stages if s["complete"] > s["submit"]])
    m["spark.stage_gap_ms"] = max(0.0, sum(walls) - busy) / n_ops
    m["spark.task_busy_share"] = (sum(s["run_ms"] for s in stages) / (sum(walls) * cores)
                                  if walls and sum(walls) > 0 else 0.0)
    scans = [s for s in stages if s["input_rows"] > 0]
    m["Tables.rows_read"] = sum(s["input_rows"] for s in scans) / n_ops
    m["Tables.bytes_read"] = sum(s["input_bytes"] for s in scans) / n_ops
    scan_ms = sum(s["complete"] - s["submit"] for s in scans)
    m["Tables.scan_rows_per_s"] = 1000.0 * sum(s["input_rows"] for s in scans) / scan_ms if scan_ms else 0.0

    # kernels and operators
    for k in ("shingle", "minhash", "textstats", "simhash", "int8_quantize"):
        m[f"functions.{k}_rows_per_s"] = _mean(count_vals(f"kernel.{k}"))
    m["functions.dot_pairs_per_s"] = _mean(count_vals("kernel.dot"))
    m["Dedup.minhashPairs_ms"] = _mean(span_ms("Dedup.minhashPairs"))
    m["Dedup.candidate_pairs"] = _mean(count_vals("dedup.candidates"))
    m["Dedup.verified_pairs"] = _mean(count_vals("dedup.verified"))
    m["Dedup.verify_yield"] = (m["Dedup.verified_pairs"] / m["Dedup.candidate_pairs"]
                               if m["Dedup.candidate_pairs"] else 0.0)
    m["Dedup.planted_recall"] = _mean(count_vals("dedup.planted_recall"))
    m["Dedup.cached_bytes"] = _mean(count_vals("dedup.cached_bytes"))
    m["Similarity.topk_ms"] = _mean(span_ms("Similarity.bruteForceTopK"))
    m["Similarity.int8_topk_ms"] = _mean(span_ms("Similarity.bruteForceTopKInt8"))
    m["Similarity.scored_pairs"] = _mean(count_vals("similarity.scored_pairs"))
    m["Similarity.planted_hit_rate"] = _mean(count_vals("similarity.planted_hit_rate"))
    m["TextAnalysis.pipeline_ms"] = _mean(span_ms("TextAnalysis.pipeline"))

    if workload == "llm_corpus":
        untraced = [o for o in rec["ops"] if o["phase"] == "untraced" and o["kind"] == "stage"]
        info = rec["info"]

        def rate(stage, items):
            t = sum(_ms(o) for o in untraced if o["name"] == stage)
            n = sum(1 for o in untraced if o["name"] == stage)
            return 1000.0 * items * n / t if t else 0.0
        m["dedup_docs_per_s"] = rate("dedup", info["n_docs"])
        m["text_docs_per_s"] = rate("text", info["n_docs"])
        m["ann_vectors_per_s"] = (rate("ann_f32", info["n_queries"] * (info["n_vectors"] - 1))
                                  + rate("ann_int8", info["n_queries"] * (info["n_vectors"] - 1))) / 2

    if workload == "stream_ingest":
        st = rec["info"]["stream"]
        prog = [p for p in st["progress"] if p["phase"] == "traced"]
        for key in ("addBatch", "queryPlanning", "walCommit"):
            m[f"streaming.{key}_ms"] = _mean(p["durations"].get(key, 0) for p in prog)
        m["streaming.batch_ms"] = _mean(p["durations"].get("triggerExecution", 0) for p in prog)
        m["streaming.state_rows"] = _mean(sum(s["rows_total"] for s in p["state"]) for p in prog)
        m["streaming.state_bytes"] = _mean(sum(s["bytes"] for s in p["state"]) for p in prog)
        m["streaming.rows_evicted"] = _mean(sum(s["removed"] for s in p["state"]) for p in prog)
        m["streaming.duplicates_dropped"] = sum(
            s["custom"].get("numDroppedDuplicateRows", 0) for p in prog for s in p["state"])
        m["streaming.sink_write_ms"] = _mean(b["write_ms"] for b in st["batches"] if b["phase"] == "traced")
        m["streaming.backlog_rows"] = _mean(x[1] for r in st["rungs"] if r["phase"] == "traced"
                                            for x in r["backlog"])
        m["stream_sustained_rows_per_s"] = sustained_rate(st, "untraced")
        m["stream_lag_run_tail_ms"] = tail([x for b in stream_lags(st, "untraced") for x in b])[0]
        m["stream_generator_late_ms"] = max((r["late_max_ms"] for r in st["rungs"]
                                             if r["phase"] == "untraced"), default=0.0)

    m["jvm.gc_ms"] = rec["jvm"]["gc_ms"]
    m["jvm.heap_used_peak_mb"] = rec["jvm"]["heap_used_peak_mb"]

    for key in ("latency_p50_ms", "latency_tail_ms", "throughput_per_s"):
        vals = []
        for phase in ("untraced", "traced"):
            lat, (t, _), thr = latency_figures(rec, workload, phase)
            vals.append({"latency_p50_ms": median(lat), "latency_tail_ms": t,
                         "throughput_per_s": thr}[key])
        m[f"trace.overhead_{key}"] = vals[1] - vals[0]
    return m


def layer_self_times(spans):
    """{span name: total self time in ms} over all recorded spans."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out
