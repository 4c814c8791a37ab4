#!/usr/bin/env python3
"""Repository benchmark: three seeded workloads against the engine.

  python3 perfbench/run.py --workload ch_sql|llm_corpus|stream_ingest|all \
      --seed N [--seconds S] [--trace 0|1]

Generates the workload's inputs from the seed, builds the JVM harness if
the sources changed, runs it for --seconds of measurement, checks every
output and prints, as the last line, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics plus
the tracing overhead (--trace 1). Lines before it are informational.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import build, gen, metrics, oracle, stats  # noqa: E402

WORKLOADS = ("ch_sql", "llm_corpus", "stream_ingest")
CORPUS_SCALE = 3          # llm_corpus = sf0.1's documents and embeddings x 3
PREP_REPS = 3             # set-up steps repeated per run; setup_s takes the median
HEAP = "4g"
OUT = os.path.join(build.HERE, "out")


def info(msg):
    print(f"[perfbench] {msg}", flush=True)


def prepare(workload, seed, data, layout):
    """Generate the inputs (and, for llm_corpus, the planted truth). Tables
    are written in `layout` parts per table (BenchLayout.filesPerTable):
    the layout BenchLayout.relayout produces, without its 8-16 s of
    set-up per run."""
    if workload == "ch_sql":
        return gen.write_tables(gen.tpch_tables(seed), data, files=layout), None
    if workload == "llm_corpus":
        tables, truth = gen.corpus(seed, CORPUS_SCALE)
        digest = gen.write_tables(tables, data, files=layout)
        gen.write_json(truth, os.path.join(data, "truth.json"))
        return digest, truth
    os.makedirs(data, exist_ok=True)
    return "-", None     # stream_ingest: rows are generated inside the run


def run_one(workload, seed, seconds, trace, cp, exported, t_start):
    work = os.path.join(build.HERE, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out, tmp = (os.path.join(work, d) for d in ("data", "out", "tmp"))
    os.makedirs(tmp)
    try:
        prep_times = []
        for _ in range(PREP_REPS):
            t0 = time.time()
            digest, expected = prepare(workload, seed, data, exported["files_per_table"])
            prep_times.append(time.time() - t0)
        if workload == "ch_sql":    # the DuckDB answers, once
            t0 = time.time()
            expected = oracle.expected(data, exported["oracles"])
            prep_times = [t + time.time() - t0 for t in prep_times]
        info(f"{workload} seed {seed}: inputs sha256 {digest}")
        spawn = time.time() * 1000
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--data", data, "--out", out]
        if workload == "llm_corpus":
            args += ["--truth", os.path.join(data, "truth.json")]
        build.java(cp, args, cwd=work, heap=HEAP, log_path=os.path.join(work, "jvm.log"),
                   timeout=170 - (time.time() - t_start), tmp=tmp)
        with open(os.path.join(out, "record.json")) as f:
            rec = json.load(f)
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)

        jvm_prep = rec["info"].get("prep_s", [0.0])
        setup_s = (stats.median(prep_times)
                   + (rec["first_timed"] - spawn) / 1000.0
                   - (sum(jvm_prep) - stats.median(jvm_prep)))

        info("set-up s: inputs " + "/".join(f"{t:.2f}" for t in prep_times)
             + f", jvm boot {(rec['session_ready'] - spawn) / 1000:.2f}, jvm prep "
             + "/".join(f"{t:.2f}" for t in jvm_prep) + ", warm-up "
             + f"{(rec['first_timed'] - rec['session_ready']) / 1000 - sum(jvm_prep):.2f}")
        attempted, failed = check(workload, rec, out, expected)
        if trace:
            values = metrics.per_layer(rec, spans, workload)
            units = metrics.PER_LAYER
            os.makedirs(OUT, exist_ok=True)
            trace_file = os.path.join(OUT, f"trace-{workload}-{seed}.json")
            with open(trace_file, "w") as f:
                json.dump({"spans": spans, "counts": rec["counts"], "stages": rec["stages"],
                           "self_ms": metrics.layer_self_times(spans)}, f)
            info(f"spans and counts written to {os.path.relpath(trace_file)}")
            self_ms = metrics.layer_self_times(spans)
            info("self time by span (ms): " + ", ".join(
                f"{k}={v:.1f}" for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1])))
        else:
            values, note = metrics.end_to_end(rec, workload, setup_s)
            units = metrics.E2E
            info(note)
        info(f"input bytes {rec['info'].get('input_bytes', 0)}, JVM heap max "
             f"{rec['info']['heap_max_mb']:.0f} MB, error_rate {failed}/{attempted}")
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check(workload, rec, out, expected):
    """(attempted, failed): operations run and those that failed or gave
    a wrong answer."""
    if workload == "stream_ingest":
        st = rec["info"]["stream"]
        info(f"stream: {st['rows_fed']} rows fed ({st['duplicates_fed']} duplicates), "
             f"{st['groups_wrong']} of {st['groups_checked']} window groups wrong")
        return st["groups_checked"], st["groups_wrong"]
    ops = rec["ops"]
    bad = {}
    if workload == "ch_sql":
        bad = oracle.check_results(os.path.join(out, "results"), expected)
        for name, why in sorted(bad.items()):
            info(f"wrong answer: {name}: {why}")
    for o in ops:
        if not o["ok"]:
            info(f"failed: {o['kind']} {o['name']}: {o['error']}")
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    return len(ops), failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    cp, exported = build.ensure_built()
    if a.workload != "all":
        res = run_one(a.workload, a.seed, a.seconds, a.trace, cp, exported, time.time())
        print(json.dumps(res))
        return
    results = {}
    for w in WORKLOADS:
        results[w] = run_one(w, a.seed, a.seconds, a.trace, cp, exported, time.time())
        print(json.dumps({"workload": w, **results[w]}))
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
