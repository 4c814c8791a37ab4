#!/usr/bin/env python3
"""Steadiness tool: run the untraced benchmark k times per workload, one
seed per run, and print each end-to-end metric's median, quartiles and
spread ((q3 - q1) / median) next to a third of its bound from
BENCHMARK.json.

  python3 perfbench/steady.py [--workloads ch_sql,llm_corpus,...] [--runs 10]
      [--first-seed 1] [--seconds S]

Also writes the raw values to perfbench/out/steady.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import stats  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, bad = {}, 0
    for w in a.workloads.split(","):
        for i in range(a.runs):
            seed = a.first_seed + i
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: run failed (exit {r.returncode})", flush=True)
                bad += 1
                continue
            res = json.loads(last)
            bad += 0 if res["correct"] else 1
            for k, v in res["metrics"].items():
                values.setdefault(w, {}).setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"\n{'workload':14} {'metric':18} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'bound/3':>7}")
    for w, ms in values.items():
        for k, xs in ms.items():
            q1, med, q3, spread = stats.quartile_spread(xs)
            flag = "" if k == "setup_s" or spread <= bounds[k] / 3 else "  <-- above bound/3"
            print(f"{w:14} {k:18} {med:11.4g} {q1:11.4g} {q3:11.4g} {spread:7.3f} "
                  f"{bounds[k] / 3:7.3f}{flag}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady.json"), "w") as f:
        json.dump(values, f, indent=1)
    if bad:
        print(f"\n{bad} runs failed or reported wrong answers")
        sys.exit(1)


if __name__ == "__main__":
    main()
