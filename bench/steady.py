#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and spread (interquartile distance over the median), next to the
bound in BENCHMARK.json:

    python3 bench/steady.py --workload table_churn --seeds 1-10 [--trace 0]

Each run's output is kept in bench/.work/steady/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchlib import stats  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    cfg = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in cfg["end_to_end"]}
    out_dir = os.path.join(BENCH, ".work", "steady")
    os.makedirs(out_dir, exist_ok=True)
    values, bad = {}, 0
    with open(os.path.join(out_dir, f"{a.workload}.jsonl"), "a") as log:
        for s in a.seeds:
            p = subprocess.run(cfg["command"] + ["--workload", a.workload, "--seed", str(s),
                                                 "--seconds", str(cfg["run_seconds"]),
                                                 "--trace", str(a.trace)],
                               cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            try:
                d = stats.parse_summary(p.stdout)
            except ValueError as e:
                print(f"seed {s}: exit {p.returncode}, {e}")
                bad += 1
                continue
            log.write(json.dumps({"seed": s, "summary": d}) + "\n")
            bad += 0 if d["correct"] else 1
            for k, m in d["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"seed {s}: correct={d['correct']} failed={d['failed']}/{d['attempted']}",
                  flush=True)
    for k, vs in values.items():
        sp = stats.spread(vs) if len(vs) >= 2 else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if sp <= b / 3 else ("within" if sp <= b else "WIDE"))
        print(f"{k:28s} median {statistics.median(vs):12.4f}  spread {sp:7.4f}  "
              f"bound {b}  {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
