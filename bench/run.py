#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one run.

    python3 bench/run.py --workload analyst_mix --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source (once per source tree),
generates the workload's inputs from the seed, runs them in one JVM for
`--seconds` (whole rounds), checks every operation's result, and prints
an info line followed by the one-line summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with
`--trace 1` they are the per-layer metrics of a traced run, whose spans
are written to `bench/.work/runs/`; a traced run mixes untraced and
traced rounds to report its own tracing overhead. See bench/README.md.

Inputs: the test data root holding sf0.001/, sf0.01/ and sf0.1/, from
$GRAFT_BENCH_DATA, else `~/testdata`.
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchlib import build, metrics, oracle, stats, workloads  # noqa: E402

DEADLINE_S = 175


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def mem_total_gb():
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
        return kb / 1048576.0
    except (OSError, StopIteration, ValueError):
        return None


def heap_gb():
    """Driver heap: half the memory, between 2 and 4 GB."""
    mem = mem_total_gb()
    return 2 if mem is None else max(2, min(4, int(mem) // 2))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    data_root = os.environ.get("GRAFT_BENCH_DATA", os.path.expanduser("~/testdata"))
    try:
        cp, catalog = build.ensure_built(log)
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        log(f"cannot build the engine: {e}")
        return 2
    for d in (os.path.join(data_root, s) for s in ("sf0.001", "sf0.01", "sf0.1")):
        if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            log(f"test data not found in {d}")
            return 2

    # the build may take minutes on a fresh tree; the run itself has 180 s
    t_start = time.time()
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.WORK, "run", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    try:
        t0 = time.time()
        fields, ctx, desc = workloads.build(a.workload, a.seed, data_root, work, catalog,
                                            traced=bool(a.trace))
        gen_s = time.time() - t0
        spec = dict(fields, workload=a.workload, trace=bool(a.trace), seconds=a.seconds,
                    cpus=cpus, warm_dir=os.path.join(data_root, "sf0.001"))
        spec_f = os.path.join(work, "spec.json")
        out_f = os.path.join(work, "report.json")
        with open(spec_f, "w") as fh:
            json.dump(spec, fh)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        cmd = (["java"] + build.java_opts(heap_gb()) +
               [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
                "graftbench.Main", "run", spec_f, out_f])
        left = DEADLINE_S - (time.time() - t_start)
        with open(os.path.join(work, "jvm.log"), "w") as err:
            try:
                p = subprocess.run(cmd, env=env, cwd=work, stdout=err, stderr=err,
                                   timeout=left)
            except subprocess.TimeoutExpired:
                log(f"the run did not finish within {DEADLINE_S} s")
                return 3
        if p.returncode != 0 or not os.path.exists(out_f):
            with open(os.path.join(work, "jvm.log")) as fh:
                tail = fh.read()[-3000:]
            log(f"harness failed (exit {p.returncode}):\n{tail}")
            return 3
        with open(out_f) as fh:
            report = json.load(fh)
        report["round"] = spec["round"]
        runs = os.path.join(build.WORK, "runs")
        os.makedirs(runs, exist_ok=True)
        shutil.copyfile(out_f, os.path.join(runs, f"{tag}.report.json"))

        t0 = time.time()
        expected = {}
        if a.workload != "table_churn":
            expected = oracle.expected(ctx["data_dir"], ctx["keys"], catalog["oracle"],
                                       os.path.join(build.WORK, "oracle"))
        failures = metrics.check_ops(report, expected, ctx)
        check_s = time.time() - t0

        info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "nproc": cpus, "mem_gb": round(mem_total_gb() or 0, 1),
                "heap_max_mb": round(report["heap_max_mb"]), "jdk": report["jdk"],
                "spark": report["spark"], "python": platform.python_version(),
                "session_confs": report["session_confs"],
                "host_probe_ms": round(statistics.median(report["probe_ms"]), 3),
                "inputs": desc, "gen_s": round(gen_s, 3), "check_s": round(check_s, 3)}
        mix = {}
        for op in report["ops"]:
            mix[op["key"]] = mix.get(op["key"], 0) + 1
        info["op_mix"] = mix
        if report.get("churn"):
            info["pending_delete_bytes"] = report["churn"]["pending_delete_bytes"]
        info["oracle_checked"] = sum(1 for op in report["ops"]
                                     if op["kind"] == "query" and op["key"] in expected)
        if failures:
            info["failures"] = failures[:10]
        if a.trace:
            m = metrics.per_layer(report, ctx, catalog, info)
            spans_f = os.path.join(runs, f"{tag}.spans.json")
            with open(spans_f, "w") as fh:
                json.dump(report["spans"], fh)
            info["spans"] = len(report["spans"])
            info["spans_file"] = os.path.relpath(spans_f, build.REPO)
            metrics.trace_overhead(report, info)
        else:
            m = metrics.end_to_end(report, ctx, info)
            info["table_metrics"] = {k: {"value": v, "unit": u} for k, (v, u)
                                     in metrics.table_figures(report, ctx, info).items()}
        info["wall_s"] = round(time.time() - t_start, 3)
        print(json.dumps({"info": info}, sort_keys=True))
        print(stats.summary_line(not failures, len(report["ops"]), len(failures), m), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
