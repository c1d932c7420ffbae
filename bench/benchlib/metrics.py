"""Turn the JVM's run report and the checks into the reported metrics."""
import statistics

from . import stats

MB = 1048576.0


def _ms(op):
    return (op["end_ns"] - op["start_ns"]) / 1e6


def check_ops(report, expected, ctx):
    """Mark every operation good or failed. Query results must match the
    DuckDB digest of the key's oracle SQL (or, for a key without one,
    the key's first result in the run); table_churn reads must match the
    model's count and sum. Returns the list of failures."""
    failures = []
    first = {}
    for op in report["ops"]:
        why = None
        if not op["ok"]:
            why = op["error"]
        elif op["kind"] == "query":
            k = op["key"]
            if k in expected:
                if op["result"] != expected[k]:
                    why = f"digest {op['result']} != oracle {expected[k]}"
            elif first.setdefault(k, op["result"]) != op["result"]:
                why = f"result {op['result']} differs from the key's first {first[k]}"
        elif op["kind"].startswith("read_"):
            want = ctx.get("expect", {}).get(op["i"])
            if want is None or op["result"] != want:
                why = f"answer {op['result']} != model {want}"
        op["failed"] = why is not None
        if why is not None:
            failures.append({"i": op["i"], "key": op["key"], "why": str(why)[:300]})
    return failures


def latency_metrics(prefix, ops, penalty_ms, info):
    """`<prefix>_p50_ms` and `<prefix>_tail_ms` of `ops`; a failed
    operation counts as `penalty_ms`, missing any latency limit."""
    lat = [penalty_ms if op["failed"] else _ms(op) for op in ops]
    if not lat:
        return {}
    p, v, n = stats.tail(lat)
    info[f"{prefix}_tail_percentile"] = p
    info[f"{prefix}_samples"] = n
    return {f"{prefix}_p50_ms": (statistics.median(lat), "ms"),
            f"{prefix}_tail_ms": (v, "ms")}


def churn_amp(report, ctx):
    """(write_amp, space_amp) of a table_churn run, else (0, 0)."""
    pre, post = report.get("churn_pre") or {}, report.get("churn") or {}
    if not post:
        return 0.0, 0.0
    per_row = pre["seed_plain_bytes"] / pre["seed_rows"]
    rows = pre["seed_rows"] + sum(ctx["written"].get(op["i"], 0)
                                  for op in report["ops"] if op["class"] == "write")
    return (post["bytes_created"] / (rows * per_row),
            post["bytes_at_end"] / post["live_plain_bytes"])


def timed(report, traced=None):
    """The measured operations: not those of the warm-up rounds, and in a
    traced run only those of its traced rounds (or, with `traced=False`,
    of its untraced rounds)."""
    want = report["traced"] if traced is None else traced
    return [op for op in report["ops"] if not op["warmup"] and op["traced"] == want]


def end_to_end(report, ctx, info):
    ops = timed(report)
    wall_s = (report["timed_wall_ns"] - report["check_ns"]) / 1e9
    penalty = report["timed_wall_ns"] / 1e6
    m = {"setup_s": (report["setup_s"], "s"),
         "ops_per_s": (len(ops) / wall_s, "1/s")}
    m.update(latency_metrics("op", ops, penalty, info))
    m["cpu_s_per_op"] = (report["cpu_ns"] / 1e9 / len(ops), "s")
    m["live_heap_mb"] = (report["live_heap_bytes"] / MB, "MB")
    m.update(latency_metrics("read", [o for o in ops if o["class"] == "read"], penalty, info))
    return m


def per_layer(report, ctx, catalog, info):
    """Per-layer metrics of a traced run."""
    ops = timed(report)
    n = max(len(ops), 1)
    counters = {c["i"]: c for c in report["op_counters"]}
    spans = report["spans"]

    def tot(k, subset=None):
        return sum(counters[o["i"]][k] for o in (subset if subset is not None else ops)
                   if o["i"] in counters)

    op_s = max(sum(_ms(o) for o in ops) / 1e3, 1e-9)

    jobs_by_op = {}
    for s in spans:
        if s["name"] == "job":
            jobs_by_op.setdefault(s["op"], []).append((s["start_ns"], s["end_ns"]))
    no_job = sum(stats.uncovered(o["start_ns"], o["end_ns"], jobs_by_op.get(o["i"], []))
                 for o in ops) / 1e6
    m = {
        "driver.analysis_ms_per_op": (tot("analysis_ms") / n, "ms"),
        "driver.optimization_ms_per_op": (tot("optimization_ms") / n, "ms"),
        "driver.planning_ms_per_op": (tot("planning_ms") / n, "ms"),
        "driver.sql_execs_per_op": (tot("sql_execs") / n, "count"),
        "driver.jobs_per_op": (tot("jobs") / n, "count"),
        "driver.stages_per_op": (tot("stages") / n, "count"),
        "driver.no_job_ms_per_op": (no_job / n, "ms"),
        "spark.tasks_per_op": (tot("tasks") / n, "count"),
        "spark.executor_run_s": (tot("executor_run_ms") / 1e3 / n, "s/op"),
        "spark.executor_cpu_s": (tot("executor_cpu_ns") / 1e9 / n, "s/op"),
        "spark.gc_s": (tot("gc_ms") / 1e3 / n, "s/op"),
        "spark.core_busy": (tot("executor_run_ms") / 1e3 / (op_s * report["cpus"]), "ratio"),
        "spark.shuffle_write_mb": (tot("shuffle_write_bytes") / MB / n, "MB/op"),
        "spark.shuffle_read_mb": (tot("shuffle_read_bytes") / MB / n, "MB/op"),
        "spark.fetch_wait_s": (tot("fetch_wait_ms") / 1e3 / n, "s/op"),
        "spark.spill_mb": (tot("spill_bytes") / MB / n, "MB/op"),
        "spark.input_mb": (tot("input_bytes") / MB / n, "MB/op"),
        "spark.output_mb": (tot("output_bytes") / MB / n, "MB/op"),
        "spark.output_files": (tot("output_files") / n, "count/op"),
    }
    # sources: the timed resolves of the traced rounds, and the table at the end
    post = report.get("churn") or {}
    res = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "resolve"]
    m.update({
        "sources.resolve_ms": (statistics.median(res) if res else 0.0, "ms"),
        "sources.resolve_ms_last": (res[-1] if res else 0.0, "ms"),
        "sources.versions": (post.get("versions", 0), "count"),
        "sources.manifest_kb_last": (post.get("manifest_bytes_last", 0) / 1024.0, "KB"),
        "sources.commit_log_kb": (post.get("commit_log_bytes", 0) / 1024.0, "KB"),
        "sources.live_files": (post.get("live_files", 0), "count"),
        "sources.pending_delete_files": (post.get("pending_delete_files", 0), "count"),
    })
    # catalog: planning and jobs per statement class, pruning of point reads
    writes = [o for o in ops if o["class"] == "write" and o["kind"] != "query"]
    reads = [o for o in ops if o["class"] == "read" and o["kind"] != "query"]

    def plan_ms(subset):
        return sum(tot(k, subset) for k in ("analysis_ms", "optimization_ms", "planning_ms"))

    live = post.get("write_live_files", [])
    scanned = attempted = 0
    for o in reads:
        if o["kind"] != "read_point":
            continue
        k = sum(1 for p in report["ops"] if p["class"] == "write" and p["i"] < o["i"])
        if k < len(live):
            attempted += live[k]
            scanned += counters.get(o["i"], {}).get("files_read", 0)
    m.update({
        "catalog.write_plan_ms": (plan_ms(writes) / max(len(writes), 1), "ms"),
        "catalog.read_plan_ms": (plan_ms(reads) / max(len(reads), 1), "ms"),
        "catalog.write_jobs": (tot("jobs", writes) / max(len(writes), 1), "count"),
        "catalog.read_jobs": (tot("jobs", reads) / max(len(reads), 1), "count"),
        "catalog.files_read_ratio": (scanned / attempted if attempted else 0.0, "ratio"),
    })
    asof_rows = tot("asof_rows")
    m.update({
        "plans.topk_execs": (tot("topk_execs") / n, "count/op"),
        "plans.topk_pass_through_rows": (tot("topk_pass_through_rows") / n, "rows/op"),
        "plans.topk_heap_rows": (tot("topk_heap_rows") / n, "rows/op"),
        "plans.topk_sort_fallbacks": (tot("topk_sort_fallbacks") / n, "count/op"),
        "plans.asof_execs": (tot("asof_execs") / n, "count/op"),
        "plans.asof_match_ratio": (tot("asof_matched") / asof_rows if asof_rows else 0.0, "ratio"),
    })
    # summed op wall per module, per round
    rounds = len(ops) / max(report.get("round", 1), 1)
    module = {k: mod for mod, ks in catalog["modules"].items() for k in ks}
    mods = {}
    for o in ops:
        if o["kind"] == "query":
            mods[module[o["key"]]] = mods.get(module[o["key"]], 0.0) + _ms(o) / 1e3
    for mod in ("sources.Scans", "operators.Projections", "operators.Joins",
                "operators.SetOps", "operators.Aggs", "operators.Windows",
                "operators.TextOps", "operators.SimOps", "functions.Scalars",
                "functions.Udfs", "domain.DomainQueries"):
        m[f"{mod}_s"] = (mods.get(mod, 0.0) / rounds if rounds else 0.0, "s/round")
    vec = report.get("vec_dot") or {}
    m["functions.vec_dot_ns_per_pair"] = (vec.get("ns_per_pair", 0.0), "ns")
    # the table_churn end-to-end figures that do not apply to every workload
    m.update(table_figures(report, ctx, info))
    info["self_ms"] = {k: round(v / 1e6, 3) for k, v in stats.self_times(spans).items()}
    return m


def table_figures(report, ctx, info):
    """fail_ratio, and the write latencies and amplification of
    table_churn (zero on workloads that write no table)."""
    ops = report["ops"]
    penalty = report["timed_wall_ns"] / 1e6
    wr = [o for o in timed(report) if o["class"] == "write" and o["kind"] != "query"]
    w = latency_metrics("write", wr, penalty, info)
    wa, sa = churn_amp(report, ctx)
    return {"write_p50_ms": w.get("write_p50_ms", (0.0, "ms")),
            "write_tail_ms": w.get("write_tail_ms", (0.0, "ms")),
            "write_amp": (wa, "ratio"), "space_amp": (sa, "ratio"),
            "fail_ratio": (sum(1 for o in ops if o["failed"]) / max(len(ops), 1), "ratio")}


def trace_overhead(report, info):
    """Traced minus untraced op_p50_ms, over the traced and the untraced
    rounds of the same traced run."""
    lat_t = [_ms(o) for o in timed(report, True)]
    lat_u = [_ms(o) for o in timed(report, False)]
    if lat_t and lat_u:
        info["traced_op_p50_ms"] = statistics.median(lat_t)
        info["untraced_op_p50_ms"] = statistics.median(lat_u)
        info["trace_overhead_ms"] = info["traced_op_p50_ms"] - info["untraced_op_p50_ms"]
