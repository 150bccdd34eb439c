"""Metrics from one run's raw result (spans, cycles, set-up times, trace).

End-to-end (untraced runs), the same two on every workload:
  setup_s     median of the run's set-ups
  cycle_ms    median wall time of one cycle, the workload's unit of work

Per-layer (traced runs): see PER_LAYER below and README.md.
"""
import math
import statistics

MB = 1 << 20

UNITS = {
    "setup_s": "s",
    "cycle_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "queries.eager_jobs": "count",
    "spark.tasks_per_job": "count",
    "spark.job_ms": "ms",
    "driver.outside_jobs_ms": "ms",
    "queries.construct_ms": "ms",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.core_busy_frac": "fraction",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.cache_blocks_left": "count",
    "cache_peak_mb": "MB",
    "trace.overhead_frac": "fraction",
    "failed_frac": "fraction",
}

WRITE_KINDS = ("merge", "append", "delete", "compact", "checkpoint")
READ_KINDS = ("scan", "lookup")


def pct(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    if not v:
        return None
    return v[min(len(v) - 1, max(0, math.ceil(p / 100 * len(v)) - 1))]


def measured(res, traced=False):
    return [s for s in res["spans"] if s["cycle"] >= 1 and s["traced"] == traced]


def by_class(spans):
    out = {}
    for s in spans:
        out.setdefault(s["cls"], []).append(s["wall_ms"])
    return out


def end_to_end(res):
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "cycle_ms": statistics.median(res["cycle_ms"]),
    }


def detail(res, failed_frac):
    """The workload's own user-facing numbers, with their sample counts."""
    spans = measured(res, traced=bool(res["trace"]))
    walls = [s["wall_ms"] for s in spans]
    d = {"workload": res["workload"], "seed": res["seed"], "failed_frac": failed_frac,
         "ops": len(spans), "cycles": len(res["cycle_ms"]),
         "generate_s": res["generate_s"], "setup_s_all": res["setup_s"],
         "class_p50_ms": {c: statistics.median(v) for c, v in sorted(by_class(spans).items())}}
    # geometric mean over operation classes of each class's median
    logs = [math.log(v) for v in d["class_p50_ms"].values()]
    d["op_p50_ms"] = math.exp(sum(logs) / len(logs))
    w = res["workload"]
    if w == "etl_nightly":
        serving = [s["wall_ms"] for s in spans if s["cls"] != "runPipeline"]
        d["etl_pipeline_s"] = statistics.median(by_class(spans)["runPipeline"]) / 1000
        d["serving_p50_ms"] = pct(serving, 50)
        d["serving_p95_ms"] = pct(serving, 95)
    elif w == "lakehouse_commits":
        writes = [s["wall_ms"] for s in spans if s["cls"].split(".")[1] in WRITE_KINDS]
        reads = [s["wall_ms"] for s in spans if s["cls"].split(".")[1] in READ_KINDS]
        d.update({"lake_write_p50_ms": pct(writes, 50), "lake_write_p95_ms": pct(writes, 95),
                  "lake_read_p50_ms": pct(reads, 50), "lake_read_p95_ms": pct(reads, 95),
                  "lake_writes": len(writes), "lake_reads": len(reads)})
        tables = res["report"]["tables"]
        d["lake_space_amp"] = (sum(t["root_bytes"] for t in tables.values()) /
                               sum(t["live_bytes"] for t in tables.values()))
    elif w == "operator_catalog":
        d["catalog_pass_s"] = statistics.median(res["cycle_ms"]) / 1000
    if res.get("cpus"):
        d["cpus"] = res["cpus"]
    return d


def attribute(res):
    """Jobs and planning records per traced span id."""
    spans = [s for s in res["spans"] if s["traced"]]
    by_id = {s["id"]: s for s in spans}
    jobs, plans = {}, {}
    for j in res["trace"]["jobs"]:
        sid = None
        if j["group"].startswith("op-") and int(j["group"][3:]) in by_id:
            sid = int(j["group"][3:])
        else:
            sid = next((s["id"] for s in spans if s["start_ms"] <= j["start_ms"] <= s["end_ms"]), None)
        if sid is not None:
            jobs.setdefault(sid, []).append(j)
    for p in res["trace"]["plans"]:
        sid = next((s["id"] for s in spans if s["start_ms"] <= p["start_ms"] <= s["end_ms"]), None)
        if sid is not None:
            plans.setdefault(sid, []).append(p)
    return spans, jobs, plans


def covered_ms(span, jobs):
    """Wall time of `span` covered by at least one of its jobs."""
    iv = sorted((max(j["start_ms"], span["start_ms"]), min(j["end_ms"], span["end_ms"]))
                for j in jobs if j["end_ms"] >= 0)
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return min(total, span["wall_ms"])


def per_layer(res, failed_frac):
    spans, jobs, plans = attribute(res)
    cycles = max(1, len(res["cycle_ms"]))
    cpus = res["cpus"]
    all_jobs = [j for s in spans for j in jobs.get(s["id"], [])]
    first = [s for s in spans if s["cycle"] == 1]
    first_jobs = [j for s in first for j in jobs.get(s["id"], [])]
    eager = sum(1 for s in first for j in jobs.get(s["id"], []) if j["start_ms"] < s["returned_ms"])

    def total(key, scale=1.0):
        return sum(j[key] for j in all_jobs) * scale / cycles

    def phase(name):
        return sum(p["phases_ms"].get(name, 0) for s in spans for p in plans.get(s["id"], [])) / cycles

    cov = {s["id"]: covered_ms(s, jobs.get(s["id"], [])) for s in spans}
    wall = sum(s["wall_ms"] for s in spans)
    # The untraced replay ran between the two traced ones; a run near its
    # deadline has only the first traced replay, and maybe the untraced
    # one after it (which the JIT warm-up favours), else only the cold
    # measured cycles to compare with.
    between = res["trace"]["between_cycle_ms"]
    basis = "cold" if not between else "after" if len(res["cycle_ms"]) == len(between) else "bracketed"
    traced_ms = statistics.mean(res["cycle_ms"])
    untraced_ms = statistics.mean(between or res["trace"]["untraced_cycle_ms"])
    values = {
        "spark.jobs": len(first_jobs),
        "spark.tasks": sum(j["tasks"] for j in first_jobs),
        "queries.eager_jobs": eager,
        "spark.tasks_per_job": sum(j["tasks"] for j in all_jobs) / max(1, len(all_jobs)),
        "spark.job_ms": sum(cov.values()) / cycles,
        "driver.outside_jobs_ms": (wall - sum(cov.values())) / cycles,
        "queries.construct_ms": sum(s["call_ms"] for s in spans) / cycles,
        "plan.analysis_ms": phase("analysis"),
        "plan.optimization_ms": phase("optimization"),
        "plan.planning_ms": phase("planning"),
        "spark.executor_run_ms": total("run_ms"),
        "spark.executor_cpu_ms": total("cpu_ns", 1e-6),
        "spark.gc_ms": total("gc_ms"),
        "spark.core_busy_frac": sum(j["run_ms"] for j in all_jobs) / max(1e-9, wall * cpus),
        "spark.shuffle_read_mb": total("shuffle_read", 1 / MB),
        "spark.shuffle_write_mb": total("shuffle_write", 1 / MB),
        "spark.spill_mb": total("spill", 1 / MB),
        "spark.input_mb": total("input_bytes", 1 / MB),
        "spark.output_mb": total("output_bytes", 1 / MB),
        "spark.cache_blocks_left": max(s["cache_blocks"] for s in spans),
        "cache_peak_mb": max(s["cache_bytes"] for s in spans) / MB,
        "trace.overhead_frac": traced_ms / untraced_ms - 1 if untraced_ms else 0.0,
        "failed_frac": failed_frac,
    }

    # Workload-specific breakdown: self time per layer and per operation class.
    report = {"cycles": cycles, "overhead_basis": basis, "self_ms_per_cycle": {}}
    for s in spans:
        layer = report["self_ms_per_cycle"]
        layer[s["layer"]] = layer.get(s["layer"], 0) + (s["wall_ms"] - cov[s["id"]]) / cycles
    report["self_ms_per_cycle"]["spark"] = sum(cov.values()) / cycles
    w = res["workload"]
    counts = res["trace"]["first_cycle_counts"]
    if w == "etl_nightly":
        pipelines = [s for s in spans if s["cls"] == "runPipeline"]
        for p in res["trace"]["plans"]:
            if p["write_target"]:
                key = f"etl.write_s.{p['write_target']}"
                report[key] = report.get(key, 0) + p["exec_ms"] / 1000 / len(pipelines)
    elif w in ("lakehouse_commits", "operator_catalog"):
        for cls, ss in sorted(by_class(spans).items()):
            group = [s for s in spans if s["cls"] == cls]
            n_jobs = [len(jobs.get(s["id"], [])) for s in group]
            if w == "lakehouse_commits":
                fmt, kind = cls.split(".")
                report[f"sources.{fmt}.{kind}_ms"] = statistics.mean(ss)
                report[f"sources.{fmt}.{kind}_jobs"] = statistics.mean(n_jobs)
                if kind == "lookup":
                    recs = sum(j["input_records"] for s in group for j in jobs.get(s["id"], []))
                    report[f"sources.{fmt}.lookup_rows_read_per_row"] = recs / len(group)
            else:
                report[f"operator_catalog.{cls}.s"] = statistics.mean(ss) / 1000
                report[f"operator_catalog.{cls}.jobs"] = sum(
                    len(jobs.get(s["id"], [])) for s in first if s["cls"] == cls)
                report[f"operator_catalog.{cls}.construct_s"] = statistics.mean(
                    s["call_ms"] for s in group) / 1000
        if w == "lakehouse_commits":
            for fmt, t in counts["tables"].items():
                report[f"sources.{fmt}.log_files"] = t["log_files"]
                report[f"sources.{fmt}.bytes_per_user_byte"] = t["root_bytes"] / t["user_bytes"]
                report[f"sources.{fmt}.merge_files_rewritten"] = sum(
                    counts["merge_files_rewritten"].get(fmt, []))
    return values, report
