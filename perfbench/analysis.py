"""Turns the harness's raw records into the benchmark's metrics.

Pure functions over plain data, so the tests in test_analysis.py cover
them without Spark.
"""
import argparse
import statistics

WORKLOADS = ("dq_gate", "dq_rule_scale", "curation_stages")
CURATION_QUERIES = ("v2_stage_counts", "hash_neardup_incremental")


# gated end-to-end metrics (fail_ratio is printed, and travels as
# attempted/failed in the result line; being 0 it has no relative bound)
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "first_op_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_tail_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.2},
]


def _layer(name, unit, better="lower"):
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = (
    [_layer("rules.load_s", "s"), _layer("rules.validate_s", "s"),
     _layer("eval.row_plan_s", "s"), _layer("eval.row_counts_s", "s"),
     _layer("eval.agg_s", "s"), _layer("eval.query_s", "s"),
     _layer("eval.codegen_compile_ms", "ms"), _layer("eval.codegen_classes", "count"),
     _layer("eval.codegen_fallbacks", "count"),
     _layer("orchestrator.run_s", "s")] +
    [_layer(f"orchestrator.stage.{st}_s", "s") for st in (
        "source_agg_dq", "source_query_dq", "row_dq", "final_agg_dq", "final_query_dq")] +
    [_layer("orchestrator.jobs", "count"), _layer("orchestrator.stages", "count"),
     _layer("orchestrator.tasks", "count"),
     _layer("sink.error_write_s", "s"), _layer("sink.error_rows", "count"),
     _layer("sink.error_bytes", "bytes"),
     _layer("sink.target_write_s", "s"), _layer("sink.target_rows", "count"),
     _layer("sink.target_bytes", "bytes"), _layer("sink.stats_write_s", "s")] +
    [_layer(f"queries.{q}.{m}", u) for q in CURATION_QUERIES
     for m, u in (("build_s", "s"), ("eager_jobs", "count"),
                  ("exec_s", "s"), ("stages", "count"))] +
    [_layer("spark.stages", "count"), _layer("spark.tasks", "count"),
     _layer("spark.tasks_failed", "count"), _layer("spark.driver_only_s", "s"),
     _layer("spark.executor_run_s", "s"), _layer("spark.busy_ratio", "ratio", "higher"),
     _layer("spark.shuffle_write_bytes", "bytes"), _layer("spark.spill_bytes", "bytes"),
     _layer("spark.gc_s", "s"),
     _layer("cache.leaked_rdds", "count"), _layer("cache.release_s", "s")] +
    [_layer(f"trace.self.{lay}_s", "s") for lay in (
        "rules", "orchestrator", "sink", "cache", "queries", "uncovered")] +
    [_layer("trace.op_p50_s", "s"), _layer("trace.untraced_op_p50_s", "s"),
     _layer("trace.overhead_s", "s")])


def parse_args(argv):
    """The benchmark's command line: --workload --seed --seconds --trace."""
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error("--seed must be a non-negative integer")
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples_beyond, n). With too few samples
    for any percentile above the median, the median is reported with the
    number of samples that lie beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0, 0
    k = n - 1 - beyond          # index with exactly `beyond` samples after it
    mid = (n - 1) // 2
    if k < mid:
        return median(xs), 50.0, n - 1 - mid, n
    return xs[k], 100.0 * (k + 1) / n, beyond, n


def rows_per_s(rows_per_op, op_seconds):
    """Input rows over summed op time (not the mean of per-op rates)."""
    total = sum(op_seconds)
    return rows_per_op * len(op_seconds) / total if total > 0 else 0.0


def merge(intervals):
    """Union of [start, end] intervals as a sorted disjoint list."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    return sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in merge(intervals))


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def layer_of(span_name):
    """`eval.row_plan` -> `eval`; the op root is the uncovered remainder."""
    return "uncovered" if span_name == "op" else span_name.split(".")[0]


def in_window(t, lo, hi):
    return t is not None and lo <= t <= hi


def spark_window(stages, jobs, lo, hi, cores):
    """Spark work submitted in [lo, hi] and the time no stage ran."""
    st = [s for s in stages if in_window(s["submit"], lo, hi)]
    busy = [(s["submit"], s["done"]) for s in st if s["done"] is not None]
    wall = hi - lo
    run_s = sum(s["run_s"] for s in st)
    return {
        "jobs": sum(1 for j in jobs if in_window(j["start"], lo, hi)),
        "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "tasks_failed": sum(s["failed"] for s in st),
        "driver_only_s": wall - covered(busy, lo, hi),
        "executor_run_s": run_s,
        "busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
        "spill_bytes": sum(s["spill_bytes"] for s in st),
        "gc_s": sum(s["gc_s"] for s in st),
    }


def traced_metrics(raw, per_layer_names):
    """Per-layer metrics: the median over traced ops of each per-op value.

    Every name in `per_layer_names` is reported; a layer the workload
    never calls reads 0.
    """
    cores = raw["cores"]
    spans, stages, jobs = raw["spans"], raw["stages"], raw["jobs"]
    codegen = raw["codegen"]
    selfs = self_times(spans)
    ops = [o for o in raw["ops"] if o["traced"]]
    untraced = [o["end"] - o["start"] for o in raw["ops"] if not o["traced"]]
    per_op = []
    for o in ops:
        v = {}
        mine = [s for s in spans if s["op"] == o["id"]]
        root = next(s for s in mine if s["name"] == "op")
        lo, hi = root["start"], root["end"]
        for s in mine:
            if s["name"] in ("op", "probes"):
                continue
            d = s["end"] - s["start"]
            key = s["name"]
            v[key + "_s"] = v.get(key + "_s", 0.0) + d
            if key.startswith("queries.") or key == "orchestrator.run":
                w = spark_window(stages, jobs, s["start"], s["end"], cores)
                if key == "orchestrator.run":
                    for k in ("jobs", "stages", "tasks"):
                        v["orchestrator." + k] = w[k]
                elif key.endswith(".build"):
                    v[key[:-len(".build")] + ".eager_jobs"] = w["jobs"]
                else:
                    v[key[:-len(".exec")] + ".stages"] = w["stages"]
        probe_ids = {s["id"] for s in mine if s["name"] == "probes"}
        for s in mine:
            if s["name"] != "probes" and s["parent"] not in probe_ids:
                key = f"trace.self.{layer_of(s['name'])}_s"
                v[key] = v.get(key, 0.0) + selfs[s["id"]]
        w = spark_window(stages, jobs, lo, hi, cores)
        for k in ("stages", "tasks", "tasks_failed", "driver_only_s", "executor_run_s",
                  "busy_ratio", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            v["spark." + k] = w[k]
        cg = [c for c in codegen if in_window(c["t"], lo, hi)]
        v["eval.codegen_compile_ms"] = sum(c["ms"] for c in cg if c["kind"] == "compile")
        v["eval.codegen_fallbacks"] = sum(1 for c in cg if c["kind"] == "fallback")
        v["eval.codegen_classes"] = o["codegen_classes"]
        v["cache.leaked_rdds"] = o["leaked_rdds"]
        for k, x in o["numbers"].items():
            v[k] = x
        per_op.append(v)

    out = {name: median([v.get(name, 0.0) for v in per_op]) for name in per_layer_names}
    traced_p50 = median([o["end"] - o["start"] for o in ops])
    out["trace.op_p50_s"] = traced_p50
    out["trace.untraced_op_p50_s"] = median(untraced)
    out["trace.overhead_s"] = traced_p50 - median(untraced)
    return out, per_op


def end_to_end(raw):
    """The seven end-to-end metrics of one untraced run, with sample counts."""
    ops = raw["ops"]
    times = [o["end"] - o["start"] for o in ops]
    good = [o["end"] - o["start"] for o in ops if o["ok"]]
    first = raw["first_op"]
    checked = ops + [first] + raw["warmup_ops"]
    attempted = len(checked)
    failed = sum(1 for o in checked if not o["ok"])
    t_val, t_pct, t_beyond, t_n = tail(times)
    return {
        "setup_s": (median(raw["setup_s"]), "s", len(raw["setup_s"]),
                    f"cold set-up from JVM start {raw['setup_s'][0]:.3f} s"),
        "first_op_s": (first["end"] - first["start"], "s", 1, ""),
        "op_p50_s": (median(times), "s", len(times), ""),
        "op_tail_s": (t_val, "s", t_n, f"p{t_pct:.0f}, {t_beyond} samples beyond"),
        "rows_per_s": (rows_per_s(raw["input_rows"], good), "1/s", len(good), ""),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB", 1, ""),
        "fail_ratio": (failed / attempted, "ratio", attempted, ""),
    }, attempted, failed
