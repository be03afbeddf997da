"""Arithmetic of the graft benchmark: metric names and units, the tail
percentile rule, span self time, failure counting and the per-layer
roll-up. Pure functions; `tests/test_metrics.py` pins them."""
import math
import statistics

# name -> (unit, better); the same table is written into BENCHMARK.json
END_TO_END = {
    "ops_per_s": ("1/s", "higher"),
    "latency_p50_s": ("s", "lower"),
    "latency_tail_s": ("s", "lower"),
    "cold_p50_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "heap_after_gc_mb": ("MB", "lower"),
}

PER_LAYER = {
    "plans.analysis_ms": ("ms", "lower"),
    "plans.optimization_ms": ("ms", "lower"),
    "plans.planning_ms": ("ms", "lower"),
    "driver.self_ms": ("ms", "lower"),
    "exchange.count": ("count", "lower"),
    "exchange.shuffle_write_bytes": ("bytes", "lower"),
    "exchange.shuffle_write_records": ("count", "lower"),
    "exchange.shuffle_read_bytes": ("bytes", "lower"),
    "exchange.fetch_wait_ms": ("ms", "lower"),
    "exchange.broadcast_bytes": ("bytes", "lower"),
    "exchange.spill_bytes": ("bytes", "lower"),
    "sources.files_read": ("count", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "sources.input_records": ("count", "lower"),
    "sources.rows_emitted": ("count", "lower"),
    "sources.footer_reads": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.stage_skew_max": ("ratio", "lower"),
    "functions.kernel_nodes": ("count", "lower"),
    "functions.kernel_nodes_per_generate": ("ratio", "lower"),
    "ops.peak_exec_memory_mb": ("MB", "lower"),
    "ops.cached_bytes_leaked": ("bytes", "lower"),
    "store.commits": ("count", "lower"),
    "store.commit_ms": ("ms", "lower"),
    "store.files_written": ("count", "lower"),
    "store.bytes_written_per_user_byte": ("ratio", "lower"),
    "store.dv_files": ("count", "lower"),
    "etl.bronze_to_silver_ms": ("ms", "lower"),
    "etl.dims_ms": ("ms", "lower"),
    "etl.dq_pass_ratio": ("ratio", "higher"),
    "ingest.write_ms": ("ms", "lower"),
    "ingest.bytes": ("bytes", "lower"),
    "sql.report_ms": ("ms", "lower"),
    "sql.fact_scans": ("count", "lower"),
    "run.failed_ratio": ("ratio", "lower"),
    "run.stored_bytes_per_user_byte": ("ratio", "lower"),
    "run.latency_tail_pct": ("pct", "higher"),
    "run.latency_tail_samples": ("count", "higher"),
    "trace.ops_per_s": ("1/s", "higher"),
}

TAIL_BEYOND = 10  # warm samples that must lie above the tail percentile


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it:
    the (beyond+1)-th largest sample, at nearest-rank percentile
    100*(n-beyond)/n. Returns (value, percentile, n), or None when that
    percentile would not reach the median (n <= 2*beyond): too few
    samples to have a tail."""
    xs = sorted(values)
    n = len(xs)
    if n <= 2 * beyond:
        return None
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """Span duration minus the time its children cover (children clipped
    to the span, overlaps counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)]
    return (end - start) - union_length(clipped)


def count_failures(samples, failed_checks):
    """(attempted, failed). An execution fails when it threw, or when its
    op failed the output check (every execution of that op then counts)."""
    attempted = len(samples)
    failed = sum(1 for s in samples if s.get("error") or s["op"] in failed_checks)
    return attempted, failed


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b) (continued fraction,
    as in Numerical Recipes' betai)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return front * h / a


def hd_quantile(values, p):
    """Harrell–Davis estimate of quantile p: a Beta((n+1)p, (n+1)(1-p))
    weighted mean of the order statistics. Unlike the sample quantile it
    does not jump when the values around p leave a gap, which is what
    keeps a median over a dozen unlike ops steady from run to run."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def warm_by_op(samples):
    """op -> its warm latencies."""
    out = {}
    for s in samples:
        if not s["cold"]:
            out.setdefault(s["op"], []).append(s["seconds"])
    return out


def latency_tail(samples):
    """(value, percentile, warm samples) of the warm tail. With too few
    warm samples for the tail rule, the Harrell–Davis p75 of the ops'
    median warm latencies: an upper quartile is what a dozen ops with one
    or two samples each can estimate steadily."""
    warm = [s["seconds"] for s in samples if not s["cold"]]
    t = tail(warm)
    if t is None:
        return hd_quantile([statistics.median(v) for v in warm_by_op(samples).values()], 0.75), 75.0, len(warm)
    return t


def end_to_end(result):
    """End-to-end metrics (name -> value) from one run's raw result.

    A warm window ends part-way through a round of the op sequence, so the
    op mix of the samples differs from run to run. Throughput and median
    are therefore taken over the uniform mix every round has: each
    distinct op weighs the same, whatever number of times it ran. Medians
    are Harrell–Davis estimates."""
    by_op = warm_by_op(result["samples"])
    cold = [s["seconds"] for s in result["samples"] if s["cold"]]
    return {
        "ops_per_s": len(by_op) / sum(statistics.mean(v) for v in by_op.values()),
        "latency_p50_s": hd_quantile([statistics.median(v) for v in by_op.values()], 0.5),
        "latency_tail_s": latency_tail(result["samples"])[0],
        "cold_p50_s": hd_quantile(cold, 0.5),
        "setup_s": statistics.median(result["setup_s"]),
        "heap_after_gc_mb": result["heap_after_gc_mb"],
    }


def _seq_totals(result):
    """op execution (seq) -> counter -> total over that execution's spans;
    `_max` counters combine by maximum."""
    op_of = {s["id"]: s["op"] for s in result["spans"] if s["id"] >= 0}
    totals = {s["seq"]: {} for s in result["samples"]}
    for sid, c in result["counters"].items():
        t = totals.get(op_of.get(int(sid)))
        if t is None:
            continue
        for k, v in c.items():
            t[k] = max(t.get(k, 0.0), v) if k.endswith("_max") else t.get(k, 0.0) + v
    return totals


def breakdown(result):
    """op -> counter -> mean per execution: the per-op table of a trace."""
    totals = _seq_totals(result)
    runs = {}
    for s in result["samples"]:
        runs.setdefault(s["op"], []).append(totals[s["seq"]])
    return {op: {k: sum(t.get(k, 0.0) for t in ts) / len(ts) for k in sorted(set().union(*ts))}
            for op, ts in runs.items()}


def per_layer(result):
    """Per-layer metrics of a traced run. Additive counters are reported
    per op (mean over distinct ops of the mean over executions), so a
    run's length does not change them; `_max` counters are maxima."""
    spans = [s for s in result["spans"] if s["id"] >= 0]
    jobs = [s for s in result["spans"] if s["id"] < 0]
    op_of = {s["id"]: s["op"] for s in spans}
    name_of = {s["id"]: s["name"] for s in spans}
    op_name = {s["seq"]: s["op"] for s in result["samples"]}
    counters = {int(k): v for k, v in result["counters"].items()}
    seqs = sorted(op_name)
    table = breakdown(result)
    totals = _seq_totals(result).values()

    def per_op(fn):
        """Mean over distinct ops of the mean of fn(seq) over their executions."""
        runs = {}
        for seq in seqs:
            runs.setdefault(op_name[seq], []).append(fn(seq))
        return sum(sum(v) / len(v) for v in runs.values()) / len(runs)

    def report_counter(key):
        return sum(c.get(key, 0.0) for sid, c in counters.items() if name_of.get(sid) == "sql.report")

    def span_ms(seq, name):
        return sum(s["end_ns"] - s["start_ns"] for s in spans if s["op"] == seq and s["name"] == name) / 1e6

    def driver_self_ms(seq):
        root = next(s for s in spans if s["op"] == seq and s["parent"] == -1)
        own = [(j["start_ns"], j["end_ns"]) for j in jobs if op_of.get(j["parent"]) == seq]
        return self_time(root["start_ns"], root["end_ns"], own) / 1e6

    additive = ["plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
                "exchange.count", "exchange.shuffle_write_bytes", "exchange.shuffle_write_records",
                "exchange.shuffle_read_bytes", "exchange.fetch_wait_ms", "exchange.broadcast_bytes",
                "exchange.spill_bytes", "sources.files_read", "sources.input_bytes",
                "sources.input_records", "sources.rows_emitted", "sources.footer_reads",
                "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
                "spark.executor_cpu_ms", "spark.gc_ms", "functions.kernel_nodes",
                "ops.cached_bytes_leaked"]
    m = {k: sum(v.get(k, 0.0) for v in table.values()) / len(table) for k in additive}
    m["spark.stage_skew_max"] = max([t.get("spark.stage_skew_max", 0.0) for t in totals] or [0.0])
    m["ops.peak_exec_memory_mb"] = max([t.get("ops.peak_exec_memory_mb_max", 0.0) for t in totals] or [0.0])
    generates = sum(t.get("functions.generate_nodes", 0.0) for t in totals)
    kernels = sum(t.get("functions.kernel_nodes", 0.0) for t in totals)
    m["functions.kernel_nodes_per_generate"] = kernels / generates if generates else 0.0
    m["driver.self_ms"] = per_op(driver_self_ms)
    m["store.commits"] = per_op(lambda seq: sum(1 for s in spans if s["op"] == seq and s["name"] == "store.commit"))
    for name, span in (("store.commit_ms", "store.commit"), ("etl.bronze_to_silver_ms", "etl.bronze_to_silver"),
                       ("etl.dims_ms", "etl.dims"), ("ingest.write_ms", "ingest.write"),
                       ("sql.report_ms", "sql.report")):
        m[name] = per_op(lambda seq, span=span: span_ms(seq, span))
    report_plans, fact_scans = report_counter("sql.report_plans"), report_counter("sql.fact_scans")
    m["sql.fact_scans"] = fact_scans / report_plans if report_plans else 0.0

    summ = result["summary"]
    n_ops = len(set(op_name.values()))
    bronze = summ.get("bronze_bytes", 0)
    m["ingest.bytes"] = bronze / n_ops if bronze else 0.0
    m["etl.dq_pass_ratio"] = (sum(v for k, v in summ.items() if k.endswith(".silver_rows") and k.startswith("day"))
                              / summ["bronze_records"]) if summ.get("bronze_records") else 0.0
    m["store.files_written"] = summ.get("store_files", 0) / n_ops
    m["store.dv_files"] = summ.get("store_dv_files", 0) / n_ops
    m["store.bytes_written_per_user_byte"] = summ.get("store_bytes", 0) / bronze if bronze else 0.0
    m["run.stored_bytes_per_user_byte"] = ((summ.get("store_bytes", 0) + summ.get("silver_bytes", 0)) / bronze
                                           if bronze else 0.0)
    return m


def missing(metrics, spec):
    """Names of `spec` absent from `metrics` or not finite numbers."""
    return [k for k in spec if not isinstance(metrics.get(k), (int, float)) or not math.isfinite(metrics[k])]
