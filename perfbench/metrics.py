"""Turns the driver's raw result file into the benchmark's metrics.

Pure functions over the parsed result, so the rules (the tail percentile,
the per-layer aggregation) are testable without a Spark run.
"""
import math
import statistics

LEDGER_READS = ["count_by_status", "oldest_by_status", "latest_by_status",
                "overlap_for_input", "continuity", "overlap_windows", "scalar_max"]
LEDGER_WRITES = ["ingest", "update"]
API_OPS = LEDGER_READS + LEDGER_WRITES + ["compact"]
# The driver's curation step (Main.curationQueries); a test keeps them equal.
CURATION_QUERIES = ["x38_dedup_corpus", "x158_dedup_corpus_collapsed", "x44_redact"]
MB = 1024.0 * 1024.0


LADDER = (99.0, 95.0, 90.0)


def nearest_rank(xs, pct):
    """Nearest-rank percentile of sorted ``xs``: the smallest sample with at
    least ``pct`` % of the samples at or below it."""
    return xs[max(0, math.ceil(len(xs) * pct / 100) - 1)]


def tail(values, beyond=10):
    """The tail latency: the highest of p99, p95 and p90 that has at least
    ``beyond`` samples above it.

    Returns (value, percentile, samples, samples_beyond). With fewer than
    ``10 * beyond`` samples no rung qualifies; p90 is returned and
    ``samples_beyond`` says how thin it is.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    for pct in LADDER:
        v = nearest_rank(xs, pct)
        above = sum(1 for x in xs if x > v)
        if above >= beyond:
            return v, pct, len(xs), above
    v = nearest_rank(xs, LADDER[-1])
    return v, LADDER[-1], len(xs), sum(1 for x in xs if x > v)


def _ms(ops, kinds):
    return [o["ms"] for o in ops if o["ok"] and o["name"] in kinds]


def end_to_end(result, phase, live_rows, docs):
    """The end-to-end metrics of one timed phase, plus the tail details."""
    ops = phase["ops"]
    reads, writes = _ms(ops, LEDGER_READS), _ms(ops, LEDGER_WRITES)
    read_tail, read_pct, read_n, read_beyond = tail(reads)
    write_tail, write_pct, write_n, write_beyond = tail(writes)
    ok_calls = sum(1 for o in ops if o["ok"])
    pass_s = statistics.median(p["wall_s"] for p in phase["passes"])
    metrics = {
        "setup_s": (statistics.median(result["setup_reps_s"]), "s"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "read_tail_ms": (read_tail, "ms"),
        "write_p50_ms": (statistics.median(writes), "ms"),
        "write_tail_ms": (write_tail, "ms"),
        "ledger_ops_per_s": (ok_calls / phase["ledger_s"], "1/s"),
        "bytes_per_row": (result["layout"]["bytes"] / live_rows, "B"),
        "batch_docs_per_s": (docs / pass_s, "1/s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    details = {"read_tail_percentile": read_pct, "read_samples": read_n,
               "read_samples_beyond_tail": read_beyond,
               "write_tail_percentile": write_pct, "write_samples": write_n,
               "write_samples_beyond_tail": write_beyond,
               "passes": len(phase["passes"]), "ledger_calls": len(ops)}
    return metrics, details


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(result, traced, untraced_e2e, traced_e2e, bytes_per_ledger_row):
    """Per-layer metrics from the traced phase's attributed calls.

    Driver and scheduler figures are per ledger call, executor figures per
    curation query call: each is averaged over the calls of the end-to-end
    metric it is mapped to in BENCHMARK.json.
    """
    layers = traced["layers"]
    ledger = [x for x in layers if x["kind"] in ("read", "write", "maint")]
    queries = [x for x in layers if x["kind"] == "query"]
    reads = [x for x in ledger if x["kind"] == "read"]
    # the client's op records and the ledger spans are both in call order
    ops = traced["ops"]
    writes = [(x, o) for x, o in zip(ledger, ops) if x["kind"] == "write"]
    m = {}
    for op in API_OPS:
        m[f"api.{op}.p50_ms"] = (_median(x["wall_ms"] for x in ledger if x["name"] == op), "ms")
    m["engine.nonspark_ms"] = (_mean(x["nonspark_ms"] for x in ledger), "ms")
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "codegen_ms"):
        m[f"spark.driver.{k}"] = (_mean(x[k] for x in ledger), "ms")
    m["spark.driver.plans_per_op"] = (_mean(x["plans"] for x in ledger), "count")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.scheduler.{k}_per_op"] = (_mean(x[k] for x in ledger), "count")
    m["spark.scheduler.overhead_ms"] = (
        _mean(x["jobs_wall_ms"] - x["critical_ms"] for x in ledger), "ms")
    task_ms = sum(x["task_run_ms"] for x in queries)
    jobs_ms = sum(x["jobs_wall_ms"] for x in queries)
    m.update({
        "spark.executor.task_run_ms": (_mean(x["task_run_ms"] for x in queries), "ms"),
        "spark.executor.cpu_ms": (_mean(x["cpu_ms"] for x in queries), "ms"),
        "spark.executor.gc_ms": (_mean(x["gc_ms"] for x in queries), "ms"),
        "spark.executor.shuffle_write_mb": (_mean(x["shuffle_write_b"] / MB for x in queries), "MB"),
        "spark.executor.fetch_wait_ms": (_mean(x["fetch_wait_ms"] for x in queries), "ms"),
        "spark.executor.spill_mb": (_mean(x["spill_b"] / MB for x in queries), "MB"),
        "spark.executor.peak_task_mem_mb": (
            max((x["peak_task_mem_b"] for x in queries), default=0) / MB, "MB"),
        "spark.executor.slot_util": (
            task_ms / (jobs_ms * result["cores"]) if jobs_ms else 0.0, "share"),
        "spark.executor.max_task_share": (
            sum(x["max_task_share"] * x["task_run_ms"] for x in queries) / task_ms
            if task_ms else 0.0, "share"),
    })
    user_b = sum(o.get("user_b", 0) if o["name"] == "ingest"
                 else o["rows"] * bytes_per_ledger_row for _, o in writes)
    compacts = [x for x in ledger if x["name"] == "compact"]
    layout = traced["layout"]
    m.update({
        "sources.files_read_per_read": (_mean(x["files_read"] for x in reads), "count"),
        "sources.rows_scanned_per_row_returned": (
            sum(x["rows_scanned"] for x in reads)
            / max(1, sum(o["rows"] for x, o in zip(ledger, ops) if x["kind"] == "read")), "ratio"),
        "sources.bytes_written_per_user_byte": (
            sum(x["output_b"] for x, _ in writes) / user_b if user_b else 0.0, "ratio"),
        "sources.files_per_partition": (
            layout["files"] / layout["partitions"] if layout["partitions"] else 0.0, "count"),
        "sources.compact_ms": (_median(x["wall_ms"] for x in compacts), "ms"),
        "sources.compact_rewritten_mb": (sum(x["output_b"] for x in compacts) / MB, "MB"),
    })
    ingests = [x for x in ledger if x["name"] == "ingest"]
    n_batches = sum(x["batches"] for x in ingests)
    stream_in = sum(x["batch_input_rows"] for x in ingests)
    for k, key in (("batch_ms", "batch_ms"), ("add_batch_ms", "add_batch_ms"),
                   ("commit_ms", "commit_ms"), ("planning_ms", "stream_planning_ms")):
        m[f"streaming.{k}"] = (sum(x[key] for x in ingests) / n_batches if n_batches else 0.0, "ms")
    m["streaming.replay_drop_frac"] = (
        sum(x["batch_dropped_rows"] for x in ingests) / stream_in if stream_in else 0.0, "share")
    for q in CURATION_QUERIES:
        mine = [x for x in queries if x["name"] == f"query.{q}"]
        m[f"operators.{q}.wall_s"] = (_median(x["wall_ms"] / 1000 for x in mine), "s")
        m[f"operators.{q}.cpu_s"] = (_mean(x["cpu_ms"] / 1000 for x in mine), "s")
        m[f"operators.{q}.shuffle_mb"] = (_mean(x["shuffle_write_b"] / MB for x in mine), "MB")
    for k in ("read_p50_ms", "write_p50_ms", "batch_docs_per_s"):
        m[f"trace.overhead.{k}"] = (traced_e2e[k][0] - untraced_e2e[k][0], untraced_e2e[k][1])
    m["trace.self_time_gap"] = (self_time_gap(layers), "share")
    return m


def self_time_coverage(layers):
    """Per op kind and query: the layers' self times (Spark jobs, driver
    planning outside jobs, the rest) summed, over the summed wall."""
    out = {}
    for name in sorted({x["name"] for x in layers}):
        mine = [x for x in layers if x["name"] == name]
        wall = sum(x["wall_ms"] for x in mine)
        parts = sum(x["jobs_wall_ms"] + x["driver_ms"] + x["nonspark_ms"] for x in mine)
        out[name] = parts / wall if wall > 0 else 1.0
    return out


def self_time_gap(layers):
    """Largest |self-time sum / wall - 1| over the op kinds and queries."""
    return max((abs(v - 1.0) for v in self_time_coverage(layers).values()), default=0.0)
