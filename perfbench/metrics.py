"""Metric arithmetic over a run record: end-to-end metrics from the op
times, per-layer metrics from the spans and Spark jobs of a traced run.

Span and job times are epoch milliseconds; every `_s` result is seconds.
"""
import math
import statistics

TAIL_BEYOND = 10


def tail_percentile(values, q, beyond=TAIL_BEYOND):
    """Nearest-rank q-quantile, or None when fewer than `beyond` samples lie
    above its rank (too few to say anything about that tail)."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < beyond:
        return None
    return sorted(values)[rank - 1]


def union_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, lo, hi):
    return (max(interval[0], lo), min(interval[1], hi))


def self_ms(span, children, jobs):
    """A span's duration minus the part of it covered by its child spans and
    by the Spark jobs that ran during it."""
    lo, hi = span["start"], span["end"]
    covered = [clip((c["start"], c["end"]), lo, hi) for c in children]
    covered += [clip((j["start"], j["end"]), lo, hi) for j in jobs]
    return (hi - lo) - union_ms(covered)


def _within(job, span, slack_ms=1.0):
    """Job submitted during the span (job times have millisecond grain)."""
    return span["start"] - slack_ms <= job["start"] <= span["end"]


def rounds(ops, round_ops):
    """The timed ops in consecutive rounds of `round_ops` ops."""
    return [ops[i:i + round_ops] for i in range(0, len(ops), round_ops)]


def end_to_end(record, gen_s, input_bytes, round_ops):
    """The user-visible metrics of one run (see README for definitions).
    Throughput and CPU time come from the median round, so a round slowed
    by the host does not move them."""
    ops = record["ops"]
    lat = [o["end"] - o["start"] for o in ops]
    wall = ops[-1]["end"] - ops[0]["start"]
    rs = rounds(ops, round_ops)
    fin = record["finish"]
    out = {
        "setup_s": gen_s + record["session_s"] + statistics.median(record["seed_s"])
        + record["warmup_s"],
        "wall_s": wall,
        "op_p50_s": statistics.median(lat),
        "rows_per_s": statistics.median(
            sum(o["rows"] for o in r) / (r[-1]["end"] - r[0]["start"]) for r in rs),
        "cpu_s": len(rs) * statistics.median(sum(o["cpu"] for o in r) for r in rs),
        "retained_heap_mb": record["retained_heap_mb"],
    }
    # only in the run record: p90 needs 100 ops, write and space
    # amplification need a workload that writes, and space_amp's compact
    # rewrite is made in traced runs only
    out["op_p90_s"] = tail_percentile(lat, 0.9)
    if "store_bytes" in fin:
        out["write_amp"] = record["bytes_written"] / input_bytes
    if "compact_bytes" in fin:
        out["space_amp"] = fin["store_bytes"] / fin["compact_bytes"]
    return out


LAYER_METRICS = [
    "stage.jobs_per_op", "stage.tasks_per_op", "stage.driver_only_s",
    "stage.executor_cpu_s", "stage.executor_run_s", "stage.cpu_util",
    "stage.shuffle_write_bytes", "stage.input_bytes", "stage.spill_bytes",
    "stage.peak_exec_mem_bytes", "stage.gc_s", "stage.output_bytes",
    "stage.block_store_bytes", "stage.codegen_compiles_per_op",
    "queries.build_s", "queries.eager_jobs", "queries.force_s",
    "spec.parse_s", "io.read_s", "transform.apply_s", "dq.run_s",
    "dq.jobs_per_load", "io.write_s", "io.bytes_written",
    "io.partitions_rewritten_per_load", "io.target_files",
    "streaming.sink_s", "functions.index_append_s",
    "functions.minhash_ns_per_token",
    "maintain.compact_s", "maintain.compactions", "maintain.bytes_rewritten",
    "maintain.index_files",
]

# span name -> per-layer self-time metric
_SELF_TIME = {
    "queries.build": "queries.build_s", "queries.force": "queries.force_s",
    "spec.parse": "spec.parse_s", "io.read": "io.read_s",
    "transform.apply": "transform.apply_s", "dq.run": "dq.run_s",
    "io.write": "io.write_s", "streaming.sink": "streaming.sink_s",
    "functions.index_append": "functions.index_append_s",
    "maintain.compact": "maintain.compact_s",
}


def per_layer(record, workload, cores):
    """Per-layer metrics of a traced run. A layer the workload never calls
    reports 0."""
    spans, n_ops = record["spans"], len(record["ops"])
    jobs = [j for j in record["jobs"] if j["op"] and j["end"] >= j["start"]]
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append(j)
    children = {}
    for i, s in enumerate(spans):
        children.setdefault(s["parent"], []).append(s)
    out = dict.fromkeys(LAYER_METRICS, 0)
    job_ms = 0.0
    for i, s in enumerate(spans):
        if not s["op"]:  # set-up and warm-up
            continue
        op_jobs = by_op.get(s["op"], [])
        if s["name"] == "op":
            inside = [clip((j["start"], j["end"]), s["start"], s["end"]) for j in op_jobs]
            covered = union_ms(inside)
            job_ms += covered
            out["stage.driver_only_s"] += (s["end"] - s["start"] - covered) / 1e3
        metric = _SELF_TIME.get(s["name"])
        if metric:
            mine = [j for j in op_jobs if j["end"] >= s["start"] and j["start"] <= s["end"]]
            out[metric] += self_ms(s, children.get(i, []), mine) / 1e3
        if s["name"] == "queries.build":
            out["queries.eager_jobs"] += sum(1 for j in op_jobs if _within(j, s))
        if s["name"] == "dq.run":
            out["dq.jobs_per_load"] += sum(1 for j in op_jobs if _within(j, s)) / n_ops
    out["stage.jobs_per_op"] = len(jobs) / n_ops
    out["stage.tasks_per_op"] = sum(j["tasks"] for j in jobs) / n_ops
    out["stage.codegen_compiles_per_op"] = sum(o["codegen"] for o in record["ops"]) / n_ops
    out["stage.executor_cpu_s"] = sum(j["executor_cpu_ns"] for j in jobs) / 1e9
    out["stage.executor_run_s"] = sum(j["executor_run_ms"] for j in jobs) / 1e3
    out["stage.cpu_util"] = out["stage.executor_cpu_s"] / (job_ms / 1e3 * cores) if job_ms else 0
    for k in ("shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes"):
        out[f"stage.{k}"] = sum(j[k] for j in jobs)
    out["stage.peak_exec_mem_bytes"] = max((j["peak_exec_mem_bytes"] for j in jobs), default=0)
    out["stage.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1e3
    out["stage.block_store_bytes"] = record["block_store_bytes"]
    fin = record["finish"]
    if workload == "acon_merge":
        out["io.bytes_written"] = record["bytes_written"]
        out["io.partitions_rewritten_per_load"] = statistics.mean(fin["partitions_rewritten"])
        out["io.target_files"] = fin["store_files"]
    if workload == "dedup_ingest":
        out["functions.minhash_ns_per_token"] = fin["minhash_ns_per_token"]
        out["maintain.compactions"] = fin["compactions"]
        out["maintain.bytes_rewritten"] = fin["bytes_rewritten"]
        out["maintain.index_files"] = fin["store_files"]
    return out


# Every end-to-end metric of the run record, with its unit.
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "rows_per_s": "rows/s", "cpu_s": "s", "failed_ratio": "ratio",
    "write_amp": "ratio", "space_amp": "ratio", "retained_heap_mb": "MB",
}

# The end-to-end metrics of the result line (BENCHMARK.json's end_to_end):
# defined and non-zero on every workload, and steady enough from run to run
# on a shared host to carry a bound (README, "Limits of this sizing").
RESULT_E2E = ("setup_s", "rows_per_s", "cpu_s", "retained_heap_mb")


def _layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes_written"):
        return "bytes"
    return {"stage.cpu_util": "ratio", "functions.minhash_ns_per_token": "ns"}.get(name, "count")


LAYER_UNITS = {name: _layer_unit(name) for name in LAYER_METRICS}

