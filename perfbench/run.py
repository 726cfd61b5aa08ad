#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one JVM.

    python3 perfbench/run.py --workload <catalog|acon_merge|dedup_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the runner from source
(once per source state), generates the workload's inputs from the seed,
runs set-up, warm-up and the timed ops in a Spark local[nproc] JVM, checks
every output, and prints the run record followed, on the last line, by
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("catalog", "acon_merge", "dedup_ingest")
# The timed ops run in rounds of a fixed unit of work: every picked query
# once (catalog), one load (acon_merge), two micro-batches, the second of
# them compacting (dedup_ingest). Throughput and CPU time come from the
# median round, so a round slowed by the host does not move them. The round
# count is fixed by --seconds and each round's nominal length at the parent
# commit on a 4-core VM (never by elapsed time), so a faster engine finishes
# the same work sooner.
ROUND_OPS = {"catalog": 6, "acon_merge": 1, "dedup_ingest": 2}
ROUND_SECONDS = {"catalog": 2.3, "acon_merge": 1.4, "dedup_ingest": 3.8}
MIN_ROUNDS = 3
# Batches before timing (catalog warms up on one execution of each query;
# dedup_ingest on one compaction cycle). The JIT is still compiling after
# them, so the first timed rounds are the slow ones the median drops.
WARMUP_OPS = {"acon_merge": 3, "dedup_ingest": 2}
SETUP_REPS = 2          # the store is seeded this often; the median counts
DEDUP_COPIES = 20       # corpus: the 500 test documents x 20 = 10k docs
DEDUP_BATCH_DOCS = 100
# The index starts as one file per band (4) and each batch appends one file
# per band, so compaction runs on every second batch: the second op of every
# round, warm-up included.
DEDUP_COMPACT_FILES = 11
HEAP = "3g"
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# --- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            for f in fs if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + runner with sbt (offline) unless this source state
    was already built; returns the runtime classpath, the engine's JVM
    options and the catalog's query names."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources here: run from the repository root")
    stamp, spec_file = source_stamp(), os.path.join(BUILD, "runspec.json")
    if os.path.isfile(spec_file):
        with open(spec_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and runner (sbt)")
    for name in ("classpath", "javaopts"):
        if os.path.isfile(os.path.join(BUILD, f"{name}.txt")):
            os.remove(os.path.join(BUILD, f"{name}.txt"))
    out = os.path.join(BUILD, "sbt.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    f"perfbench/writeRunSpec {BUILD}"], HERE, out, 880, env)
    spec = {}
    for name in ("classpath", "javaopts"):
        path = os.path.join(BUILD, f"{name}.txt")
        if os.path.isfile(path):
            with open(path) as f:
                spec[name] = f.read().splitlines()
    if rc != 0 or not spec.get("classpath"):
        with open(out) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    spec["classpath"] = os.pathsep.join(spec["classpath"])
    names = os.path.join(BUILD, "queries.json")
    java(spec, "graft.perfbench.ListQueries", [names], BUILD, time.time() + 120)
    with open(names) as f:
        spec["queries"] = json.load(f)
    with open(spec_file, "w") as f:
        json.dump(dict(spec, stamp=stamp), f)
    return spec


# --- inputs -----------------------------------------------------------------

def n_rounds(workload, seconds):
    return max(MIN_ROUNDS, round(seconds / ROUND_SECONDS[workload]))


def merge_acon(batch_dir, target, create=False):
    """The delta-load ACON of one change batch (create: the initial load)."""
    acon = {
        "input_specs": [{"spec_id": "changes", "read_type": "batch",
                         "data_format": "parquet", "location": batch_dir}],
        "transform_specs": [{"spec_id": "condensed", "input_id": "changes", "transformers": [
            {"function": "condense_record_mode_cdc", "args": {
                "business_key": gen.MERGE_KEY, "ranking_key_desc": ["extraction_ts"],
                "record_mode_col": "recordmode", "valid_record_modes": ["", "N", "D"]}}]}],
        "dq_specs": [{"spec_id": "checked", "input_id": "condensed", "dq_type": "validator",
                      "fail_on_error": True, "dq_functions": [
            {"function": "expect_column_values_to_not_be_null", "args": {"column": "l_orderkey"}},
            {"function": "expect_column_values_to_be_between",
             "args": {"column": "l_discount", "min_value": 0, "max_value": 0.1}},
            {"function": "expect_table_row_count_to_be_between", "args": {"min_value": 1}}]}],
        "output_specs": [{"spec_id": "target", "input_id": "checked", "write_type": "merge",
                          "data_format": "parquet", "location": target,
                          "partitions": ["ship_month"], "merge_opts": {
            "merge_predicate": "current.l_orderkey = new.l_orderkey and "
                               "current.l_linenumber = new.l_linenumber and "
                               "current.ship_month = new.ship_month",
            "delete_predicate": "new.recordmode = 'D'",
            "insert_predicate": "new.recordmode <> 'D'"}}],
    }
    if create:
        del acon["transform_specs"], acon["dq_specs"]
        acon["output_specs"][0]["input_id"] = "changes"
    return json.dumps(acon)


def prepare(workload, seed, seconds, work, query_names):
    """Generate the inputs; returns (manifest, input bytes of timed ops,
    facts for the checks)."""
    rounds, k = n_rounds(workload, seconds), ROUND_OPS[workload]
    n = rounds * k
    if workload == "catalog":
        # the test tables as they are; k queries evenly spaced in name order
        # (the same for every seed), each round running them in an order the
        # seed permutes
        names = sorted(query_names)
        picked = [names[round(i * len(names) / k)] for i in range(k)]
        order = [picked[i] for i in gen.rng(seed, "catalog").permutation(k)] * rounds
        rows = gen.table_rows()
        m = {"data_dir": gen.TESTDATA, "check_dir": os.path.join(work, "check"),
             "queries": order, "table_rows": rows}
        return m, gen.dir_bytes(gen.TESTDATA), {
            "order": order, "sizes": {"tables": rows, "bytes": gen.dir_bytes(gen.TESTDATA)}}
    if workload == "acon_merge":
        warm = WARMUP_OPS[workload]
        info = gen.write_merge(seed, os.path.join(work, "inputs"), warm + n)
        target = os.path.join(work, "target")
        b = info["batches"]
        m = {"target": target, "partition_col": "ship_month",
             "init_acon": merge_acon(info["initial"], target, create=True),
             "warmup_acons": [merge_acon(d, target) for d in b[:warm]],
             "acons": [merge_acon(d, target) for d in b[warm:]],
             "batch_rows": [info["batch_rows"]] * n}
        sizes = {k: info[k] for k in ("lineitem_rows", "target_rows", "batch_rows",
                                      "initial_bytes")}
        return m, sum(info["batch_bytes"][warm:]), {
            "target": target, "initial": info["initial"], "batches": b, "sizes": sizes}
    warm = WARMUP_OPS[workload]
    info = gen.write_dedup(seed, os.path.join(work, "inputs"), DEDUP_COPIES,
                           warm + n, DEDUP_BATCH_DOCS)
    b = info["batches"]
    m = {"corpus": info["corpus"], "index_dir": os.path.join(work, "index"),
         "sink_dir": os.path.join(work, "sink"), "warmup_batches": b[:warm],
         "batches": b[warm:], "batch_docs": DEDUP_BATCH_DOCS,
         "compact_max_files": DEDUP_COMPACT_FILES}
    sizes = {k: info[k] for k in ("base_docs", "copies", "corpus_docs", "corpus_bytes",
                                  "batch_docs")}
    return m, sum(info["batch_bytes"][warm:]), {
        "labels": info["labels"], "corpus_docs": info["corpus_docs"], "sizes": sizes,
        "index": m["index_dir"], "sink": m["sink_dir"]}


# --- JVM --------------------------------------------------------------------

def java(spec, main, args, work, deadline):
    """Run `main` with the engine's JVM options and the benchmark's heap
    (the last -Xmx wins)."""
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + spec["javaopts"] + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    cmd += ["-cp", spec["classpath"], main] + args
    out = os.path.join(work, "jvm.log")
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle and
    # block files outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    rc = run_child(cmd, work, out, deadline - time.time(), env)
    if rc != 0:
        with open(out) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{main} exited with {rc}")


_children = []


def run_child(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group with output to `log_path`; the
    group is killed on timeout or when this script is signalled."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        _children.append(proc)
        try:
            return proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            _kill_children()
            fail(f"{os.path.basename(cmd[0])} exceeded its time limit")
        finally:
            if proc in _children:
                _children.remove(proc)


def _kill_children(*_):
    for proc in list(_children):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _children.remove(proc)


def _on_signal(signum, _frame):
    _kill_children()
    sys.exit(128 + signum)


# --- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    spec = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_build", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t = time.perf_counter()
    manifest, input_bytes, facts = prepare(a.workload, a.seed, a.seconds, work, spec["queries"])
    gen_s = time.perf_counter() - t
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    manifest.update(cores=cores, setup_reps=SETUP_REPS,
                    spark_local_dir=os.path.join(work, "spark-local"),
                    warehouse_dir=os.path.join(work, "warehouse"))
    mpath, rpath = os.path.join(work, "manifest.json"), os.path.join(work, "record.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    java(spec, "graft.perfbench.Main", [a.workload, mpath, rpath, str(a.trace)], work, deadline)
    with open(rpath) as f:
        rec = json.load(f)

    warm = WARMUP_OPS.get(a.workload)
    if a.workload == "catalog":
        wrong, problems = checks.catalog(rec, gen.TESTDATA, manifest["check_dir"], facts["order"])
    elif a.workload == "acon_merge":
        b = facts["batches"]
        wrong, problems = checks.acon_merge(facts["target"], facts["initial"],
                                            b[:warm], b[warm:])
    else:
        lab = facts["labels"]
        wrong, problems = checks.dedup_ingest(facts["sink"], facts["index"], facts["corpus_docs"],
                                              lab[:warm], lab[warm:],
                                              rec["finish"]["num_bands"])
    errors = {o["i"] for o in rec["ops"] if o["error"]}
    round_ops = ROUND_OPS[a.workload]
    failed = wrong | errors
    attempted = len(rec["ops"])
    e2e = metrics.end_to_end(rec, gen_s, input_bytes, round_ops)
    e2e["failed_ratio"] = len(failed) / attempted
    run_record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "ops": attempted, "round_ops": round_ops,
        "warmup_ops": WARMUP_OPS.get(a.workload, round_ops),
        "input_bytes": input_bytes,
        "inputs": facts["sizes"], "env": dict(rec["env"], commit=commit()),
        "setup_parts_s": {"session": rec["session_s"], "generate": gen_s,
                          "seed_store": rec["seed_s"], "warmup": rec["warmup_s"]},
        "end_to_end": {k: {"value": e2e[k], "unit": u}
                       for k, u in metrics.E2E_UNITS.items() if k in e2e},
        "timed_jvm_s": {"jit": rec["jit_s"], "gc": rec["gc_s"]},
        "op_s": [round(o["end"] - o["start"], 4) for o in rec["ops"]],
        "op_errors": [o["error"] for o in rec["ops"] if o["error"]][:5],
        "check_problems": problems[:10],
    }
    if a.trace:
        layer = metrics.per_layer(rec, a.workload, cores)
        run_record["per_layer"] = layer
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump({"spans": rec["spans"], "jobs": rec["jobs"]}, f)
    print(json.dumps(run_record))
    if a.trace:
        result = {k: {"value": layer[k], "unit": u} for k, u in metrics.LAYER_UNITS.items()}
    else:
        result = {k: run_record["end_to_end"][k] for k in metrics.RESULT_E2E}
    print(json.dumps({
        "correct": not failed and not problems,
        "attempted": attempted, "failed": len(failed), "metrics": result}))


def commit():
    """The checkout's commit when it is a git work tree, else a hash of the
    engine sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    return "sources:" + source_stamp()[:16]


if __name__ == "__main__":
    main()
