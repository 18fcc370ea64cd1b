#!/usr/bin/env python3
"""The repository's benchmark: one command per workload, run from the root
of a checkout.

    python3 perfbench/run.py --workload W [--seed N] [--seconds S] [--trace 0|1]

Workloads (see WORKLOADS below for their sizes):

  batch_mix    closed loop, one client, one query in flight: whole seeded
               permutations of the reference's batch Q1, Q4 and Q8, a
               relational query and a corpus query, each forced through the
               `noop` sink, one pass per 4 s of --seconds.
  stream_lake  open loop: a feeder process lands one rides chunk per
               interval into q1Tumble, one chunk per micro-batch. A backlog
               then lands at once and is drained. The Q4 retraction pipeline
               then catches its lakes up on the whole feed: q4Level1's
               changelog through LakeRetractStream.onBatch, and the CascadeQ4
               job into a ParquetUpsertSink. One compaction and one read-back
               of both lakes close the run.

The first run in a checkout builds the engine and the harness with sbt and
caches the engine's runtime classpath and JVM options, keyed on a hash of
the sources and build files. Inputs are generated from --seed by gen.py.
Every checked output is compared with the engine's declared DuckDB oracle
using the hash-compare rules of tools/local_verify.py.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). The full record of the run, including every metric
of both kinds that the run can compute, goes to .perfbench/results/.
A run whose feeder fell behind its schedule, or whose open-loop backlog
grew, is invalid: it prints why and exits 3 without a result.
"""
import argparse
import datetime as dt
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402

RUN_LIMIT_S = 175

# batch_mix's scale sizes the relational and corpus tables (1.0 = TPC-H SF1).
# stream_lake's chunk interval keeps the feed within the pipeline's capacity on
# a 4-core box: p90 latency must stay below it and the backlog must not grow.
# Its lead-in chunks run back to back in set-up: micro-batch time keeps
# falling for about the first ten micro-batches while the JIT warms up.
WORKLOADS = {
    "batch_mix": {"scale": 0.01},
    "stream_lake": {"interval_ms": 1200, "events_per_chunk": 200, "lead_in": 12, "backlog": 3},
}
# a run is invalid when the feeder lands a chunk later than this share of
# the interval, or when more than this many chunks wait at a landing
MAX_LATE_SHARE = 0.5
MAX_BACKLOG = 3

END_TO_END = ["setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s",
              "write_bytes_per_op", "live_heap_mb"]
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
         "throughput_per_s": "1/s", "write_bytes_per_op": "B", "live_heap_mb": "MiB"}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def _source_hash():
    h = hashlib.sha256()
    files = ["build.sbt", "perfbench/build.sbt"]
    for pattern in ("project/*.sbt", "project/*.properties", "perfbench/project/*.sbt",
                    "perfbench/project/*.properties", "src/main/**/*", "perfbench/src/**/*"):
        files += glob.glob(pattern, root_dir=ROOT, recursive=True)
    for rel in sorted(set(files)):
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            h.update(rel.encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def launch_spec():
    """Build once per source tree; return the engine JVM's classpath and
    options as the engine's own build defines them."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BenchError("no engine build.sbt next to perfbench/: not a checkout of the repo")
    spec_path = os.path.join(STATE, f"launch-{_source_hash()}.json")
    if os.path.isfile(spec_path):
        with open(spec_path) as f:
            return json.load(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.isfile(repos) else ""))
    # the engine build reads its heap size from SPARK_DRIVER_MEM; size it as
    # the repo's own test command does: half the RAM, clamped to 2-8 GiB
    if "SPARK_DRIVER_MEM" not in env:
        with open("/proc/meminfo") as f:
            kib = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        env["SPARK_DRIVER_MEM"] = f"{min(8, max(2, kib // 2097152))}g"
    log("building the engine and the harness (first run in this checkout)")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=850)
    built = os.path.join(HERE, "target", "launch.json")
    if proc.returncode != 0 or not os.path.isfile(built):
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError("sbt build failed")
    os.makedirs(STATE, exist_ok=True)
    shutil.copyfile(built, spec_path)
    with open(spec_path) as f:
        return json.load(f)


# ---- running the engine --------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """(steal, total) jiffies of all cores, from /proc/stat: the share of time
    the hypervisor gave to other guests is recorded as box-load context."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop(proc):
    if proc is not None and proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_engine(spec, args, work, data, deadline):
    cfg = WORKLOADS[args.workload]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + spec["java_options"] +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Harness",
            "--workload", args.workload, "--data", data, "--work", work,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace)])
    stream = "interval_ms" in cfg
    if stream:
        cmd += ["--chunks", str(total_chunks(cfg, args.seconds)), "--lead-in", str(cfg["lead_in"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    engine_log = open(os.path.join(work, "engine.log"), "w")
    engine = subprocess.Popen(cmd, cwd=work, env=env, stdout=engine_log, stderr=subprocess.STDOUT)
    feeder = None
    try:
        if stream:
            ready = os.path.join(work, "ready")
            while not os.path.exists(ready):
                if engine.poll() is not None or time.time() > deadline:
                    raise BenchError("engine did not reach the open loop")
                time.sleep(0.02)
            start_ms = int(time.time() * 1000) + 500
            feeder = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "feeder.py"), os.path.join(work, "stage"),
                 os.path.join(work, "watched"), str(cfg["lead_in"]), str(start_ms),
                 str(cfg["interval_ms"]),
                 str(open_chunks(cfg, args.seconds)), str(cfg["backlog"]),
                 os.path.join(work, "feed.json")])
        try:
            code = engine.wait(max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("engine run exceeded its time limit")
        if feeder is not None and feeder.wait(10) != 0:
            raise BenchError("feeder failed")
        if code != 0:
            raise BenchError(f"engine exited with {code}")
    finally:
        stop(feeder)
        stop(engine)
        engine_log.close()


def open_chunks(cfg, seconds):
    return max(1, seconds * 1000 // cfg["interval_ms"])


def total_chunks(cfg, seconds):
    return cfg["lead_in"] + open_chunks(cfg, seconds) + cfg["backlog"]


# ---- correctness ----------------------------------------------------------

def check_outputs(work, data):
    """name -> True when the engine's output hash-matches its DuckDB oracle."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "local_verify", os.path.join(ROOT, "tools", "local_verify.py"))
    lv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lv)
    con = duckdb.connect()
    for t in lv.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdict = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            s = lv.normalize(lv.canon(spark_df))
            d = lv.normalize(lv.canon(con.execute(sql).df()))
            verdict[name] = (list(s.columns) == list(d.columns) and len(s) == len(d)
                             and lv.df_hash(s) == lv.df_hash(d))
        except Exception as e:  # a missing or unreadable answer is a wrong answer
            log(f"check {name}: {e}")
            verdict[name] = False
        if not verdict[name]:
            log(f"oracle mismatch: {name}")
    return verdict


# ---- metrics --------------------------------------------------------------

def pct(values, p):
    """p-th percentile, linear between closest ranks."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def epoch_ms(iso):
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp() * 1000.0


def source_chunks(checkpoint):
    """File-source log batch id -> chunk indices it read."""
    chunks = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                name = os.path.basename(entry["path"])
                chunks.setdefault(entry["batchId"], set()).add(int(name[6:11]))
    return chunks


def stream_batches(raw, work):
    """query -> list of (progress, chunks read) for batches that read data."""
    logs = {}
    out = {}
    for item in raw["progress"]:
        q, p = item["query"], item["progress"]
        if p["numInputRows"] == 0:
            out.setdefault(q, [])
            continue
        if q not in logs:
            logs[q] = source_chunks(os.path.join(work, "ck", q))
        src = p["sources"][0]
        lo = -1 if src["startOffset"] is None else src["startOffset"]["logOffset"]
        hi = src["endOffset"]["logOffset"]
        read = set()
        for b in range(lo + 1, hi + 1):
            read |= logs[q].get(b, set())
        out.setdefault(q, []).append((p, read))
    return out


def metrics_batch(raw, verdict):
    ops = raw["ops"]
    ok = [o["ms"] for o in ops if o["ok"] and verdict.get(o["name"], False)]
    w = raw["window"]
    secs = (w["end_ms"] - w["start_ms"]) / 1000.0
    n = max(1, len(ops))
    e2e = {
        "latency_p50_ms": pct(ok, 50), "latency_p90_ms": pct(ok, 90),
        "throughput_per_s": len(ok) / secs,
        "write_bytes_per_op": w["written_bytes"] / n,
    }
    by_query = {}
    for o in ops:
        by_query.setdefault(o["name"], []).append(o["ms"])
    bad_checks = [k for k, v in verdict.items() if not v]
    failed = sum(1 for o in ops if not o["ok"] or not verdict.get(o["name"], False))
    attempted = len(ops) + len(verdict)
    return e2e, attempted, failed + len(bad_checks), {
        "ops": n, "samples": len(ok),
        "query_median_ms": {q: median(v) for q, v in sorted(by_query.items())}}


STANDING = ("q1_tumble",)


def metrics_stream(raw, work, cfg, verdict):
    with open(os.path.join(work, "feed.json")) as f:
        feed = json.load(f)
    batches = stream_batches(raw, work)
    commit, start = {}, {}
    for q in STANDING:
        for p, read in batches.get(q, []):
            t0 = epoch_ms(p["timestamp"])
            for c in read:
                start[(q, c)] = t0
                commit[(q, c)] = t0 + p["durationMs"]["triggerExecution"]
    open_feed = [c for c in feed if c["open_loop"]]
    backlog = [c for c in feed if not c["open_loop"]]
    lat, wait = [], []
    for q in STANDING:
        for c in open_feed:
            k = (q, c["chunk"])
            if k in commit:
                lat.append(commit[k] - c["due_ms"])
                wait.append(max(0.0, start[k] - c["landed_ms"]))
    late = max(c["landed_ms"] - c["due_ms"] for c in feed)
    backlog_max = 0
    for q in STANDING:
        for i, c in enumerate(open_feed):
            done = sum(1 for d in open_feed
                       if commit.get((q, d["chunk"]), float("inf")) <= c["landed_ms"])
            backlog_max = max(backlog_max, i + 1 - done)
    # every event reaches the lakes, the lead-in chunks' too
    events = (len(feed) + cfg["lead_in"]) * raw["events_per_chunk"]
    ops = len(STANDING) * len(feed)
    committed = sum(1 for q in STANDING for c in feed if (q, c["chunk"]) in commit)
    catch_up = raw.get("lake_catch_up_ms", {"end_ms": float("inf")})
    e2e = {
        "latency_p50_ms": pct(lat, 50), "latency_p90_ms": pct(lat, 90),
        "throughput_per_s": events / ((catch_up["end_ms"] - min(c["landed_ms"] for c in backlog))
                                      / 1000.0),
        "write_bytes_per_op": raw["window"]["written_bytes"] / ops,
    }
    extra = {"feed.late_ms_max": late, "feed.backlog_max": backlog_max, "latencies_ms": lat,
             "streaming.queue_wait_ms": median(wait), "samples": len(lat),
             "events": events, "ops": ops}
    failed = ops - committed + sum(1 for v in verdict.values() if not v)
    failed += sum(len(feed) for q in STANDING if not verdict.get(q, False))
    return e2e, ops + len(verdict), failed, extra


def self_times(work):
    """span name -> [count, total ms, self ms]; self time excludes the part
    of a span's interval that its child spans cover."""
    path = os.path.join(work, "spans.jsonl")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = [json.loads(l) for l in f]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                end = hi
        dur = s["end_ms"] - s["start_ms"]
        agg = out.setdefault(s["name"], [0, 0.0, 0.0])
        agg[0] += 1
        agg[1] += dur
        agg[2] += dur - covered
    return {k: {"count": v[0], "total_ms": round(v[1], 3), "self_ms": round(v[2], 3)}
            for k, v in sorted(out.items())}


def per_layer(raw, work, workload, spans, extra):
    """Per-layer metrics of a traced run; 0 where a layer is not used."""
    w = raw["window"]
    secs = (w["end_ms"] - w["start_ms"]) / 1000.0
    # an operation is a query in batch_mix and a micro-batch that read input
    # in stream_lake
    ops = max(1, extra["ops"] if workload == "batch_mix" else
              sum(1 for i in raw["progress"] if i["progress"]["numInputRows"] > 0))

    def span_total(name):
        return spans.get(name, {}).get("total_ms", 0.0)

    def span_mean(name):
        s = spans.get(name)
        return s["total_ms"] / s["count"] if s else 0.0

    tasks = max(1, w.get("tasks", 0))
    m = {
        "core.session_create_ms": span_total("core.session_create"),
        "core.tables_register_ms": span_total("core.tables_register"),
        "operators.build_ms": span_mean("operators.build"),
        "operators.index_build_ms": span_total("operators.index_build"),
        "spark.plan_ms": w.get("plan_ms", 0) / max(1, w.get("planned_queries", 0)),
        "spark.jobs_per_op": w.get("jobs", 0) / ops,
        "spark.stages_per_op": w.get("stages", 0) / ops,
        "spark.tasks_per_op": w.get("tasks", 0) / ops,
        "spark.empty_task_frac": w.get("empty_tasks", 0) / tasks,
        "spark.task_overhead_ms": (w.get("task_duration_ms", 0) - w.get("task_run_ms", 0)) / tasks,
        "spark.core_busy_frac": w.get("task_run_ms", 0) / (secs * 1000.0 * raw["cpus"]),
        "spark.task_run_ms": w.get("task_run_ms", 0) / ops,
        "spark.task_cpu_ms": w.get("task_cpu_ns", 0) / 1e6 / ops,
        "spark.gc_ms": w.get("task_gc_ms", 0),
        "jvm.gc_ms": w["jvm_gc_ms"],
        "jvm.gc_count": w["jvm_gc_count"],
        "spark.scan_bytes": w.get("scan_bytes", 0) / ops,
        "spark.shuffle_read_bytes": w.get("shuffle_read_bytes", 0) / ops,
        "spark.shuffle_write_bytes": w.get("shuffle_write_bytes", 0) / ops,
        "spark.spill_bytes": w.get("spill_bytes", 0) / ops,
    }
    stream = {}
    if workload != "batch_mix":
        progress = [i["progress"] for i in raw["progress"]]
        data = [p for p in progress if p["numInputRows"] > 0]

        def phase(k):
            return median([p["durationMs"].get(k, 0) for p in data])
        stream = {
            "sources.latest_offset_ms": phase("latestOffset"),
            "sources.get_batch_ms": phase("getBatch"),
            "sources.input_rows": sum(p["numInputRows"] for p in progress),
            "streaming.batches": len(progress),
            "streaming.query_planning_ms": phase("queryPlanning"),
            "streaming.add_batch_ms": phase("addBatch"),
            "streaming.wal_commit_ms": phase("walCommit"),
            "streaming.commit_offsets_ms": phase("commitOffsets"),
            "streaming.state_commit_ms": median(
                [sum(o.get("commitTimeMs", 0) for o in p["stateOperators"]) for p in data]),
            "streaming.jobs_per_batch": w.get("stream_jobs", 0) / max(1, len(progress)),
            "streaming.queue_wait_ms": extra["streaming.queue_wait_ms"],
            "feed.late_ms_max": extra["feed.late_ms_max"],
            "feed.backlog_max": extra["feed.backlog_max"],
        }
        last = {}
        for i in raw["progress"]:
            last[i["query"]] = i["progress"]
        stream["streaming.state_rows"] = sum(
            o.get("numRowsTotal", 0) for p in last.values() for o in p["stateOperators"])
        stream["streaming.state_memory_bytes"] = sum(
            o.get("memoryUsedBytes", 0) for p in last.values() for o in p["stateOperators"])
    lake_ops = raw.get("lake_ops", {})
    sinks = {
        "sinks.retract_ms": span_total("sinks.retract"),
        "sinks.retract_merge_ms": span_mean("sinks.retract_merge"),
        "sinks.cascade_ms": span_total("sinks.cascade"),
        "sinks.snapshot_ms": lake_ops.get("snapshot_ms", 0.0),
        "sinks.emitted_read_ms": lake_ops.get("emitted_read_ms", 0.0),
        "sinks.compact_ms": lake_ops.get("compact_ms", 0.0),
        "sinks.bytes_written": w.get("lake_bytes_written", 0),
        "sinks.bytes_read": w.get("lake_bytes_read", 0),
    }
    for k in PER_LAYER:
        m.setdefault(k, stream.get(k, sinks.get(k, 0.0)))
    return m


PER_LAYER = {
    "core.session_create_ms": "ms", "core.tables_register_ms": "ms",
    "operators.build_ms": "ms", "operators.index_build_ms": "ms",
    "spark.plan_ms": "ms", "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.empty_task_frac": "fraction",
    "spark.task_overhead_ms": "ms", "spark.core_busy_frac": "fraction",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms", "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    "spark.scan_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms", "sources.input_rows": "count",
    "streaming.batches": "count", "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "B",
    "streaming.jobs_per_batch": "count", "streaming.queue_wait_ms": "ms",
    "sinks.retract_ms": "ms", "sinks.retract_merge_ms": "ms", "sinks.cascade_ms": "ms",
    "sinks.snapshot_ms": "ms", "sinks.emitted_read_ms": "ms", "sinks.compact_ms": "ms",
    "sinks.bytes_written": "B", "sinks.bytes_read": "B",
    "feed.late_ms_max": "ms", "feed.backlog_max": "count",
}


# ---- main -----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=7452)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()
    t_start = time.time()
    spec = launch_spec()
    deadline = time.time() + RUN_LIMIT_S - min(30.0, time.time() - t_start)
    cfg = WORKLOADS[args.workload]
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        if "interval_ms" in cfg:
            gen.generate(data, args.seed, 0.001,
                         total_chunks(cfg, args.seconds) * cfg["events_per_chunk"])
        else:
            gen.generate(data, args.seed, cfg["scale"], int(1_000_000 * cfg["scale"]))
        phases = {"gen_s": time.time() - t_start}
        steal0, total0 = cpu_times()
        run_engine(spec, args, work, data, deadline)
        steal1, total1 = cpu_times()
        phases["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        phases["engine_s"] = time.time() - t_start - phases["gen_s"]
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)
        verdict = check_outputs(work, data)
        phases["check_s"] = time.time() - t_start - phases["gen_s"] - phases["engine_s"]
        if args.workload == "batch_mix":
            e2e, attempted, failed, extra = metrics_batch(raw, verdict)
        else:
            e2e, attempted, failed, extra = metrics_stream(raw, work, cfg, verdict)
        e2e["setup_s"] = (raw["first_op_ms"] - raw["jvm_start_ms"]) / 1000.0
        e2e["live_heap_mb"] = raw["live_heap_mb"]
        spans = self_times(work)
        layers = per_layer(raw, work, args.workload, spans, extra) if args.trace else {}
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "config": cfg, "cpus": raw["cpus"],
                  "end_to_end": e2e, "per_layer": layers, "extra": extra,
                  "checks": verdict, "attempted": attempted, "failed": failed,
                  "failed_frac": failed / max(1, attempted), "spans": spans,
                  "lake_ops": raw.get("lake_ops"), "window": raw["window"], "phases": phases,
                  "engine_end_s": (raw["end_ms"] - raw["jvm_start_ms"]) / 1000.0,
                  "wall_s": time.time() - t_start}
        valid = True
        if "interval_ms" in cfg:
            if extra["feed.late_ms_max"] > MAX_LATE_SHARE * cfg["interval_ms"]:
                record["invalid"] = f"feeder ran {extra['feed.late_ms_max']:.0f} ms late"
            elif extra["feed.backlog_max"] > MAX_BACKLOG:
                record["invalid"] = f"open-loop backlog reached {extra['feed.backlog_max']} chunks"
            valid = "invalid" not in record
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        with open(os.path.join(STATE, "results", f"{args.workload}-t{args.trace}-s{args.seed}-"
                               f"{int(t_start)}.json"), "w") as f:
            json.dump(record, f, indent=1)
        log(json.dumps({k: record[k] for k in ("end_to_end", "extra", "failed_frac")}))
        if not valid:
            log(f"invalid run: {record['invalid']}")
            return 3
        chosen = layers if args.trace else {k: e2e[k] for k in END_TO_END}
        units = PER_LAYER if args.trace else UNITS
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": units[k]}
                                      for k, v in chosen.items()}}))
        return 0 if correct else 1
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
