#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the program and
the harness from source with sbt and writes the benchmark fixture; both are
cached under `.bench_build/`. Workloads and the gates each one runs are
defined in `workloads.json`; README.md describes the metrics.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the metrics
are the end-to-end metrics; with `--trace 1` they are the per-layer metrics.
The line before it carries the details: per-gate times, sample counts,
failing gates.
"""
import argparse
import calendar
import glob
import hashlib
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import canon  # noqa: E402
import gen  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# A fixed, pre-touched heap: no resizing or first-touch page faults inside
# the measured passes.
HEAP = "2g"
# Set-ups per run; setup_s is their median.
SETUPS = 3
# Warmup inside every set-up: q1 plus the cheapest streaming-SQL drain.
WARMUP = ["q1_pricing_summary", "q_sql_q84"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
MB = 1024 * 1024


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_build():
    """Compile program and harness once per source state; return the
    harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit(f"perfbench: {ROOT} is not a graft checkout (no build.sbt or src/main/scala)")
    stamp_file = os.path.join(BUILD_DIR, f"classpath-{_source_stamp()}.txt")
    if os.path.isfile(stamp_file):
        return open(stamp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building program and harness (sbt)")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {p.returncode})")
    log(f"built in {time.time() - t:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def ensure_fixture():
    """Write the fixed benchmark fixture once per checkout."""
    d = os.path.join(BUILD_DIR, "fixture")
    done = os.path.join(d, "_DONE")
    if not os.path.isfile(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.fixture(d)
        with open(done, "w") as f:
            f.write(gen.fixture_digest(d))
    return d


def jvm(classpath, args, work, log_file):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + args
    with open(log_file, "w") as out:
        return subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                              timeout=RUN_TIMEOUT_S)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


TAIL_LADDER = [99, 95, 90, 80, 75]


def tail(xs):
    """The highest percentile of the ladder with at least ten samples beyond
    it, nearest-rank; the median when there are fewer than forty samples."""
    s = sorted(xs)
    for p in TAIL_LADDER:
        if len(s) * (100 - p) / 100 >= 10:
            return s[max(0, -(-p * len(s) // 100) - 1)], p
    return median(s), 50


def progress_ms(p, key):
    return p["p"].get("durationMs", {}).get(key, 0)


def trigger_start_ms(p):
    """Epoch ms of a progress event's trigger start (ISO-8601 UTC, ms)."""
    ts = p["p"]["timestamp"]
    t = calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
    return t * 1000 + (int(ts[20:23]) if len(ts) > 20 else 0)


def trigger_end_ms(p):
    return trigger_start_ms(p) + progress_ms(p, "triggerExecution")


# ---------------------------------------------------------------- metrics

def check_outputs(runs, expected):
    """Digest every output written by the check pass against expected.json."""
    import pandas as pd
    failures = {}
    for r in runs:
        bad = r["error"]
        if not bad and r["output"]:
            got = canon.digest(pd.read_parquet(r["output"]))
            want = expected["gates"].get(r["gate"])
            if want is None:
                bad = "no expected digest"
            elif got != want:
                bad = f"digest mismatch: {got['rows']} rows vs {want['rows']} expected"
        if bad:
            failures.setdefault(r["gate"], []).append(f"pass {r['pass']}: {bad}")
    return failures


def one_pass(runs):
    """Time of one pass over the gate list, from per-gate medians."""
    by_gate = {}
    for r in runs:
        by_gate.setdefault(r["gate"], []).append(r["build_s"] + r["exec_s"])
    return sum(median(v) for v in by_gate.values()), by_gate


def gate_metrics(w, res, trace, fixture):
    runs = res["gate_runs"]
    # Pass 0 is the warm-up and output-check pass; traced passes are not
    # end-to-end measurements.
    measured = [r for r in runs if r["pass"] > 0 and not r["traced"]]
    passes = {r["pass"] for r in measured}
    wall, by_gate = one_pass(measured)
    if w.get("streaming"):
        rows = sum(p["p"]["numInputRows"] for p in res["progress"]
                   if p["pass"] in passes) / max(1, len(passes))
    else:
        rows = sum(_table_rows(fixture, t) for g in w["gates"] for t in g.get("reads", []))
    metrics = {"wall_s": (wall, "s"), "rows_per_s": (rows / wall if wall else 0.0, "rows/s")}
    detail = {"measured_passes": len(passes),
              "check_pass_s": {r["gate"]: round(r["build_s"] + r["exec_s"], 3)
                               for r in runs if r["pass"] == 0},
              "gate_s": {g: [round(x, 3) for x in v] for g, v in sorted(by_gate.items())}}
    layer = {}
    if trace:
        traced = [r for r in runs if r["traced"]]
        layer = layer_metrics(res, traced, {r["pass"] for r in traced})
        layer["trace.overhead_s"] = (one_pass(traced)[0] - wall, "s")
        local1 = res.get("local1")
        layer["baseline.local1_wall_s"] = (local1["wall_s"] if local1 else 0.0, "s")
    return metrics, layer, detail


def layer_metrics(res, traced_runs, passes):
    """Per-layer metrics of one pass, averaged over the given passes."""
    progress = [p for p in res["progress"] if p["pass"] in passes
                and p["gate"] not in ("setup", "between")]
    tasks = [t for t in res["tasks"] if t["pass"] in passes]
    spans = [s for s in res["spans"] if s["pass"] in passes]
    n = max(1, len(passes))

    def tsum(key, build_only=False):
        return sum(t[key] for t in tasks if not build_only or t["phase"] == "build") / n

    def dsum(key):
        return sum(progress_ms(p, key) for p in progress) / n

    gates = [s for s in spans if s["kind"] == "gate"]
    jobs = [s for s in spans if s["kind"] == "job"]
    gap = sum(g["end"] - g["start"] - _union(
        [(max(j["start"], g["start"]), min(j["end"], g["end"]))
         for j in jobs if j["end"] > g["start"] and j["start"] < g["end"]])
        for g in gates) / 1000
    skews = [t["max_task_ms"] / t["median_task_ms"] for t in tasks
             if t["tasks"] >= 2 and t["median_task_ms"] > 0]
    rows_read, bytes_read = tsum("in_rows"), tsum("in_bytes")
    recs, bytes_w = tsum("out_rows", True), tsum("out_bytes", True)
    data = [p for p in progress if p["p"]["numInputRows"] > 0]
    trig = [progress_ms(p, "triggerExecution") for p in data]
    trigger_self = sum(progress_ms(p, "triggerExecution") -
                       sum(progress_ms(p, k) for k in PHASES) for p in progress) / n
    t_tail, _ = tail(trig)
    return {
        "queries.build_s": (sum(r["build_s"] for r in traced_runs) / n, "s"),
        "queries.exec_s": (sum(r["exec_s"] for r in traced_runs) / n, "s"),
        "queries.driver_gap_s": (gap / n, "s"),
        "queries.jobs": (len(jobs) / n, "count"),
        "queries.stages": (len(tasks) / n, "count"),
        "queries.tasks": (tsum("tasks"), "count"),
        "queries.task_cpu_s": (tsum("cpu_ns") / 1e9, "s"),
        "queries.task_busy_s": (tsum("run_ms") / 1000, "s"),
        "queries.task_wait_s": (tsum("wait_ms") / 1000, "s"),
        "queries.gc_s": (tsum("gc_ms") / 1000, "s"),
        "queries.shuffle_write_mb": (tsum("shuffle_write") / MB, "MB"),
        "queries.shuffle_read_mb": (tsum("shuffle_read") / MB, "MB"),
        "queries.spill_mb": (tsum("spill") / MB, "MB"),
        "queries.task_skew": (median(skews), "ratio"),
        "sources.rows_read": (rows_read, "rows"),
        "sources.bytes_read_mb": (bytes_read / MB, "MB"),
        "sources.bytes_per_row": (bytes_read / rows_read if rows_read else 0.0, "B/row"),
        "sources.latest_offset_ms": (dsum("latestOffset"), "ms"),
        "sources.get_batch_ms": (dsum("getBatch"), "ms"),
        "sources.open_fds_delta": (sum(r["fds_delta"] for r in traced_runs) / n, "count"),
        "streaming.triggers": (len(progress) / n, "count"),
        "streaming.empty_trigger_ratio":
            (1 - len(data) / len(progress) if progress else 0.0, "ratio"),
        "streaming.rows_per_trigger":
            (sum(p["p"]["numInputRows"] for p in data) / len(data) if data else 0.0, "rows"),
        "streaming.trigger_ms_p50": (median(trig), "ms"),
        "streaming.trigger_ms_tail": (t_tail, "ms"),
        "streaming.query_planning_ms": (dsum("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (dsum("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (dsum("commitOffsets"), "ms"),
        "streaming.trigger_self_ms": (trigger_self, "ms"),
        "sinks.add_batch_ms": (dsum("addBatch"), "ms"),
        "sinks.records_written": (recs, "count"),
        "sinks.bytes_written_mb": (bytes_w / MB, "MB"),
        "sinks.bytes_per_record": (bytes_w / recs if recs else 0.0, "B/record"),
        "operators.cached_mb_end":
            (sum(r["cached_bytes_end"] for r in traced_runs) / n / MB, "MB"),
        "operators.cached_mb_peak": (res["cached_peak_bytes"] / MB, "MB"),
    }


# Micro-batch phases in the order a trigger runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def trace_spans(res):
    """The harness's gate/build/exec/job/stage spans plus one span per
    trigger, whose durationMs phases become child spans laid end to end."""
    spans = list(res["spans"])
    gates = [s for s in spans if s["kind"] == "gate"]
    next_id = max([s["id"] for s in spans] + [0]) + 1
    for p in res["progress"]:
        start, end = trigger_start_ms(p), trigger_end_ms(p)
        parent = next((g["id"] for g in gates if g["pass"] == p["pass"]
                       and g["start"] <= start <= g["end"]), 0)
        trig = next_id
        spans.append({"id": trig, "parent": parent, "kind": "trigger", "name": p["gate"],
                      "start": start, "end": end, "pass": p["pass"]})
        next_id += 1
        t = start
        for k in PHASES:
            d = progress_ms(p, k)
            if d:
                spans.append({"id": next_id, "parent": trig, "kind": k, "name": p["gate"],
                              "start": t, "end": t + d, "pass": p["pass"]})
                next_id, t = next_id + 1, t + d
    return spans


def _union(intervals):
    """Total length covered by a set of intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total, end = total + e - s, e
        elif e > end:
            total, end = total + e - end, e
    return total


def log_tail_metrics(w, res, trace):
    """Metrics of the open-loop log_tail workload. Each shard is timed from
    when it was due, so a stalled generator cannot hide queueing."""
    shards = res["shards"]
    progress = [p for p in res["progress"] if p["gate"] == "log_tail"]
    commits = sorted((trigger_end_ms(p), p["p"]["sources"][0]["endOffset"])
                     for p in progress if p["p"]["sources"])
    commits = [(t, json.loads(o) if isinstance(o, str) else o) for t, o in commits]
    lat, missed, last = [], 0, None
    for s in shards:
        done = next((t for t, off in commits if off.get(s["shard"], 0) >= s["rows"]), None)
        if done is None:
            missed += 1
        else:
            lat.append(done - s["due_ms"])
            last = done if last is None else max(last, done)
    lag = [s["released_ms"] - s["due_ms"] for s in shards]
    first_due = shards[0]["due_ms"]
    wall = (last - first_due) / 1000 if last else 0.0
    trig = [progress_ms(p, "triggerExecution") for p in progress
            if p["p"]["numInputRows"] > 0 and trigger_start_ms(p) >= first_due]
    sink_ok = (res["sink_missing_rows"] == 0 and res["sink_extra_rows"] == 0
               and res["query_error"] is None)
    l_tail, l_p = tail(lat)
    t_tail, t_p = tail(trig)
    late = sum(1 for x in lag if x > w["interval_ms"])
    detail = {"shards": len(shards), "missed": missed,
              "sink_missing_rows": res["sink_missing_rows"],
              "sink_extra_rows": res["sink_extra_rows"], "query_error": res["query_error"],
              "generator_lag_ms_p50": median(lag), "generator_lag_ms_max": max(lag),
              "late_releases": late, "latency_samples": len(lat), "latency_tail_pct": l_p,
              "trigger_samples": len(trig), "trigger_tail_pct": t_p}
    metrics = {
        "wall_s": (wall, "s"),
        "rows_per_s": ((res["drained_rows"] - res["initial_rows"]) / wall if wall else 0.0,
                       "rows/s"),
        "latency_ms_p50": (median(lat), "ms"),
        "latency_ms_tail": (l_tail, "ms"),
        "trigger_ms_p50": (median(trig), "ms"),
        "trigger_ms_tail": (t_tail, "ms"),
    }
    layer = {}
    if trace:
        layer = layer_metrics(res, [], {0})
        layer["trace.overhead_s"] = (0.0, "s")
        layer["baseline.local1_wall_s"] = (0.0, "s")
    # The generator fell behind its schedule: the offered load was not the
    # one asked for, so the run is invalid.
    valid = late <= max(1, len(shards) // 20) and max(lag) < 1000
    failed = len(shards) if not sink_ok else missed
    return metrics, layer, detail, len(shards), failed, valid


# ---------------------------------------------------------------- main

def _table_rows(fixture, table):
    import pyarrow.parquet as pq
    return pq.ParquetFile(os.path.join(fixture, f"{table}.parquet")).metadata.num_rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind like an error: the JVM is killed and waited for, and
    # the run's scratch files are removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    w = WORKLOADS[a.workload]
    classpath = ensure_build()
    fixture = ensure_fixture()
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    if open(os.path.join(fixture, "_DONE")).read() != expected["fixture_sha256"]:
        sys.exit("perfbench: the generated fixture differs from the one expected.json "
                 "was computed on; run perfbench/oracle.py")

    work = os.path.join(BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = {"workload": a.workload, "kind": w["kind"], "cores": cores(), "work": work,
           "fixture": fixture, "seconds": a.seconds, "trace": bool(a.trace),
           "setups": SETUPS, "warmup": WARMUP}
    if w["kind"] == "gates":
        cfg["gates"] = [g["name"] for g in w["gates"]]
        cfg["single_thread_baseline"] = bool(w.get("single_thread_baseline"))
    else:
        n = int(a.seconds * 1000 / w["interval_ms"]) + 1
        shard_dir = os.path.join(work, "shards")
        rows = gen.shards(os.path.join(fixture, "events.parquet"), shard_dir, a.seed, n,
                          w["shard_rows"])
        cfg.update({"shard_dir": shard_dir, "shard_rows": rows,
                    "interval_ms": w["interval_ms"], "drain_timeout_s": 30})
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(cfg, f)

    scratch_before = set(glob.glob("/tmp/graft_*/"))
    result_file = os.path.join(work, "result.json")
    try:
        jvm_log = os.path.join(work, "jvm.log")
        p = jvm(classpath, ["run", os.path.join(work, "config.json"), result_file], work, jvm_log)
        if p.returncode != 0 or not os.path.isfile(result_file):
            sys.stderr.write(open(jvm_log).read()[-4000:])
            sys.exit(f"perfbench: harness failed (exit {p.returncode})")
        res = json.load(open(result_file))
        if w["kind"] == "gates":
            metrics, layer, detail = gate_metrics(w, res, a.trace, fixture)
            failures = check_outputs(res["gate_runs"], expected)
            attempted = len(res["gate_runs"])
            if "local1" in res:
                attempted += len(cfg["gates"])
                if res["local1"]["errors"]:
                    failures["local[1] baseline"] = res["local1"]["errors"]
            failed = sum(len(v) for v in failures.values())
            detail["failures"] = failures
            valid = True
        else:
            metrics, layer, detail, attempted, failed, valid = log_tail_metrics(w, res, a.trace)
        detail["setup_s"] = res["setup_s"]
        metrics["setup_s"] = (median(res["setup_s"]), "s")
        # Gate boundaries of passes 0 and 1 only (the harness takes no other):
        # the same set in every run, whatever the number of passes.
        live = [r["live_heap_bytes"] for r in res.get("gate_runs", []) if r["pass"] <= 1] or \
            [res["live_heap_bytes"]]
        metrics["heap_mb_peak"] = (max(live) / MB, "MB")
        if a.trace:
            traces = os.path.join(BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            spans_file = os.path.join(traces, f"{a.workload}-{a.seed}.json")
            detail["spans_file"] = os.path.relpath(spans_file, ROOT)
            with open(spans_file, "w") as f:
                json.dump(trace_spans(res), f)
        print(json.dumps({"detail": detail}))
        if not valid:
            sys.exit("perfbench: invalid run, the load generator fell behind its schedule")
        out = layer if a.trace else metrics
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(out.items())}}))
    finally:
        # The program writes scratch tables and checkpoints as directories
        # under fixed /tmp/graft_* paths; remove the ones this run created.
        for path in set(glob.glob("/tmp/graft_*/")) - scratch_before:
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
