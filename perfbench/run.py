#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from
source (cached per source hash), makes the workload's inputs from the seed
(cached per seed), runs the JVM harness once, checks the outputs, and
prints one JSON object as the last line of standard output: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The lines
before it name the workload's own quantities with their units. See
perfbench/README.md.
"""
import argparse
import calendar
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Input sizes and rates per workload; part of the input cache key.
PARAMS = {
    "stream_windows": {"backlog_events": 96000, "backlog_files": 160,
                       "backlog_span_s": 40, "users": 1500,
                       "live_rate": 3000, "tick_s": 0.25, "settle_s": 7},
    "key_mix": {"sf": 0.01, "docs": 800,
                "keys": ["win_rank", "topk_perkey", "curation_pipeline", "dedup_minhash",
                         "gopher_rules"]},
}

# A run's tail is printed, not bounded: a key_mix run times each key five or
# six times, so no percentile above the median has ten samples beyond it.
END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_typical_s", "s")]

PER_LAYER = [
    ("engine.session_s", "s"), ("engine.launch_to_session_s", "s"),
    ("sources.scan_s", "s"), ("sources.list_ms_p50", "ms"), ("sources.input_rows_per_s", "1/s"),
    ("streaming.batch_ms_p50", "ms"), ("streaming.batch_ms_p99", "ms"),
    ("streaming.add_batch_ms_p50", "ms"), ("streaming.commit_ms_p50", "ms"),
    ("streaming.busy_frac", "ratio"), ("streaming.input_lag_s_max", "s"),
    ("state.rows_total", "count"), ("state.bytes", "bytes"),
    ("state.commit_ms_p50", "ms"), ("state.rows_dropped_late", "count"),
    ("curation.redact_quality_s", "s"), ("curation.dedup_s", "s"),
    ("curation.mix_s", "s"), ("curation.pack_s", "s"), ("gopher.rules_s", "s"),
    ("minhash.shingle_s", "s"), ("minhash.candidates_s", "s"), ("minhash.verify_s", "s"),
    ("clusters.cc_s", "s"), ("minhash.candidate_pairs", "count"),
    ("minhash.verified_pairs", "count"), ("minhash.verify_yield", "ratio"),
    ("clusters.rounds", "count"),
    ("plans.minhash64_rows_per_s", "1/s"), ("plans.repetition_stats_rows_per_s", "1/s"),
    ("state.fp_read_s", "s"), ("state.recover_s", "s"), ("state.fp_fragments", "count"),
    ("state.dir_bytes", "bytes"), ("arrival.step_s_p50", "s"), ("arrival.jobs_per_step", "count"),
    ("arrival.replays_noop", "count"),
    ("key.build_s_p50", "s"), ("key.exec_s_p50", "s"),
    ("key.jobs_per_query", "count"), ("key.tasks_per_query", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.driver_gap_s", "s"),
    ("spark.persisted_left", "count"),
    ("generator.late_ms_max", "ms"),
    ("layer.engine_s", "s"), ("layer.sources_s", "s"), ("layer.streaming_s", "s"),
    ("layer.streaming_exec_s", "s"), ("layer.state_s", "s"), ("layer.text_ops_s", "s"),
    ("layer.kernels_s", "s"), ("layer.state_ops_s", "s"), ("layer.relational_s", "s"),
    ("cold.first_op_s", "s"), ("traced.ops_per_s", "1/s"), ("traced.op_typical_s", "s"),
    ("host.steal_frac", "ratio"),
]

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

JVM_TIMEOUT_S = 160


def q(xs, p):
    """Linear-interpolated quantile (numpy's default), 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ----------------------------------------------------------------- inputs

def inputs(root, workload, seed):
    """The seeded inputs, generated once per (workload, seed, params)."""
    params = PARAMS[workload]
    key = hashlib.sha256(json.dumps([workload, seed, params,
                                     open(os.path.join(HERE, "gen.py"), "rb").read().hex()])
                         .encode()).hexdigest()[:12]
    base = os.path.join(root, ".perfbench", "data")
    d = os.path.join(base, f"{workload}-{seed}-{key}")
    if os.path.exists(os.path.join(d, "spec.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "key_mix":
        gen.gen_tables(tmp, seed, params["sf"], params["docs"])
    json.dump(params, open(os.path.join(tmp, "spec.json"), "w"))
    os.rename(tmp, d)
    # keep the cache bounded: the 24 most recent input sets
    old = sorted(glob.glob(os.path.join(base, "*")), key=os.path.getmtime)[:-24]
    for o in old:
        shutil.rmtree(o, ignore_errors=True)
    return d


def stream_generator(work, seed, params):
    """Write the backlog the drain phase consumes (before the JVM starts,
    outside every timed region), then start the live generator, which
    waits for the harness's start file. Returns the live process."""
    base = os.path.join(work, "stream")
    os.makedirs(base, exist_ok=True)
    common = ["--dir", os.path.join(base, "drop"), "--log", os.path.join(base, "generator.ndjson"),
              "--seed", str(seed), "--users", str(params["users"])]
    gen_py = os.path.join(HERE, "eventgen.py")
    subprocess.run([sys.executable, gen_py, "--mode", "backlog"] + common +
                   ["--events", str(params["backlog_events"]), "--files", str(params["backlog_files"]),
                    "--span-s", str(params["backlog_span_s"])], check=True)
    return subprocess.Popen([sys.executable, gen_py, "--mode", "live"] + common +
                            ["--first-id", str(params["backlog_events"]),
                             "--rate", str(params["live_rate"]), "--tick", str(params["tick_s"]),
                             "--start-file", os.path.join(base, "start"),
                             "--stop-file", os.path.join(base, "stop"),
                             "--max-seconds", str(JVM_TIMEOUT_S)])


def stop_generator(work, proc):
    for f in ("start", "stop"):
        open(os.path.join(work, "stream", f), "a").close()
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------------- JVM

def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classes, workload, data, work, seconds, seed, trace):
    jars = build.spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "report.json")
    cmd = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # every temp file stays inside the checkout
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", workload, "--data", data, "--work", work,
            "--seconds", str(seconds), "--seed", str(seed), "--trace", "1" if trace else "0",
            "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=tmp)
    log = open(os.path.join(work, "jvm.log"), "w")
    cpu0 = cpu_times()
    launch_ms = time.time() * 1000
    p = subprocess.Popen(cmd + ["--launch-ms", repr(launch_ms)], cwd=work, env=env,
                         stdout=log, stderr=log)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    cpu1 = cpu_times()
    log.close()
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise SystemExit(f"perfbench: harness failed ({rc}):\n{tail}")
    rep = json.load(open(out))
    # CPU time the hypervisor gave to other guests while this run ran:
    # the share of a run's noise that comes from outside the machine
    rep["steal_frac"] = ((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
                         if cpu0 and cpu1 else 0.0)
    return rep


# --------------------------------------------------------------- metrics

def stream_metrics(rep, out_s, out_t, work, live_from):
    r = rep["result"]
    prog = r["progress"]
    data = [p for p in prog if p["input_rows"] > 0]
    commit = {(p["query"], p["batch_id"]): p["commit_ms"] for p in prog}
    # emit delay per window row of the live phase: from the earliest moment
    # a correct engine could emit it (window end + the 11 s watermark delay,
    # on the generator's clock) to the commit of the micro-batch that wrote it
    delays = []
    for rows, name, end_col in ((out_s, "session", 2), (out_t, "tumble", 1)):
        for row in rows:
            start = row[end_col] / 1000.0 + 11000.0
            c = commit.get((name, row[-1]))
            if c is not None and live_from <= start <= r["live_end_ms"]:
                delays.append(c - start)
    # drain capacity after the first micro-batch, which the cold process
    # dominates (that one is cold.first_op_s)
    first = {p["query"]: p for p in prog if p["batch_id"] == 0}
    warm_rows = r["backlog_events"] - min(p["input_rows"] for p in first.values())
    first_commit = max(p["commit_ms"] for p in first.values())
    drain = warm_rows / max(1e-9, (r["drain_end_ms"] - first_commit) / 1e3)
    e2e = {"ops_per_s": drain, "op_typical_s": q(delays, 0.5) / 1e3}
    first_s = max(p["durations"].get("triggerExecution", 0) for p in first.values()) / 1e3
    named = [("first_batch_s", first_s, "s"),
             ("drain_events_per_s", drain, "1/s"),
             ("emit_delay_p50_ms", q(delays, 0.5), "ms"),
             ("emit_delay_p99_ms", q(delays, 0.99), "ms"),
             ("emit_delay_rows", len(delays), "count"),
             ("live_rate", r["rate"], "1/s")]
    d = lambda p, k: p["durations"].get(k, 0)
    last = {}
    for p in prog:
        if p["batch_id"] >= last.get(p["query"], {"batch_id": -1})["batch_id"]:
            last[p["query"]] = p
    lag = [p["commit_ms"] / 1e3 - iso_s(p["event_max"]) for p in data
           if p["event_max"] and p["start_ms"] >= live_from]
    layer = {
        "sources.list_ms_p50": q([d(p, "latestOffset") + d(p, "getBatch") for p in data], 0.5),
        "sources.input_rows_per_s": sum(p["input_rows"] for p in data)
        / max(1e-9, sum(d(p, "triggerExecution") for p in data) / 1e3),
        "streaming.batch_ms_p50": q([d(p, "triggerExecution") for p in data], 0.5),
        "streaming.batch_ms_p99": q([d(p, "triggerExecution") for p in data], 0.99),
        "streaming.add_batch_ms_p50": q([d(p, "addBatch") for p in data], 0.5),
        "streaming.commit_ms_p50": q([d(p, "walCommit") + d(p, "commitOffsets") for p in data], 0.5),
        "streaming.busy_frac": sum(d(p, "triggerExecution") for p in prog) / (len(first) * r["wall_ms"]),
        "streaming.input_lag_s_max": max(lag, default=0.0),
        "state.rows_total": sum(p["state_rows_total"] for p in last.values()),
        "state.bytes": sum(p["state_bytes"] for p in last.values()),
        "state.commit_ms_p50": q([p["state_commit_ms"] for p in data], 0.5),
        "state.rows_dropped_late": sum(p["dropped_late"] for p in prog),
        "generator.late_ms_max": checks.generator_late_ms(work, live_from),
        "cold.first_op_s": first_s,
    }
    return e2e, named, layer


def iso_s(ts):
    """Epoch seconds of a UTC ISO-8601 timestamp such as 2026-01-02T03:04:05.678Z."""
    whole, _, frac = ts.rstrip("Z").partition(".")
    return calendar.timegm(time.strptime(whole, "%Y-%m-%dT%H:%M:%S")) + float("0." + (frac or "0"))


def metrics(workload, rep, extra):
    """(end-to-end, named lines, per-layer) for one report."""
    r = rep["result"]
    layer = {}
    if workload == "stream_windows":
        e2e, named, layer = stream_metrics(rep, *extra)
    elif workload == "key_mix":
        ops = [o for o in r["ops"] if not o["error"]]
        ms = [o["ms"] / 1e3 for o in ops]
        # one key's single execution jitters by up to 2x here and the JIT
        # keeps speeding keys up for the first rounds, so the bounded figures
        # use each key's median timed execution (over ten seeds it moved
        # less than each key's fastest one): the rate over one pass at those
        # times and their geometric mean
        per = {}
        for o in ops:
            per.setdefault(o["key"], []).append(o["ms"] / 1e3)
        typ = [statistics.median(v) for v in per.values()]
        e2e = {"ops_per_s": len(typ) / sum(typ),
               "op_typical_s": math.exp(statistics.fmean(math.log(m) for m in typ))}
        named = [("first_query_s", r["check"][0]["ms"] / 1e3, "s"),
                 ("median_pass_queries_per_s", e2e["ops_per_s"], "1/s"),
                 ("key_median_geomean_s", e2e["op_typical_s"], "s"),
                 ("slowest_key_median_s", max(typ), "s"),
                 ("queries_per_s", len(r["ops"]) / (r["wall_ms"] / 1e3), "1/s"),
                 ("query_p50_s", q(ms, 0.5), "s"), ("query_p90_s", q(ms, 0.9), "s"),
                 ("timed_queries", len(r["ops"]), "count"),
                 ("rounds", r["rounds"], "count")]
        n = max(1, len(r["ops"]))
        layer = dict(r["layers"], **{"cold.first_op_s": r["check"][0]["ms"] / 1e3})
        layer.update({"key.build_s_p50": q([o["build_ms"] / 1e3 for o in ops], 0.5),
                      "key.exec_s_p50": q([o["exec_ms"] / 1e3 for o in ops], 0.5),
                      "key.jobs_per_query": sum(o["jobs"] for o in r["ops"]) / n,
                      "key.tasks_per_query": sum(o["tasks"] for o in r["ops"]) / n,
                      "spark.persisted_left": max(o["persisted_left"] for o in r["ops"])})
    e2e["setup_s"] = statistics.median(rep["setup_s"])
    named[:0] = [("setup_s", e2e["setup_s"], "s"), ("launch_to_session_s", rep["setup_s"][0], "s")]
    c = r.get("window") or {}
    layer.update({
        "engine.session_s": rep["session_s"][0],
        "engine.launch_to_session_s": rep["setup_s"][0],
        "spark.jobs": c.get("jobs", 0), "spark.stages": c.get("stages", 0),
        "spark.tasks": c.get("tasks", 0), "spark.executor_run_s": c.get("run_ms", 0) / 1e3,
        "spark.executor_cpu_s": c.get("cpu_ns", 0) / 1e9, "spark.gc_s": c.get("gc_ms", 0) / 1e3,
        "spark.shuffle_write_bytes": c.get("shuffle_write", 0),
        "spark.shuffle_read_bytes": c.get("shuffle_read", 0),
        "spark.spill_bytes": c.get("spill", 0), "spark.driver_gap_s": r["driver_gap_ms"] / 1e3,
        "traced.ops_per_s": e2e["ops_per_s"], "traced.op_typical_s": e2e["op_typical_s"],
        "host.steal_frac": rep["steal_frac"]})
    for k, v in rep["layer_self_s"].items():
        layer.setdefault(f"layer.{k}_s", v)
    return e2e, named, layer


def clusters_rounds(work):
    rounds = 0
    for line in open(os.path.join(work, "jvm.log"), errors="replace"):
        if "connectedComponents: converged in" in line:
            rounds = int(line.split("converged in")[1].split()[0])
    return rounds


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root)
    data = inputs(root, a.workload, a.seed)
    work = os.path.join(root, ".perfbench", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen_proc = stream_generator(work, a.seed, PARAMS[a.workload]) \
        if a.workload == "stream_windows" else None
    try:
        rep = run_jvm(classes, a.workload, data, work, a.seconds, a.seed, a.trace == 1)
    finally:
        if gen_proc:
            stop_generator(work, gen_proc)

    extra = ()
    if a.workload == "key_mix":
        attempted, failed, notes = checks.key_mix(rep, data, work)
    else:
        p = PARAMS[a.workload]
        # the measured part of the live phase starts once the files queued
        # during the drain have been caught up
        live_from = rep["result"]["drain_end_ms"] + p["settle_s"] * 1000
        attempted, failed, notes, out_s, out_t = checks.stream(rep, work, live_from,
                                                               p["tick_s"] * 1000)
        extra = (out_s, out_t, work, live_from)
    e2e, named, layer = metrics(a.workload, rep, extra)
    layer["clusters.rounds"] = clusters_rounds(work)

    for n in notes:
        print(f"check: {n}")
    for name, value, unit in named + [("error_rate", failed / max(1, attempted), "ratio"),
                                      ("host_steal_frac", rep["steal_frac"], "ratio")]:
        print(f"{a.workload} {name} = {value:.6g} {unit}")
    wanted = END_TO_END if a.trace == 0 else PER_LAYER
    source = e2e if a.trace == 0 else layer
    out = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in wanted}

    res_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(res_dir, exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "e2e": e2e,
              "layer": layer, "named": named, "notes": notes,
              "attempted": attempted, "failed": failed, "report": rep}
    json.dump(record, open(os.path.join(res_dir, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w"))
    if a.trace:
        untraced = os.path.join(res_dir, f"{a.workload}-{a.seed}-t0.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["e2e"]
            for k in ("ops_per_s", "op_typical_s"):
                if base.get(k):
                    print(f"tracing overhead {k}: {e2e[k] / base[k] - 1:+.1%} vs the untraced run")
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}))


if __name__ == "__main__":
    main()
