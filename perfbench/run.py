#!/usr/bin/env python3
"""Three-path benchmark for graft: query rows, `/q` serving, streamed ZTable
ingest. See README.md in this directory.

    python3 perfbench/run.py --workload <query_rows|serve_q|ingest_ztable>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and this benchmark's
JVM harness from source (cached under .bench_build/perfbench), generates
the inputs from the seed, runs the workload in one JVM, checks every
output against DuckDB, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the
spans under .bench_build/perfbench/traces). Exits non-zero, printing no
result, when the sources are missing, the build fails or the JVM fails.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["query_rows", "serve_q", "ingest_ztable"]

# query_rows: the registered rows, by class. README.md says why these and
# which rows the run budget left out.
SCAN_ROWS = ["s1_scan_range", "c2_minmax_ts", "a4_ohlcv_resample",
             "j6_join_asof", "w6_trailing_range", "q1_pricing", "q9_profit"]
MULTIJOB_ROWS = ["d9_clusters_star", "sim3_ivf_ann", "ivm1_rollup_refresh"]

# serve_q: a reply slower than this, from its due time, counts as failed.
LATENCY_LIMIT_MS = 2000.0

# A run must end within 180 s, a first build aside; the JVM gets what is
# left of this once the inputs are made.
DEADLINE_S = 170.0

# Spark 4 on Java 17 outside spark-submit needs these (as build.sbt's
# javaOptions).
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


# -------------------------------------------------------------- inputs

def make_inputs(d, workload, seed, seconds):
    """Every input the program reads, from the seed. Returns what the
    checks need to know about them."""
    gen.tables(os.path.join(d, "tables"))
    info = {}
    if workload == "query_rows":
        # rows run in this fixed order: the seed draws nothing here
        rows = [{"name": n, "class": "scan"} for n in SCAN_ROWS] + \
               [{"name": n, "class": "multijob"} for n in MULTIJOB_ROWS]
        gen.write_json({"rows": rows}, os.path.join(d, "rows.json"))
    elif workload == "serve_q":
        reqs = gen.serve_schedule(seed, seconds)
        gen.write_json({"requests": reqs}, os.path.join(d, "schedule.json"))
    else:
        info["staged_rows"] = gen.ingest_chunks(
            seed, os.path.join(d, "tables", "events.parquet"),
            os.path.join(d, "chunks"))
    return info


def inputs(run_dir, workload, seed, seconds):
    """Generate the inputs twice and require byte-identical results: the
    seed alone must decide them."""
    a, b = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "inputs_again")
    info = make_inputs(a, workload, seed, seconds)
    make_inputs(b, workload, seed, seconds)
    same = gen.digest(a) == gen.digest(b)
    shutil.rmtree(b)
    return a, info, same


# ------------------------------------------------------------ the JVM

def run_jvm(classes, run_dir, inputs_dir, args, cpus, budget_s):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_FIXTURES=os.path.join(run_dir, "fixtures"),
               SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + JVM_OPENS +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{os.path.abspath(classes)}:{os.path.join(build.spark_home(), 'jars', '*')}",
            "graft.perfbench.Main", "--workload", args.workload,
            "--inputs", os.path.abspath(inputs_dir), "--out", os.path.abspath(out),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus)])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(log) as f:  # the log without stack frames
            lines = [ln for ln in f if not ln.startswith("\tat ")]
        sys.stderr.write("".join(lines[-40:]))
        return None, out
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


# ------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def linear_pct(xs, q):
    """The q-th percentile (0-100) by linear interpolation."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def pct(xs, q):
    """The q-th percentile (0-100), Harrell-Davis estimate: a weighted mean
    of every order statistic, the weights the Beta((n+1)p, (n+1)(1-p))
    mass over each one's share of [0, 1]. With a few dozen samples drawn
    from a mix of ops, the plain order statistic jumps between the ops'
    latency clusters from run to run; this estimate moves smoothly, and
    reads a little steadier on batch times too."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = (n + 1) * q / 100, (n + 1) * (1 - q / 100)
    # Beta CDF by the midpoint rule on a fine grid (no scipy here)
    grid = 8192
    x = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0, 1, grid + 1), cdf))
    return float(np.dot(w, xs))


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def rows_report(res, con, out):
    """query_rows: per-row median warm time; every row checked against
    its DuckDB oracle."""
    times = {}
    for op in res["ops"]:
        times.setdefault(op["name"], []).append(op["ms"])
    failures = {}
    rows_out = {}
    for r in res["rows"]:
        n = r["name"]
        why = r["error"]
        if why is None:
            try:
                why = checks.row_matches(con, res["oracle_sql"][n],
                                         os.path.join(out, "rows", n))
            except Exception as e:  # an oracle that cannot run fails the row
                why = f"oracle error: {e}"
        if why is None:
            rows_out[n] = con.sql(f"SELECT count(*) FROM read_parquet("
                                  f"'{os.path.join(out, 'rows', n)}/*.parquet')").fetchone()[0]
        else:
            failures[n] = why
    med = {n: median(v) for n, v in times.items() if n not in failures}
    cls = {r["name"]: r["class"] for r in res["rows"]}
    n_rows = len(res["rows"])
    e2e = {
        # the rows are different operations, not samples of one: the plain
        # order statistics, as pct would give the slowest row most weight
        "p50_ms": median(list(med.values())),
        "p90_ms": linear_pct(list(med.values()), 90),
        "sum_s": sum(med.values()) / 1e3,
        "ok_frac": 1.0 - len(failures) / n_rows,
    }
    detail = {
        "rows_scan_s": sum(v for n, v in med.items() if cls[n] == "scan") / 1e3,
        "rows_multijob_s": sum(v for n, v in med.items() if cls[n] == "multijob") / 1e3,
        "rows_failed_frac": len(failures) / n_rows,
        "passes": res["passes"],
        "check_pass_s": sum(r["cold_ms"] for r in res["rows"]) / 1e3,
        "row_ms": {r["name"]: [round(r["cold_ms"]), round(med.get(r["name"], 0))]
                   for r in res["rows"]},
    }
    return e2e, detail, n_rows, failures, {"med": med, "rows_out": rows_out}


def serve_report(res, con, out, inputs_dir):
    """serve_q: latency from each request's due time; every reply
    compared with DuckDB's answer."""
    with open(os.path.join(out, "replies.json")) as f:
        replies = json.load(f)
    with open(os.path.join(inputs_dir, "schedule.json")) as f:
        reqs = json.load(f)["requests"]
    cache = {}
    failures = {}
    for r in replies:
        body = reqs[r["i"]]["body"]
        key = json.dumps(body, sort_keys=True)
        if key not in cache:
            cache[key] = checks.expected(con, body)
        why = (f"HTTP {r['status']}: {r['body'][:200]}" if r["status"] != 200
               else checks.reply_matches(cache[key], json.loads(r["body"])))
        if why is None and r["phase"] == "open":
            ms = next(o["ms"] for o in res["ops"] if o["i"] == r["i"])
            if ms > LATENCY_LIMIT_MS:
                why = f"{ms:.0f} ms past the {LATENCY_LIMIT_MS:.0f} ms limit"
        if why:
            failures[f"{r['phase']}:{r['i']}:{reqs[r['i']]['op']}"] = why
    ops = res["ops"]
    lat = [o["ms"] for o in ops]
    by_op = {}
    for o in ops:
        by_op.setdefault(o["op"], []).append(o["ms"])
    e2e = {
        "p50_ms": pct(lat, 50),
        "p90_ms": pct(lat, 90),
        "sum_s": sum(median(v) for v in by_op.values()) / 1e3,
        "ok_frac": 1.0 - len(failures) / len(replies),
    }
    span_s = max(o["ms"] / 1e3 + reqs[o["i"]]["due_s"] for o in ops)
    detail = {
        "q_p50_ms": e2e["p50_ms"], "q_p90_ms": e2e["p90_ms"],
        "q_failed_frac": len(failures) / len(replies), "requests": len(ops),
        "offered_per_s": gen.SERVE_RATE, "completed_per_s": len(ops) / span_s,
        "gen_late_p95_ms": pct([o["late_ms"] for o in ops], 95),
        "op_p50_ms": {k: median(v) for k, v in sorted(by_op.items())},
    }
    return e2e, detail, len(replies), failures, {}


def ingest_check(con, res, phase, info):
    """Failures of one ingest phase, and how many checks were made: the
    table, the batches, the rows, and every read of the read set."""
    failures = {}
    why = checks.ingest_matches(con, phase["table"], phase["agg"], phase["mark"],
                                gen.INGEST_BATCHES, res["stream_sql"])
    if why:
        failures["table"] = why
    if len(phase["batches"]) != gen.INGEST_BATCHES:
        failures["batches"] = f"{len(phase['batches'])} batches, expected {gen.INGEST_BATCHES}"
    if sum(b["rows"] for b in phase["batches"]) != info["staged_rows"]:
        failures["rows"] = "ingested row count differs from the staged rows"
    first = {r["op"]: r for r in phase["reads"] if "body" in r}
    for r in phase["reads"]:
        if "body" in r:
            why = checks.reply_matches(checks.expected(con, json.loads(r["request"])),
                                       json.loads(r["body"]))
        else:
            why = (None if r["rows"] == first[r["op"]]["rows"]
                   else "row count changed between rounds")
        if why:
            failures[f"read:{r['op']}:{r['round']}"] = why
    return failures, 3 + len(phase["reads"])


def ingest_report(res, con, info):
    failures, n_checks = ingest_check(con, res, res, info)
    for key in ("traced", "untraced_after"):
        if key in res:
            more, n = ingest_check(con, res, res[key], info)
            failures.update({f"{key}:{k}": v for k, v in more.items()})
            n_checks += n
    trig = [b["duration_ms"]["triggerExecution"] for b in res["batches"]]
    reads = [r["ms"] for r in res["reads"]]
    e2e = {
        "p50_ms": pct(trig, 50),
        "p90_ms": pct(trig, 90),
        "sum_s": res["ingest_ms"] / 1e3,
        "ok_frac": 1.0 - len(failures) / n_checks,
    }
    detail = {
        "ingest_rows_per_s": info["staged_rows"] / (res["ingest_ms"] / 1e3),
        "ingest_batch_p50_ms": e2e["p50_ms"],
        "ingest_read_ms": median(reads),
        "ingest_failed_frac": len(failures) / n_checks,
        "batches": len(trig), "staged_rows": info["staged_rows"],
        "compact_ms": res["compact_ms"],
        "files_after_ingest": res["files_after_ingest"],
    }
    return e2e, detail, n_checks, failures, {}


# --------------------------------------------------------- per-layer

LAYER_METRICS = (
    ["server.overhead_ms", "server.reply_bytes", "runner.build_ms",
     "driver.plan_ms", "driver.outside_jobs_ms", "serialize.collect_ms",
     "queries.build_s"] +
    [f"row.{n}_s" for n in SCAN_ROWS + MULTIJOB_ROWS] +
    ["sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s",
     "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
     "exchange.spill_bytes", "compute.task_cpu_s", "compute.gc_s",
     "storage.bytes_read", "storage.files_read", "storage.rows_read_per_row_out",
     "ztable.append_ms", "ztable.files_written", "ztable.write_amp",
     "ztable.compact_s", "ztable.files_after_ingest", "ingest.engine_ms",
     "ingest.jobs_per_batch", "ingest.batch_growth", "pins.leftover_rdds",
     "pins.blockstore_delta_bytes", "gen.late_p95_ms", "cal0_s",
     "trace.overhead_frac"])


def layer_units(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_amp", "_growth", "_per_row_out")):
        return "ratio"
    return "count"


def counter_means(spans):
    """Per-operation means of the probe's counters over the given spans."""
    def m(k, scale=1.0):
        return mean([s["attrs"].get(k, 0) * scale for s in spans])
    return {
        "sched.jobs": m("jobs"), "sched.stages": m("stages"),
        "sched.tasks": m("tasks"), "sched.delay_s": m("sched_delay_ms", 1e-3),
        "exchange.shuffle_write_bytes": m("shuffle_write_bytes"),
        "exchange.shuffle_read_bytes": m("shuffle_read_bytes"),
        "exchange.spill_bytes": m("spill_bytes"),
        "compute.task_cpu_s": m("cpu_ns", 1e-9), "compute.gc_s": m("gc_ms", 1e-3),
        "storage.bytes_read": m("bytes_read"), "storage.files_read": m("files_read"),
    }


def children(spans, parent, name):
    return [s for s in spans if s["parent"] == parent["id"] and s["name"] == name]


def outside_jobs(s):
    return s["dur_ms"] - s["attrs"].get("job_covered_ms", 0)


def layers(workload, res, extra):
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m["cal0_s"] = res["env"]["cal0_s"]
    if workload == "query_rows":
        spans = res["spans"]
        rows = [s for s in spans if s["name"] == "row"]
        execs = [children(spans, r, "row.exec")[0] for r in rows]
        plans = [children(spans, r, "driver.plan")[0] for r in rows]
        builds = [children(spans, r, "queries.build")[0] for r in rows]
        m.update(counter_means(rows))
        m["queries.build_s"] = mean([b["dur_ms"] / 1e3 for b in builds])
        m["driver.plan_ms"] = median([p["dur_ms"] for p in plans])
        m["driver.outside_jobs_ms"] = median([outside_jobs(e) for e in execs])
        out = sum(extra["rows_out"].get(r["attrs"]["row"], 0) for r in rows)
        m["storage.rows_read_per_row_out"] = \
            sum(r["attrs"].get("records_read", 0) for r in rows) / max(out, 1)
        m["pins.leftover_rdds"] = mean([r["attrs"]["leftover_rdds"] for r in rows])
        for n, v in extra["med"].items():
            m[f"row.{n}_s"] = v / 1e3
        traced = sum(r["dur_ms"] - p["dur_ms"] for r, p in zip(rows, plans))
        untraced = sum(extra["med"][r["attrs"]["row"]] for r in rows)
        m["trace.overhead_frac"] = traced / untraced - 1.0
    elif workload == "serve_q":
        spans = res["spans"]
        http = [s for s in spans if s["name"] == "server.http"]
        replay = {s["attrs"]["i"]: s for s in spans if s["name"] == "replay"}
        phases = {i: {c: children(spans, r, c)[0]["dur_ms"] for c in
                      ("runner.build", "driver.plan", "serialize.collect")}
                  for i, r in replay.items()}
        m.update(counter_means(http))
        m["server.overhead_ms"] = median(
            [h["dur_ms"] - sum(phases[h["attrs"]["i"]].values()) for h in http])
        m["server.reply_bytes"] = mean([h["attrs"]["reply_bytes"] for h in http])
        m["runner.build_ms"] = median([p["runner.build"] for p in phases.values()])
        m["driver.plan_ms"] = median([p["driver.plan"] for p in phases.values()])
        m["serialize.collect_ms"] = median([p["serialize.collect"] for p in phases.values()])
        m["driver.outside_jobs_ms"] = median([outside_jobs(h) for h in http])
        m["storage.rows_read_per_row_out"] = (
            sum(h["attrs"].get("records_read", 0) for h in http) /
            max(1, sum(r["attrs"]["rows_out"] for r in replay.values())))
        m["pins.leftover_rdds"] = res["leftover_rdds"]
        m["pins.blockstore_delta_bytes"] = res["blockstore_delta_bytes"]
        m["gen.late_p95_ms"] = pct([o["late_ms"] for o in res["ops"]], 95)
        m["trace.overhead_frac"] = (median([h["dur_ms"] for h in http]) /
                                    median([o["ms"] for o in res["seq_ops"]]) - 1.0)
    else:
        t = res["traced"]
        spans = t["spans"]
        ing = next(s for s in spans if s["name"] == "ingest.ingestZTable")
        reads = [s for s in spans if s["name"] == "ztable.read"]
        batches = t["listener_batches"]
        trig = [b["duration_ms"]["triggerExecution"] for b in batches]
        add = [b["duration_ms"].get("addBatch", 0) for b in batches]
        m.update(counter_means([ing]))
        for k in ("sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s",
                  "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
                  "exchange.spill_bytes", "compute.task_cpu_s", "compute.gc_s"):
            m[k] /= max(1, len(batches))  # per batch
        read_counts = counter_means(reads)
        m["storage.bytes_read"] = read_counts["storage.bytes_read"]
        m["storage.files_read"] = read_counts["storage.files_read"]
        m["storage.rows_read_per_row_out"] = (
            sum(s["attrs"].get("records_read", 0) for s in reads) /
            max(1, sum(r["rows"] for r in t["reads"])))
        for c in ("runner.build", "driver.plan", "serialize.collect"):
            m[c + "_ms"] = median([children(spans, r, c)[0]["dur_ms"] for r in reads])
        m["driver.outside_jobs_ms"] = median([outside_jobs(r) for r in reads])
        m["ztable.append_ms"] = median(add)
        m["ingest.engine_ms"] = median([a - b for a, b in zip(trig, add)])
        m["ztable.files_written"] = ing["attrs"].get("files_written", 0)
        m["ztable.write_amp"] = ing["attrs"].get("bytes_written", 0) / res["staged_bytes"]
        m["ztable.compact_s"] = t["compact_ms"] / 1e3
        m["ztable.files_after_ingest"] = t["files_after_ingest"]
        jobs = t["jobs_per_batch"]
        m["ingest.jobs_per_batch"] = mean(list(jobs.values()))
        # last decile over first decile, batch 0 (engine warm-up) left out
        k = max(1, (len(trig) - 1) // 10)
        m["ingest.batch_growth"] = median(trig[-k:]) / median(trig[1:1 + k])
        m["pins.leftover_rdds"] = res["env"]["persistent_rdds_at_end"]
        untraced = (res["ingest_ms"] + res["untraced_after"]["ingest_ms"]) / 2
        m["trace.overhead_frac"] = t["ingest_ms"] / untraced - 1.0
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    work = build.WORK
    classes = build.build()
    started = time.time()
    run_dir = os.path.abspath(os.path.join(work, f"run-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs_dir, info, deterministic = inputs(run_dir, args.workload,
                                                 args.seed, args.seconds)
        con = checks.connect(os.path.join(inputs_dir, "tables"))
        cpus = os.cpu_count() or 1
        t_jvm = time.time()
        res, out = run_jvm(classes, run_dir, inputs_dir, args, cpus,
                           DEADLINE_S - (time.time() - started))
        if res is None:
            build.fail("the benchmark JVM failed")
        t_checks = time.time()
        if args.workload == "query_rows":
            e2e, detail, attempted, failures, extra = rows_report(res, con, out)
        elif args.workload == "serve_q":
            e2e, detail, attempted, failures, extra = serve_report(res, con, out, inputs_dir)
        else:
            e2e, detail, attempted, failures, extra = ingest_report(res, con, info)
        attempted += 1  # the inputs check
        if not deterministic:
            failures["inputs"] = "the same seed gave different inputs"
        e2e["setup_s"] = median(res["setup_s"])
        stamp = dict(res["env"], seed=args.seed, workload=args.workload,
                     git_sha=git_sha(), setup_runs_s=res["setup_s"],
                     inputs_s=t_jvm - started, jvm_s=t_checks - t_jvm,
                     checks_s=time.time() - t_checks)
        print(json.dumps({"env": stamp, "detail": detail, "failures": failures}))
        if args.trace:
            metrics = {k: {"value": v, "unit": layer_units(k)}
                       for k, v in layers(args.workload, res, extra).items()}
            save_trace(work, args, res, metrics)
        else:
            units = {"setup_s": "s", "p50_ms": "ms", "p90_ms": "ms",
                     "sum_s": "s", "ok_frac": "ratio"}
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_sha():
    """The commit under test, when the checkout itself is a git repository
    (git is kept from looking in the directories above it)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10, env=env).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def save_trace(work, args, res, metrics):
    """Spans and listener counts of a traced run, as JSON, kept after the
    run under .bench_build/perfbench/traces."""
    d = os.path.join(work, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"metrics": metrics, "result": res}, f)


if __name__ == "__main__":
    main()
