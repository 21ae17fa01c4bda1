#!/usr/bin/env python3
"""The repository benchmark: one command runs one workload and prints its
metrics as the last line of stdout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from source (perfbench/build.py), generates the workload's inputs from
the seed (perfbench/gen.py), runs the workload in a fresh JVM whose
Spark warehouse, local and temp directories sit under a per-run root that
is deleted afterwards, checks the outputs, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md for what each one means).
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("analyst_suite", "lakehouse_stream")


def sf_dir():
    """The read-only sf0.01 test tables the analyst suite reads (the scale
    the DuckDB oracle is checked at): PERFBENCH_SF_DIR, else the sf0.01
    directory TESTDATA.md lists."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*/sf0\.01)/?`", f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SF_DIR = sf_dir()
# the tail percentile each workload reports: one with at least ten
# samples beyond it at the sample counts a run gives (analyst_suite times
# at least 32 query executions, lakehouse_stream's alerts are ~500 events)
TAIL_PCT = {"analyst_suite": 65, "lakehouse_stream": 90}


def timeouts(seconds):
    """Seconds after the build for the workload JVM and for the whole run.
    Start-up, set-up, warm-up and checks take about a minute on 4 cores
    besides the measured seconds; at --seconds 16 a run ends within 163 s."""
    jvm = 100 + 3 * seconds
    return jvm, jvm + 15


E2E_UNITS = {
    "setup_s": "s", "success_frac": "frac", "peak_rss_mb": "MB",
    "latency_p50_ms": "ms", "latency_tail_ms": "ms", "throughput_per_s": "1/s",
}
# every per-layer metric; a workload that bypasses a layer reports 0
PER_LAYER = [
    "queries.core_s", "queries.advanced_s", "queries.text_s", "queries.vector_s",
    "queries.lakehouse_s", "queries.build_s", "plans.plan_s", "queries.exec_s",
    "spark.jobs", "spark.tasks", "spark.job_s", "spark.driver_gap_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "fs.read_ops", "fs.write_ops", "fs.list_ops",
    "ingest.parse_s", "layers.silver_s", "layers.gold_s", "layers.view_refresh_s",
    "layers.maintenance_s", "layers.bytes_rewritten_mb", "layers.commits",
    "fs.write_ops_per_commit", "fs.read_ops_per_commit", "fs.list_ops_per_commit",
    "layers.versions_end", "layers.live_files",
    "views.plan_s", "views.exec_s",
] + [f"streaming.{q}.{m}" for q in ("bronze", "scoring")
     for m in ("trigger_ms", "latest_offset_ms", "planning_ms", "add_batch_ms",
               "wal_commit_ms", "commit_offsets_ms")] + [
    "streaming.scoring.add_batch_growth", "streaming.batches", "streaming.rows_per_batch",
    "streaming.backlog_files", "generator.lag_ms", "scoring.fast_path",
    "scoring.slow_collects", "scoring.predict_p50_ms", "trace.latency_p50_ms", "trace.spans",
]

# Spark 4 on JDK 17 needs these when the session is created outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def pct(xs, q):
    """Percentile by linear interpolation between the closest ranks."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(run_root, args, deadline):
    """Runs the harness JVM; returns (exit code, peak RSS in MB)."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(run_root, "tmp"),
            "-Dderby.system.home=" + run_root,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "graft.perfbench.Main"] + args
    with open(os.path.join(run_root, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_root,
                             start_new_session=True)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_maxrss / 1024.0
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                _, status, ru = os.wait4(p.pid, 0)
                return -9, ru.ru_maxrss / 1024.0
            time.sleep(0.05)


def oracle_check(verify_dir, deadline):
    """The repo's DuckDB parity check over the warm-up pass's results;
    returns (checked, failed, failure lines)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"),
                        SF_DIR, verify_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=ROOT, timeout=max(1.0, deadline - time.time()))
    lines = p.stdout.splitlines()
    ok = sum(1 for l in lines if l.startswith("OK"))
    bad = [l for l in lines if l.startswith("FAIL")]
    return ok + len(bad), len(bad), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "analyst_suite" and not (SF_DIR and os.path.isdir(SF_DIR)):
        raise SystemExit("analyst_suite: no sf0.01 test tables (set PERFBENCH_SF_DIR, "
                         f"or list them in TESTDATA.md); looked at {SF_DIR!r}")

    build.build()
    started = time.time()
    runs = os.path.join(ROOT, ".bench_runs")
    run_root = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    for d in ("tmp", "input"):
        os.makedirs(os.path.join(run_root, d))
    try:
        res, rss, extra_checks = run_workload(a, run_root, started)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass

    attempted, failed = res["attempted"], res["failed"]
    for name, (ok, msg) in extra_checks.items():
        res["checks"][name] = {"ok": ok, "detail": msg}
    for name, c in res["checks"].items():
        log(f"check {name}: {'ok' if c['ok'] else 'FAILED'} — {c['detail']}")
    for e in res["errors"]:
        log("error:", e)

    lat = res["latency_ms"]
    tail = TAIL_PCT[a.workload]
    if len(lat) * (100 - tail) / 100 < 10:
        log(f"WARNING only {len(lat)} latency samples: fewer than 10 beyond p{tail}")
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "success_frac": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": rss,
        "latency_p50_ms": pct(lat, 50),
        "latency_tail_ms": pct(lat, tail),
        "throughput_per_s": res["throughput_per_s"],
    }
    detail = dict(workload=a.workload, seed=a.seed, samples=len(lat), **res["detail"])
    detail.update({f"{a.workload}.{k}": v for k, v in named_metrics(a.workload, res, e2e).items()})
    print(json.dumps({"detail": detail}))
    if a.trace:
        layers = dict(res["layers"])
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        if a.workload == "lakehouse_stream":
            layers["scoring.predict_p50_ms"] = pct(res["predict_ms"], 50)
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise SystemExit(f"undeclared per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def named_metrics(workload, res, e2e):
    """The workload's end-to-end figures under the names users know."""
    lat, predict, d = res["latency_ms"], res["predict_ms"], res["detail"]
    if workload == "analyst_suite":
        return {"suite_s": d.get("suite_s"), "query_p50_ms": e2e["latency_p50_ms"],
                "query_p65_ms": e2e["latency_tail_ms"]}
    return {"alert_p50_ms": e2e["latency_p50_ms"], "alert_p90_ms": e2e["latency_tail_ms"],
            "alert_p99_ms": pct(lat, 99) if len(lat) >= 1000 else None,
            "sustained_tps": d.get("sustained_tps"),
            "etl_rows_per_s": e2e["throughput_per_s"],
            "freshness_p50_s": d.get("etl_freshness_p50_s"),
            "dashboard_p50_ms": d.get("etl_dashboard_p50_ms"),
            "bytes_per_input_byte": d.get("etl_bytes_per_input_byte"),
            "predict_samples": len(predict), "predict_p50_ms": pct(predict, 50),
            "predict_p99_ms": pct(predict, 99) if len(predict) >= 1000 else None}


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "frac"),
                         ("_growth", "ratio"), ("_per_commit", "ops/commit")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_workload(a, run_root, started):
    inp = os.path.join(run_root, "input")
    if a.workload == "lakehouse_stream":
        gen.generate(a.seed, a.seconds, inp)
    out = os.path.join(run_root, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", run_root, "--input", inp,
            "--data", SF_DIR, "--cores", str(cores()), "--out", out]
    jvm_timeout, run_timeout = timeouts(a.seconds)
    code, rss = run_jvm(run_root, args, started + jvm_timeout)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"workload JVM failed (exit {code})")
    with open(out) as f:
        res = json.load(f)
    if a.trace and os.path.exists(out + ".spans.jsonl"):
        keep = os.path.join(ROOT, ".bench_out")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(out + ".spans.jsonl", os.path.join(keep, f"{a.workload}-{a.seed}.spans.jsonl"))
    extra = {}
    if a.workload == "analyst_suite":
        checked, bad, lines = oracle_check(os.path.join(run_root, "verify"),
                                           started + run_timeout)
        # one op per query compared; a check that compared nothing fails once
        res["attempted"] += max(checked, 1)
        res["failed"] += bad if checked else 1
        extra["duckdb_oracle"] = (bad == 0 and checked > 0,
                                  f"{checked - bad}/{checked} match" +
                                  ("; " + " | ".join(lines[:5]) if lines else ""))
    else:
        extra.update(gen.verify(inp))
        for ok, _ in extra.values():
            res["attempted"] += 1
            res["failed"] += 0 if ok else 1
    return res, rss, extra


if __name__ == "__main__":
    sys.exit(main())
