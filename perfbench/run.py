#!/usr/bin/env python3
"""Benchmark of the graft engine: KTable replay, live ingest+serve, batch surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload replay|live|batch --seed N --seconds S --trace 0|1

The first run in a checkout builds the repository and the harness with sbt
(into the sbt target directories and .bench_build/); later runs reuse the
build while the sources are unchanged. Each run starts one JVM
(perfbench.Main) that builds the session the library ships
(graft.Graft.session on local[nproc]), sets up several times, measures for
--seconds, and checks the outputs. The last line printed is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. The line before it is a report with the
workload's own metric names, tail percentiles and sample counts, failures,
provenance, and (traced) what each layer metric should move and the tracing
overhead against the last untraced run of the workload in this checkout.
See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("replay", "live", "batch")
JVM_TIMEOUT_S = 170
# A fixed, pre-touched heap: peak RSS then measures the native side
# (RocksDB, metaspace, code, threads) on top of a constant heap, instead of
# how far the collector happened to grow the heap in this run.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]

# BENCHMARK.json's end-to-end names -> (the workload's own metric, scale).
ROLES = {
    "replay": {"throughput_per_s": ("updates_per_s", 1),
               "latency_ms_p50": ("batch_ms_p50", 1), "latency_ms_tail": ("batch_ms_tail", 1),
               "freshness_ms_p50": ("freshness_ms_p50", 1), "freshness_ms_tail": ("freshness_ms_tail", 1)},
    "live": {"throughput_per_s": ("updates_per_s", 1),
             "latency_ms_p50": ("read_ms_p50", 1), "latency_ms_tail": ("read_ms_tail", 1),
             "freshness_ms_p50": ("freshness_ms_p50", 1), "freshness_ms_tail": ("freshness_ms_tail", 1)},
    "batch": {"throughput_per_s": ("queries_per_s", 1),
              "latency_ms_p50": ("query_s_p50", 1000), "latency_ms_tail": ("query_s_tail", 1000),
              "freshness_ms_p50": ("result_s_p50", 1000), "freshness_ms_tail": ("result_s_tail", 1000)},
}

# Units of the workloads' own metrics (less any _p50/_tail), for the report.
OWN_UNITS = {"updates_per_s": "1/s", "queries_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
             "query_s_total": "s", "query_s": "s", "result_s": "s", "batch_ms": "ms", "read_ms": "ms",
             "freshness_ms": "ms"}

# Per-layer metric prefix -> the end-to-end metrics (on workloads) it should move.
MOVES = [
    ("parse.", "updates_per_s on replay; nothing on batch"),
    ("trigger.", "batch_ms_* on replay and live; freshness_ms_* on live"),
    ("state.", "updates_per_s and batch_ms_* on replay; little on live"),
    ("ktable.", "updates_per_s and batch_ms_* on replay; little on live"),
    ("serving.upsert_ms", "freshness_ms_* on live"),
    ("serving.view_rows_written", "freshness_ms_* on live"),
    ("serving.", "read_ms_* on live"),
    ("http.", "read_ms_* on live"),
    ("gen.", "validity of a live run (lag and backlog must stay small)"),
    ("batch.", "query_s_* on batch; nothing on replay or live"),
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the checkout root."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(fp):
    stamp = OUT / "build.stamp"
    if stamp.exists() and stamp.read_text() == fp and (OUT / "classpath.txt").exists():
        return
    OUT.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = OUT / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}), log in {log}")
    stamp.write_text(fp)


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def launch(args, nproc, work):
    """Runs one perfbench.Main; returns (its PERFBENCH record, peak RSS in MB, CPU seconds)."""
    cp = (OUT / "classpath.txt").read_text().strip()
    opts = [o for o in (OUT / "javaopts.txt").read_text().split("\n") if o and not o.startswith(("-Xmx", "-Xms"))]
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=str(work / "local"))
    t0_ms = int(time.time() * 1000)
    cmd = ["java", *opts, *HEAP, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace), str(t0_ms),
           str(work), str(BENCH)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    timer = threading.Timer(JVM_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    # drain both pipes while the JVM runs; wait4 gives this child's own rusage
    err_lines = []
    err_thread = threading.Thread(target=lambda: err_lines.extend(proc.stderr))
    err_thread.start()
    out = proc.stdout.read()
    _, status, usage = os.wait4(proc.pid, 0)
    proc.returncode = os.waitstatus_to_exitcode(status)
    timer.cancel()
    err_thread.join()
    try:
        os.killpg(proc.pid, signal.SIGKILL)  # anything the JVM left behind
    except ProcessLookupError:
        pass
    records = [l[len("PERFBENCH "):] for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not records:
        sys.stderr.write("".join(err_lines[-60:]))
        fail(f"harness exited {proc.returncode} without a result")
    return json.loads(records[-1]), usage.ru_maxrss / 1024.0, usage.ru_utime + usage.ru_stime


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail(f"no graft sources next to {BENCH.name}/ (expected build.sbt and src/main in {ROOT})", 2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    fp = fingerprint()
    build(fp)

    nproc = len(os.sched_getaffinity(0))
    load_start, cpu_start = loadavg(), cpu_times()
    work = OUT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec, rss_mb, cpu_s = launch(args, nproc, work)
        if args.trace and (work / "spans.jsonl").exists():
            traces = OUT / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", traces / f"{args.workload}-{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cpu_end = cpu_times()
    steal = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        steal = (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1])
    own = dict(rec["e2e"])
    own["peak_rss_mb"] = rss_mb
    e2e = {"setup_s": (own["setup_s"], "s"), "peak_rss_mb": (rss_mb, "MB")}
    for name, (src, scale) in ROLES[args.workload].items():
        e2e[name] = (own[src] * scale, next(m["unit"] for m in spec["end_to_end"] if m["name"] == name))

    problems = list(rec["problems"])
    correct = rec["correct"]
    # self-check: the names printed are exactly BENCHMARK.json's
    want_e2e = [m["name"] for m in spec["end_to_end"]]
    want_layers = [m["name"] for m in spec["per_layer"]]
    if sorted(e2e) != sorted(want_e2e):
        problems.append(f"end-to-end names {sorted(e2e)} differ from BENCHMARK.json {sorted(want_e2e)}")
        correct = False
    unknown = sorted(set(rec["layers"]) - set(want_layers))
    if unknown:
        problems.append(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        correct = False

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": OWN_UNITS[k.removesuffix("_p50").removesuffix("_tail")]}
                    for k, v in own.items()},
        "failed_ratio": rec["failed"] / rec["attempted"],
        "problems": problems,
        "info": rec["info"],
        "provenance": {"nproc": nproc, "loadavg_start": load_start, "loadavg_end": loadavg(),
                       "cpu_steal_share": steal, "jvm_cpu_s": cpu_s,
                       "git_commit": git_commit(), "source_sha256": fp,
                       "anchor_q1_filter_project_s": rec["info"].get("anchor_q1_filter_project_s"),
                       "anchor_q2_agg_s": rec["info"].get("anchor_q2_agg_s")},
    }
    untraced = OUT / "untraced" / f"{args.workload}.json"
    if args.trace:
        layers = rec["layers"]
        metrics = {}
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
        report["idle_layers"] = sorted(n for n in want_layers if n not in layers)
        report["moves"] = {p + "*": t for p, t in MOVES}
        if untraced.exists():
            base = json.loads(untraced.read_text())
            report["trace_overhead"] = {
                "against_seed": base["seed"],
                "share": {k: e2e[k][0] / v - 1 for k, v in base["metrics"].items() if k in e2e and v}}
        else:
            report["trace_overhead"] = "no untraced run of this workload in this checkout yet"
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        untraced.parent.mkdir(exist_ok=True)
        untraced.write_text(json.dumps({"seed": args.seed, "metrics": {k: v for k, (v, _) in e2e.items()}}))

    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": bool(correct), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
