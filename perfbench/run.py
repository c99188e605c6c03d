#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload query_board --seed 1 --seconds 15 --trace 0

Run it from the root of a graft checkout. It builds the JVM harness in
perfbench/harness against the checkout's own sbt build (once per source
state; the classpath and JVM options are cached under .bench_build/), runs
the workload in a fresh JVM whose temporary, warehouse, metastore and
streaming directories all live under one per-run root that is deleted at
the end, checks the outputs in DuckDB (checks.py), and prints as its last
stdout line {"correct", "attempted", "failed", "metrics"}. With --trace 1
the metrics are the per-layer ones and the spans are written to
.bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
HARNESS = HERE / "harness"
DATA = HERE / "data" / "sf0.01"
CACHE = REPO / ".bench_build"

WORKLOADS = ("query_board", "stream_batches")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_mean_s": "s"}

PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_fetch_wait_s": "s", "exec.input_mb": "MB",
    "exec.output_mb": "MB", "exec.spill_mb": "MB", "exec.slot_busy": "ratio",
    "domain.kpi_query_s": "s",
    "streaming.queue_wait_s": "s", "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s", "streaming.add_batch_s": "s",
    "streaming.gold_sink_s": "s", "streaming.cusum_sink_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.jobs_per_batch": "count", "streaming.files_read_per_batch": "count",
    "streaming.files_written_per_batch": "count",
    "out_mb": "MB",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    # per layer rather than end to end: at the build's -Xmx it moves by more
    # than a quarter between runs, with when G1 grows the heap
    "peak_rss_mb": "MB",
}

# Spark task slots: the same in every workload, never more than the cores.
SLOTS = min(4, len(os.sched_getaffinity(0)))
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# The offline sbt settings the repository's own test command uses.
SBT_REPOS = Path.home() / ".sbt" / "repositories"
SBT_OPTS = "-Dsbt.offline=true -Xmx2g" + (
    f" -Dsbt.override.build.repos=true -Dsbt.repository.config={SBT_REPOS}"
    if SBT_REPOS.is_file() else "")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_key():
    """Digest of everything the harness build depends on."""
    # the graft build's -Xmx reads SPARK_DRIVER_MEM, so the cached JVM
    # options hold only for the value they were exported with
    h = hashlib.sha256(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    roots = [REPO / "build.sbt", REPO / "project", REPO / "src" / "main", HARNESS / "build.sbt",
             HARNESS / "project", HARNESS / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.relative_to(r).parts)
        for p in files:
            h.update(str(p.relative_to(REPO)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def launch_spec():
    """(classpath, JVM options) of the graft build, building when needed."""
    CACHE.mkdir(exist_ok=True)
    cached = CACHE / f"launch-{source_key()}.txt"
    if cached.is_file():
        lines = cached.read_text().splitlines()
        if all(Path(p).exists() for p in lines[0].split(os.pathsep)):
            return lines[0], lines[1:]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    log = CACHE / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness build failed (rc={rc}); log in {log}", 3)
    for stale in CACHE.glob("launch-*.txt"):
        stale.unlink()
    shutil.copy(HARNESS / "target" / "launch.txt", cached)
    lines = cached.read_text().splitlines()
    return lines[0], lines[1:]


def run_jvm(args, root, trace_out):
    """Runs the harness JVM; returns its peak RSS in MB (1e6 bytes)."""
    cp, opts = launch_spec()
    cmd = ["java", *opts,
           f"-Djava.io.tmpdir={root}/tmp", f"-Dgraft.domain.bronze.dir={root}/bronze",
           f"-Dspark.sql.warehouse.dir={root}/warehouse", f"-Dderby.system.home={root}/derby",
           f"-Dspark.local.dir={root}/local",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", str(root), "--data", str(DATA), "--slots", str(SLOTS),
           "--trace-out", str(trace_out)]
    (root / "tmp").mkdir()
    log = root / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=root, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        pid = 0
        try:
            while not pid and time.monotonic() < deadline:
                time.sleep(0.05)
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        finally:
            # timed out, or this process was told to stop: take the JVM along
            if not pid:
                os.killpg(proc.pid, signal.SIGKILL)
                pid, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0 or not (root / "result.json").is_file():
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"harness JVM exited with {proc.returncode}", 4)
    return usage.ru_maxrss * 1024 / 1e6


def hd_median(xs):
    """Harrell-Davis estimate of the median (Biometrika 69, 1982): the mean
    of all order statistics, weighted by a Beta((n+1)/2, (n+1)/2) law.

    The sample median of a query board lies between two queries of
    different size, and moves by most of the gap between them when one
    sample crosses it; this estimate moves smoothly with every sample.
    """
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def cdf(x, steps=2000):  # Simpson's rule over the Beta(a, a) density
        if x <= 0 or x >= 1:
            return float(x >= 1)
        h = x / steps
        pdf = [math.exp((a - 1) * (math.log(t) + math.log1p(-t)) - log_beta) if t > 0 else
               float(a == 1) for t in (i * h for i in range(steps + 1))]
        return h / 3 * (pdf[0] + pdf[-1] + 4 * sum(pdf[1:-1:2]) + 2 * sum(pdf[2:-1:2]))

    c = [cdf(i / n) for i in range(n + 1)]
    return sum((c1 - c0) * x for c0, c1, x in zip(c, c[1:], xs))


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def wrong_ops(workload, res):
    """Op id -> reason, for timed ops whose output failed its check."""
    import checks  # needs the checkout's tools/compare.py
    info = res["checks"]
    if workload == "query_board":
        wrong = checks.check_queries(info, DATA)
        return {o["id"]: wrong[o["name"]] for o in res["ops"] if o["name"] in wrong}
    wrong = checks.check_stream(info)
    timed = {o["id"] for o in res["ops"]}
    # a warm-up batch feeds every later ledger row and its month's mart, so a
    # wrong warm-up output fails every timed op
    warm = sorted(i for i in wrong if i not in timed)
    if warm:
        why = f"warm-up batch {warm[0]}: {wrong[warm[0]]}"
        return {i: why for i in timed}
    return {i: wrong[i] for i in timed if i in wrong}


def main():
    # a stop request unwinds through the finally blocks that end the JVM and
    # delete the run's root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala").is_dir():
        fail(f"{REPO} is not a graft checkout (no build.sbt or src/main/scala)")
    if not DATA.is_dir():
        fail(f"missing benchmark data {DATA}")

    CACHE.mkdir(exist_ok=True)
    root = Path(tempfile.mkdtemp(prefix="run-", dir=CACHE))
    try:
        trace_out = CACHE / "traces" / f"{args.workload}-seed{args.seed}.json"
        if args.trace:
            trace_out.parent.mkdir(parents=True, exist_ok=True)
        rss_mb = run_jvm(args, root, trace_out)
        res = json.loads((root / "result.json").read_text())
        wrong = wrong_ops(args.workload, res)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # an op that threw or whose output is wrong is failed and not timed
    bad = {**{o["id"]: o["error"] for o in res["ops"] if o["error"]}, **wrong}
    print(f"perfbench: rev={git_rev()} workload={args.workload} seed={args.seed} "
          f"slots={res['slots']}")
    print("perfbench: spark conf " + json.dumps(res["conf"], sort_keys=True))
    for o in res["ops"]:
        state = f"failed: {bad[o['id']]}" if o["id"] in bad else f"{o['latency_s']:.4f} s"
        print(f"perfbench: op {o['id']} {o['name']} {state}")
    ok = [o["latency_s"] for o in res["ops"] if o["id"] not in bad]
    if not ok:
        fail("every timed op failed", 5)
    if args.trace:
        layers = {**res["layers"], "peak_rss_mb": rss_mb}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": res["setup_s"], "op_p50_s": hd_median(ok),
                  "op_mean_s": statistics.fmean(ok)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not wrong, "attempted": len(res["ops"]), "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
