#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt (once per source
state; the classpath is cached under .bench_build/), starts one JVM with
one closed-loop client thread on local[nproc], checks every answer
against DuckDB or the planted ground truth, and prints the run context
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of BENCHMARK.json. Everything the run writes stays under
.bench_build/ in the repository root.
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
from pathlib import Path

import oracle

ROOT = Path(__file__).resolve().parent.parent
HARNESS = ROOT / "perfbench" / "harness"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("point_reads", "devops_scan", "ingest_replay")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the engine build passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """The harness classpath, compiling engine and harness when the
    sources changed since the last build."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", HARNESS / "build.sbt"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from a full checkout")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep sbt's scratch files (file watcher, native libraries) in the checkout
    opts = [env.get("SBT_OPTS", ""), "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if env["COURSIER_MODE"] == "offline":
        opts.append("-Dsbt.offline=true")
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also for the launcher's probe JVMs
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    cp = lines[-1].strip()
    if ".jar" not in cp:
        fail(f"no classpath in the build output; see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, run_dir, workload, seed, seconds=0, trace=0, mode="run"):
    """Run the harness into `run_dir`; returns its result.json (None in
    `inputs` mode)."""
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(nproc()), "--out", str(run_dir), "--mode", mode]
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        tail = "\n".join(log.read_text(errors="replace").splitlines()[-30:])
        fail(f"harness exited with {rc}:\n{tail}")
    return json.loads((run_dir / "result.json").read_text()) if mode == "run" else None


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified
    Lentz method)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics. At a few dozen samples it is much steadier
    run to run than a single order statistic."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    return sum((betainc(a, b, (i + 1) / n) - betainc(a, b, i / n)) * x
               for i, x in enumerate(s))


def end_to_end(res, ops):
    setup = res["setup"]
    lat = [o["latency_ms"] for o in ops]
    return {
        "setup_s": ((setup["session.start_ms"] + statistics.median(setup["gen.data_ms"])
                     + setup["warmup_ms"]) / 1000, "s"),
        "op_p50_ms": (quantile(lat, 0.5), "ms"),
        "op_p90_ms": (quantile(lat, 0.9), "ms"),
        "ops_per_s": (len(ops) / (res["loop_ms"] / 1000), "1/s"),
        "items_per_s": (sum(o["items"] for o in ops) / (sum(lat) / 1000), "1/s"),
    }


def per_layer(res, ops):
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    lay = [o["layers"] for o in traced]
    cores = res["context"]["nproc"]

    def total(k):
        return sum(l.get(k, 0) for l in lay)

    def med(k):
        return statistics.median(l.get(k, 0) for l in lay)

    def mean(k):
        return total(k) / len(lay)

    triggers = [t for l in lay for t in l["stream.trigger_ms"]]
    requested = sum(o["requested"] for o in traced)
    data_bytes = res["context"]["data"]["bytes"]
    setup = res["setup"]
    m = {
        "functions.analyze_ms": (med("functions.analyze_ms"), "ms"),
        "build.jobs": (mean("build.jobs"), "count"),
        "catalyst.optimize_ms": (med("catalyst.optimize_ms"), "ms"),
        "catalyst.plan_ms": (med("catalyst.plan_ms"), "ms"),
        "exec.execute_ms": (med("exec.execute_ms"), "ms"),
        "exec.jobs": (mean("exec.jobs"), "count"),
        "exec.stages": (mean("exec.stages"), "count"),
        "exec.tasks": (mean("exec.tasks"), "count"),
        "exec.single_task_stage_share":
            (total("exec.single_stages") / max(1, total("exec.stages")), "ratio"),
        "exec.cpu_ms": (mean("exec.cpu_ms"), "ms"),
        "exec.run_ms": (mean("exec.run_ms"), "ms"),
        "exec.gc_ms": (mean("exec.gc_ms"), "ms"),
        "exec.cpu_busy_share":
            (total("exec.cpu_ms") / (total("exec.execute_ms") * cores), "ratio"),
        "scan.bytes_read": (mean("scan.bytes_read"), "bytes"),
        "scan.records_read": (mean("scan.records_read"), "count"),
        "scan.records_per_requested_sample":
            (total("scan.records_read") / requested if requested else 0.0, "ratio"),
        "scan.read_amplification": (mean("scan.bytes_read") / data_bytes, "ratio"),
        "shuffle.bytes_written": (mean("shuffle.bytes_written"), "bytes"),
        "shuffle.records_written": (mean("shuffle.records_written"), "count"),
        "spill.bytes": (mean("spill.bytes"), "bytes"),
        "stream.triggers": (mean("stream.triggers"), "count"),
        "stream.trigger_ms_p50": (statistics.median(triggers) if triggers else 0.0, "ms"),
        "stream.trigger_ms_max": (max(triggers, default=0.0), "ms"),
        "stream.add_batch_ms": (mean("stream.add_batch_ms"), "ms"),
        "stream.query_planning_ms": (mean("stream.query_planning_ms"), "ms"),
        "stream.wal_commit_ms": (mean("stream.wal_commit_ms"), "ms"),
        "stream.commit_offsets_ms": (mean("stream.commit_offsets_ms"), "ms"),
        "stream.tasks_per_trigger":
            (total("stream.tasks") / len(triggers) if triggers else 0.0, "count"),
        "stream.state_rows": (max(l["stream.state_rows"] for l in lay), "count"),
        "stream.state_memory_bytes": (max(l["stream.state_memory_bytes"] for l in lay), "bytes"),
        "ingest.stream_ms": (med("ingest.stream_ms"), "ms"),
        "ingest.resolve_ms": (med("ingest.resolve_ms"), "ms"),
        "sink.bytes_written": (mean("sink.bytes_written"), "bytes"),
        "sink.write_amplification": (mean("sink.write_amplification"), "ratio"),
        "session.start_ms": (setup["session.start_ms"], "ms"),
        "gen.data_ms": (statistics.median(setup["gen.data_ms"]), "ms"),
        "warmup_ms": (setup["warmup_ms"], "ms"),
        "jvm.heap_used_peak_mb": (res["jvm.heap_used_peak_mb"], "MB"),
        # traced ops alternate with untraced ones in this run
        "trace.overhead_share": (
            statistics.median(o["latency_ms"] for o in traced)
            / statistics.median(o["latency_ms"] for o in untraced) - 1
            if untraced else 0.0, "ratio"),
        "trace.span_cover_min": (min(l["span_cover"] for l in lay), "ratio"),
    }
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    cp = build()
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    try:
        res = run_jvm(cp, run_dir, args.workload, args.seed, args.seconds, args.trace)
        ops = res["ops"]
        con = oracle.connect(run_dir / res["data_dir"], res["views"])
        failed = 0
        for o in ops:
            if o["error"]:
                ok, why, o["requested"] = False, o["error"], 0
            else:
                ok, why, o["requested"] = oracle.check_op(con, o, run_dir)
            o["ok"] = ok
            if not ok:
                failed += 1
                print(f"perfbench: {o['id']} {o['kind']} wrong: {why} [{o['sql']}]",
                      file=sys.stderr)
        con.close()
        metrics = per_layer(res, ops) if args.trace else end_to_end(res, ops)
        context = dict(res["context"], seed=args.seed, workload=args.workload,
                       trace=args.trace, ops=len(ops),
                       ops_by_kind={k: sum(o["kind"] == k for o in ops)
                                    for k in sorted({o["kind"] for o in ops})})
        print(json.dumps({"context": context}))
        (BUILD / f"last-{args.workload}-{args.trace}.json").write_text(
            json.dumps(dict(res, ops=ops, context=context)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
