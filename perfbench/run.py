#!/usr/bin/env python3
"""Benchmark of the graft engine: CDC pipeline latency and throughput, and
a batch curation suite, with per-layer figures from a traced run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Workloads: cdc_pipeline, batch_curation (see perfbench/README.md).
Spark comes from $SPARK_HOME (or the spark-submit on PATH); the test data
from $SPARK_GRAFT_SF_DIR, else the directory graft.Bench reads by default.
The first call builds the engine and the harness from source with sbt into
.bench_build/; later calls reuse the build while the sources are unchanged.
Each run executes in a fresh directory under .bench_build/runs/ (so the
engine's fixture tier starts empty) that is removed afterwards; the span
trace is kept under .bench_build/traces/.

Prints one line per metric, then, as the last line, one JSON object with
the keys correct, attempted, failed and metrics. Exits non-zero without
that line when the build or the run cannot complete.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home, "jars") if home else None


def sf_dir():
    """$SPARK_GRAFT_SF_DIR, else the test data graft.Bench reads by default."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.path.abspath(os.environ["SPARK_GRAFT_SF_DIR"])
    try:
        with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
            m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
        return m.group(1) if m else None
    except OSError:
        return None


SPARK_JARS = spark_jars()
SF_DIR = sf_dir()

WORKLOADS = ("cdc_pipeline", "batch_curation")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "throughput_per_s": "1/s",
}
# the paced phase's latency, printed on every cdc_pipeline run but not
# end-to-end metrics in BENCHMARK.json: their run-to-run spread on a shared
# host exceeds the largest bound a metric there may carry (see
# perfbench/README.md)
LATENCY = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

PER_LAYER = {
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "rows",
    "streaming.trigger_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "catalyst.build_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms",
    "codegen.classes": "count",
    "codegen.source_kb": "KiB",
    "stage.fixture_builds": "count",
    "stage.fixture_bytes": "bytes",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "jvm.heap_peak_mb": "MiB",
    "jvm.gc_ms": "ms",
    "trace.overhead_pct": "%",
}

JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
     "-Duser.timezone=UTC"]

RUN_TIMEOUT_S = 150


def run_group(cmd, timeout, **kw):
    """subprocess.run in its own process group, so a timeout stops the
    command and everything it started (sbt's JVM, for one)."""
    with subprocess.Popen(cmd, start_new_session=True, **kw) as p:
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        return subprocess.CompletedProcess(cmd, p.returncode, out)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


DETAIL_UNITS = (("per_s", "1/s"), ("ms", "ms"), ("s", "s"), ("bytes", "bytes"),
                ("pct", "%"), ("ratio", "ratio"), ("coverage", "ratio"))


def unit_of_detail(name):
    """Unit of a detail figure, from the unit word in its name."""
    for word, unit in DETAIL_UNITS:
        if re.search(rf"[._]{word}(_|$)", name):
            return unit
    return "count"


def source_stamp():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found in this checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        fail("no Spark installation found (set SPARK_HOME)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
                and os.path.isdir(CLASSES):
            return False
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = " ".join(
            ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
             f"-Dperfbench.spark.jars={SPARK_JARS}"] +
            ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
             if os.path.exists(repos) else []))
        t0 = time.time()
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 700,
                      cwd=HERE, env=env, stdout=subprocess.PIPE,
                      stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0 or not os.path.isdir(CLASSES):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"build: {time.time() - t0:.1f} s")
        return True


def cpu_steal():
    """(steal, total) jiffies over all cpus, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except OSError:
        return 0, 0


def run_java(workload, seed, seconds, trace, run_dir, result, trace_file):
    cmd = ["java", *JAVA_OPTS, "-Xms3g", "-Xmx3g",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')}",
           "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--sf-dir", SF_DIR, "--result", result, "--trace-file", trace_file,
           "--verified", verified_file(), "--launch-ms", str(int(time.time() * 1000))]
    os.makedirs(os.path.join(run_dir, "jtmp"))
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        try:
            r = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=err, stderr=err)
        except subprocess.TimeoutExpired:
            return f"run exceeded {RUN_TIMEOUT_S} s"
    if r.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "stderr.log")) as f:
            lines = [l for l in f if not l.lstrip().startswith(("at ", "..."))]
        sys.stderr.write("".join(lines[-60:]))
        return f"run exited with code {r.returncode}"
    return None


def verified_file():
    """Oracle-confirmed output digests, kept per test-data directory."""
    return os.path.join(
        BUILD, f"oracle-verified-{hashlib.sha256(SF_DIR.encode()).hexdigest()[:12]}.json")


def oracle_check(run_dir):
    """Check every batch_curation query run against the DuckDB oracle.

    Each run reports an order-insensitive digest of its output. A digest
    counts as correct once scripts/check_oracle.py has matched an output
    with that digest against the query's oracle SQL; confirmed digests are
    kept in .bench_build/oracle-verified.json, so only outputs not seen
    before (dumped by the run) go through DuckDB. Returns the number of
    query runs whose output is not confirmed."""
    out = os.path.join(run_dir, "oracle")
    with open(os.path.join(out, "digests.json")) as f:
        digests = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        pending = json.load(f)
    verified = {}
    vfile = verified_file()
    if os.path.exists(vfile):
        with open(vfile) as f:
            verified = json.load(f)
    if pending:
        script = os.path.join(ROOT, "scripts", "check_oracle.py")
        if not os.path.exists(script):
            fail("scripts/check_oracle.py not found in this checkout")
        t0 = time.time()
        r = run_group([sys.executable, script, out, SF_DIR], RUN_TIMEOUT_S, cwd=ROOT,
                      stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        for name in re.findall(r"^PASS (\S+)", r.stdout, re.M):
            d = digests[name]["dumped"]
            verified[name] = sorted(set(verified.get(name, [])) | {d})
        for line in r.stdout.splitlines():
            if line.startswith("FAIL"):
                print(f"oracle: {line}")
        print(f"oracle: {len(pending)} new outputs checked in DuckDB ({time.time() - t0:.1f} s)")
        tmp = vfile + ".tmp"
        with open(tmp, "w") as f:
            json.dump(verified, f, indent=1, sort_keys=True)
        os.replace(tmp, vfile)
    bad = {n: [d for d in v["runs"] if d not in verified.get(n, [])]
           for n, v in digests.items()}
    for n, ds in bad.items():
        if ds:
            print(f"oracle: {n}: {len(ds)} run(s) with an unconfirmed output")
    return sum(len(ds) for ds in bad.values())


def run_workload(workload, seed, seconds, trace):
    """One JVM run in a fresh directory, removed afterwards. Returns the
    run's result, (attempted, failed, correct) after the output checks, and
    the share of cpu time the hypervisor stole meanwhile."""
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_file = os.path.join(BUILD, "traces", f"{workload}-s{seed}-t{trace}.jsonl")
    try:
        result = os.path.join(run_dir, "result.json")
        steal0 = cpu_steal()
        err = run_java(workload, seed, seconds, trace, run_dir, result, trace_file)
        steal = [b - a for a, b in zip(steal0, cpu_steal())]
        if err:
            fail(err)
        with open(result) as f:
            out = json.load(f)
        attempted, failed, correct = out["attempted"], out["failed"], out["correct"]
        if workload == "batch_curation":
            unconfirmed = oracle_check(run_dir)
            failed = min(attempted, failed + unconfirmed)
            correct = correct and unconfirmed == 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return out, (attempted, failed, correct), steal[0] / max(1, steal[1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    built = build()
    if not SF_DIR or not os.path.isdir(SF_DIR):
        fail(f"test data {SF_DIR} not found (set SPARK_GRAFT_SF_DIR)")
    if built or not os.path.exists(verified_file()):
        # confirm a new build's batch outputs against DuckDB once, as part
        # of set-up, so measured runs only compare digests
        t0 = time.time()
        run_workload("batch_curation", 0, 10, 0)
        print(f"oracle: batch outputs of this build checked ({time.time() - t0:.1f} s)")
    out, (attempted, failed, correct), steal = run_workload(
        args.workload, args.seed, args.seconds, args.trace)

    print(f"note: host = {os.cpu_count()} cpus, {100.0 * steal:.1f}% of cpu time "
          "stolen by the hypervisor during the run")
    for k, v in sorted(out["notes"].items()):
        print(f"note: {k} = {v}")
    detail = out["detail"]
    if args.workload == "cdc_pipeline":
        for name, unit in LATENCY.items():
            print(f"latency: {name} {out['end_to_end'][name]:.6g} {unit}")
        print(f"latency: latency_tail_ms is p{detail['latency_tail_pct']:.1f} "
              f"of n={int(detail['latency_tail_n'])} samples")
    if args.trace:
        # layer figures outside BENCHMARK.json's per_layer set: workload-specific
        # ones, and catalyst.analysis_ms, which reads 0-1 ms on the pipeline
        extra = {k: v for k, v in out["layers"].items() if k not in PER_LAYER}
        for k, v in sorted({**detail, **extra}.items()):
            print(f"detail: {k} {v:.6g} {unit_of_detail(k)}")
    wanted = PER_LAYER if args.trace else END_TO_END
    source = out["layers"] if args.trace else out["end_to_end"]
    metrics = {}
    for name, unit in wanted.items():
        v = source.get(name)
        if v is None or not math.isfinite(v):
            fail(f"metric {name} was not measured")
        metrics[name] = {"value": v, "unit": unit}
        print(f"metric: {name} {v:.6g} {unit}")
    print(f"checks: correct={correct} attempted={attempted} failed={failed} "
          f"failed_ratio={failed / attempted:.4f}")
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
