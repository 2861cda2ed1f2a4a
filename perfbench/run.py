#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source into .bench_build/ (sbt, offline); later runs reuse
that build while the sources are unchanged. Each run:

  1. refuses to start while another Spark or benchmark JVM is alive;
  2. writes the seeded inputs (perfbench/inputs.py) under .bench_build/;
  3. runs perfbench/harness/PerfBench.scala in a fresh JVM: a warm-up pass
     that leaves every result for the output check and the workload's
     untimed warm_passes, then closed-loop timed passes (traced and
     untraced passes alternate when --trace 1). The number of timed passes
     is S divided by the workload's nominal pass time in workloads.json, at
     least 3, so the timed part lasts about S seconds on a 4-core host and
     every run measures the same passes, however fast the host;
  4. checks every result against its DuckDB oracle with the project's own
     differential compare, scripts/compare.py;
  5. prints each metric by name and unit, then, as the last line, one JSON
     object {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

The full run record (build time, inputs with row counts and digests,
nproc, loadavg per pass, per-query medians and job counts, failures,
self-time table, tracing overhead) goes to .bench_build/records/, and the
spans of a traced run next to it. The run deadline is counted from the end
of the build, so a cold build (44 s on a 4-core host) never eats into
the measured run.
Exit status: 0 when every output matched its oracle, 1 otherwise, 2 on a
usage error, 3 when the host guard refuses to start.
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

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
DEADLINE_S = 170  # from the end of the build to the result line
COMPARE_TIMEOUT_S = 60
HEAP = "2g"  # fixed size (-Xms = -Xmx), so heap resizing does not move peak RSS
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def live_jvms():
    """PIDs of other JVMs running Spark, the program or this benchmark."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] and any(
                m in cmd for m in ("spark", "graft.", "perfbench.PerfBench")):
            found.append(pid)
    return found


def spark_home():
    """The Spark installation the program is built and run against:
    $SPARK_HOME, else the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME", "")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not os.path.isdir(os.path.join(home, "jars")):
        fail(1, f"no Spark jars under SPARK_HOME={home!r}")
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(home):
    """Compiles program + harness with sbt unless the build is current;
    returns the seconds spent compiling (0 when the build was current)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(1, "no program sources (src/main/scala) in this checkout")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    t0 = time.monotonic()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=home)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~')}/.sbt/repositories",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        f"-Dsbt.global.base={BUILD}/sbt-global"])
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        fail(1, f"build failed (rc={rc}); see {BUILD}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.monotonic() - t0


def check_outputs(input_dir, check_dir, names, timeout):
    """{query: reason} for every result that scripts/compare.py finds
    missing or different from its DuckDB oracle; empty when all match."""
    script = os.path.join(ROOT, "scripts", "compare.py")
    if not os.path.isfile(script):
        fail(1, "no scripts/compare.py in this checkout")
    try:
        p = subprocess.run([sys.executable, script, input_dir, check_dir, ",".join(names)],
                           capture_output=True, text=True, timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        fail(1, f"output check exceeded {timeout:.0f} s")
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[len("FAIL "):].partition(": ")
            bad[name] = why
    if p.returncode != 0 and not bad:
        bad["compare.py"] = f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    return bad


def run_jvm(argv, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(argv, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session, so a signal to this process
            # alone would leave it running
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(1, f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(1, f"harness exceeded the {DEADLINE_S} s deadline; see {log_path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(2, f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]

    others = live_jvms()
    if others:
        fail(3, f"refusing to start: Spark/benchmark JVM(s) alive: {' '.join(others)}")
    home = spark_home()
    build_s = build(home)
    t0 = time.monotonic()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    input_dir, check_dir = os.path.join(work, "input"), os.path.join(work, "check")
    for d in (check_dir, os.path.join(work, "local"), os.path.join(work, "tmp")):
        os.makedirs(d)
    input_info = inputs.write(input_dir, spec["scale_factor"], args.seed)

    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    out = os.path.join(work, "harness.json")
    spans = os.path.join(records, f"{tag}.spans.json")
    nproc = len(os.sched_getaffinity(0))
    argv = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", f"{CLASSES}:{home}/jars/*", "perfbench.PerfBench",
               "--queries", ",".join(wl["queries"]),
               "--graph", ",".join(spec["graph_queries"]),
               "--input", input_dir, "--check", check_dir,
               "--local", os.path.join(work, "local"), "--out", out, "--spans", spans,
               "--warm", str(wl["warm_passes"]),
               "--passes", str(max(3, round(args.seconds / wl["nominal_pass_s"]))),
               "--trace", str(args.trace),
               "--cores", str(nproc)])
    rc = run_jvm(argv, os.path.join(records, f"{tag}.log"), DEADLINE_S - (time.monotonic() - t0))
    if rc != 0 or not os.path.exists(out):
        fail(1, f"harness failed (rc={rc}); see {records}/{tag}.log")
    with open(out) as f:
        rec = json.load(f)

    bad = check_outputs(input_dir, check_dir, wl["queries"],
                        min(COMPARE_TIMEOUT_S, DEADLINE_S - (time.monotonic() - t0)))
    attempted = rec["executions"]
    failed = len(bad) + rec["thrown"]
    values = dict(rec["layers"], **{"trace.overhead_ms": rec["trace_overhead_s"] * 1000}) \
        if args.trace else rec
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in bench["per_layer" if args.trace else "end_to_end"]}

    rec.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
               trace=args.trace, nproc=nproc, inputs=input_info,
               oracle_mismatches=bad, attempted=attempted, failed=failed,
               failed_frac=failed / attempted, build_s=build_s,
               wall_s=time.monotonic() - t0)
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    for n, why in sorted(bad.items()):
        print(f"MISMATCH {n}: {why}")
    for k, m in metrics.items():
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_frac {failed / attempted:.6g} ratio "
          f"({rec['query_samples']} timed executions; p50 and tail = median and "
          f"largest of the per-query medians)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
