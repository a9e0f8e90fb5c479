#!/usr/bin/env python3
"""Benchmark runner for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the harness together
with graft's sources (sbt, offline) into perfbench/target; later runs reuse
the build while no source changed. Each run starts one harness JVM
(perfbench.Main: set-up, a cold pass, warm passes for --seconds, a third of
them traced with --trace 1), prints every metric as
`metric <name> <value> <unit>`, and last the result line
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics of
BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).

--smoke runs every workload once at sf0.001 (one cold, one warm and one
traced pass) and checks that every metric prints with its unit and that no
op failed.

Everything the run writes stays under perfbench/.work and perfbench/target.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURES = {"sf0.01": os.path.join(HERE, "fixtures", "sf0.01"),
            "sf0.001": os.path.join(HERE, "fixtures", "sf0.001")}
GOLDEN = os.path.join(HERE, "golden.json")
WORKLOADS = ["etl_relational", "stream_recrawl"]
DEADLINE_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the graft build sets
# the same list for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [GRAFT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars graft builds against."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def build(deadline):
    """Compile graft and the harness unless the last build saw the same
    sources; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=max(10, deadline - time.time()))
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def java_cmd(cp, extra):
    tmp = os.path.join(WORK, "tmp")
    return (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
            ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
             "-cp", cp, "perfbench.Main", "--work", WORK] + extra)


def jvm(cp, extra, deadline, log_name):
    """Runs one harness JVM to completion; returns its stdout lines."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    err_path = os.path.join(WORK, "logs", log_name + ".err")
    with open(err_path, "w") as err:
        # Spark prefers these variables over spark.local.dir; unset, all
        # scratch space stays under the checkout
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        p = subprocess.Popen(java_cmd(cp, extra), cwd=WORK, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness JVM ran past the deadline; see {err_path}", 4)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0:
        with open(err_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM exited {p.returncode}; see {err_path}\n{tail}", 5)
    return out.splitlines()


def run_once(cp, workload, seed, seconds, trace, fixtures, deadline):
    out = jvm(cp, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(trace), "--fixtures", fixtures, "--golden", GOLDEN],
              deadline, f"run-{workload}-{seed}-{trace}")
    res = [l for l in out if l.startswith("PERFBENCH ")]
    if not res:
        fail("harness printed no result")
    for l in out:
        if l.startswith("[perfbench]"):
            print(l)
    result = json.loads(res[-1][len("PERFBENCH "):])
    for name, v in result["metrics"].items():
        print(f"metric {name} {v['value']:.6f} {v['unit']}")
    return result


# Every metric the benchmark's design names, including the ones that only
# some workloads exercise (printed by every traced run, not in the result
# line): the smoke check asserts each of them prints with its unit.
NAMED_METRICS = [
    "setup_s", "cold_pass_s", "warm_pass_s", "op_p50_s", "op_p90_s", "fail_frac",
    "peak_rss_mb", "ingest_rows_per_s", "batch_p50_ms", "batch_p90_ms",
    "session.build_s", "session.pins_effective", "tables.bytes_read", "tables.rows_read",
    "catalyst.plans", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.task_run_s", "sched.task_cpu_s", "sched.launch_overhead_s", "sched.busy_frac",
    "sched.driver_only_s", "sched.empty_task_frac", "sched.tasks_failed",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "shuffle.skew", "gc.s", "gc.count", "mem.peak_exec_mb", "etl.parse_clean_s", "etl.stats_s",
    "etl.kept_frac", "sinks.jdbc_write_s", "sinks.readback_s", "sinks.rows_written",
    "sinks.bytes_written", "stream.batches", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.wal_commit_ms", "stream.state_rows", "stream.state_commit_ms", "stream.batch_growth",
    "store.bytes_written", "store.files_written", "store.write_amp", "trace.overhead_s"]


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    # on SIGTERM, unwind so that the harness JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}; run from a full checkout")
    for d in FIXTURES.values():
        if not os.path.isdir(d):
            fail(f"fixture tables missing: {d}")
    if not a.smoke and a.workload not in WORKLOADS:
        fail(f"--workload must be one of {WORKLOADS}")
    os.makedirs(WORK, exist_ok=True)
    cp = build(time.time() + 840)
    deadline = max(deadline, time.time() + 150)
    spec = contract()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]

    if a.smoke:
        bad = []
        for w in WORKLOADS:
            r = run_once(cp, w, a.seed, 0, 1, FIXTURES["sf0.001"], time.time() + 170)
            m = r["metrics"]
            missing = [n for n in e2e + layers + NAMED_METRICS if n not in m or not m[n]["unit"]]
            if missing:
                bad.append(f"{w}: missing {missing}")
            if m["fail_frac"]["value"] != 0 or r["failed"]:
                bad.append(f"{w}: fail_frac {m['fail_frac']['value']}")
        print(f"[perfbench] smoke: {'FAIL ' + '; '.join(bad) if bad else 'ok'}")
        sys.exit(1 if bad else 0)

    r = run_once(cp, a.workload, a.seed, a.seconds, a.trace, FIXTURES["sf0.01"], deadline)
    names = layers if a.trace else e2e
    m = r["metrics"]
    missing = [n for n in names if n not in m]
    if missing:
        fail(f"metrics missing from the harness output: {missing}")
    print(json.dumps({"correct": bool(r["correct"]), "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": {n: m[n] for n in names}}))


if __name__ == "__main__":
    main()
