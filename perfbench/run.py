#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark's
JVM program from source (once per source state), generates the workload's
input tables from the seed, runs the JVM program, checks the outputs, and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans with their self times are written to
perfbench/.work/trace/<workload>-seed<n>.json. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import fixtures  # noqa: E402

WORK = os.path.join(HERE, ".work")
ENGINE_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft",
                             "SparkEntry.scala")
# Input scale of each workload's seeded tables (stream_join generates its
# events itself; its tables only serve the set-up warm-up query).
WORKLOADS = {"batch": 0.02, "stream_join": 0.001}
RUN_LIMIT_S = 175
JVM_FLAGS = [
    "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-Djava.awt.headless=true",
    "-Dspark.ui.enabled=false",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group, output to `log_path`. The group
    is killed on timeout, and when this process is signalled. Returns the
    exit code, or None on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"stopped by signal {signum}", 128 + signum)
        old = {sig: signal.signal(sig, stop) for sig in
               (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            for sig, handler in old.items():
                signal.signal(sig, handler)


def build():
    """Compile engine + PerfMain with sbt unless this source state is built;
    returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "source.sha256")
    fp = source_fingerprint()
    if (os.path.exists(cp_file) and os.path.exists(stamp)
            and open(stamp).read() == fp):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Xmx3g"] + opts)
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "writeClasspath"], HERE, log_path, 850, env)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (see {log_path})", 3)
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def data_dir(seed, sf):
    """Seeded input tables; only the current seed's sets are kept."""
    base = os.path.join(WORK, "data")
    name = f"seed{seed}-sf{sf}"
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):
        if not old.startswith(f"seed{seed}-"):
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    path = os.path.join(base, name)
    fixtures.write(path, seed, sf)
    return path


def run_jvm(classpath, args, run_dir, deadline):
    log_path = os.path.join(run_dir, "jvm.log")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + JVM_FLAGS + ["-cp", classpath, "graft.perfbench.PerfMain"]
           + [str(a) for a in args])
    rc = run_child(cmd, run_dir, log_path, deadline - time.time())
    if rc is None:
        die(f"the JVM run exceeded its time limit (see {log_path})", 4)
    if rc != 0:
        kept = os.path.join(WORK, "failed-jvm.log")
        shutil.copy(log_path, kept)
        errors = [ln for ln in open(log_path, errors="replace")
                  if "Exception" in ln or "Error" in ln][:5]
        die(f"the JVM run exited {rc} (log kept at {kept}):\n"
            + "".join(errors), 5)
    with open(os.path.join(run_dir, "record.json")) as f:
        return json.load(f)


def check_batch(record, data):
    """Every timed count against the row count of the row's oracle on the
    same input tables, and the full result of each row the verify pass
    dumped against the oracle's. Each timed execution and each dumped row
    is one operation. Returns (attempted, failed, reasons)."""
    import oracle  # uses tools/oracle_check.py, so only in a checkout
    bad = {}
    for f in record["failures"]:
        bad.setdefault(f["name"], f"threw in pass {f['pass']}: {f['error']}")
    failed = len(record["failures"])
    with open(os.path.join(record["verify_dir"], "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = oracle.connect(data)
    for name in record["rows"]:
        sql = oracle_sql.get(name)
        if sql is None:
            why, want = "no oracle to check against", None
        elif name in record["dumped"]:
            why, want = oracle.check(con, name, record["verify_dir"], sql)
        else:
            why, want = None, oracle.count(con, sql)
        wrong = [c for c in record["counts"].get(name, []) if c != want]
        if why:
            failed += 1
            bad.setdefault(name, why)
        elif wrong:
            failed += len(wrong)
            bad.setdefault(name, f"timed count {sorted(set(wrong))} != {want}")
    con.close()
    attempted = (sum(len(c) for c in record["counts"].values())
                 + len(record["failures"]) + len(record["dumped"]))
    return attempted, failed, bad


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t0 = time.time()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}", 2)
    if not os.path.exists(ENGINE_MARKER):
        die(f"engine sources not found ({ENGINE_MARKER}); run from the "
            "root of a checkout of the repository", 2)
    classpath = build()
    t_run = time.time()
    data = data_dir(a.seed, WORKLOADS[a.workload])
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_jvm = time.time()
    record = run_jvm(classpath, [a.workload, a.seed, a.seconds, a.trace,
                                 data, run_dir],
                     run_dir, t_run + RUN_LIMIT_S - 10)
    t_check = time.time()
    if a.workload == "stream_join":
        attempted, failed, bad = analysis.stream_check(record)
    else:
        attempted, failed, bad = check_batch(record, data)
    for name, why in sorted(bad.items()):
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    if a.trace:
        metrics = analysis.per_layer(record)
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        out = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(out, "w") as f:
            json.dump(analysis.trace_dump(record), f)
        print(f"perfbench: spans written to {out}", file=sys.stderr)
    else:
        metrics = analysis.end_to_end(record)
    shutil.copy(os.path.join(run_dir, "record.json"),
                os.path.join(WORK, f"last-record-{a.workload}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: {a.workload} seed {a.seed}: build "
          f"{t_run - t0:.1f} s, inputs {t_jvm - t_run:.1f} s, JVM "
          f"{t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s",
          file=sys.stderr)
    print(json.dumps(analysis.result(not bad and failed == 0, attempted,
                                     failed, metrics)))


if __name__ == "__main__":
    main()
