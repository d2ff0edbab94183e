#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one `local[4]` process.

    python3 perfbench/run.py --workload retail_cli --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (`perfbench/harness`, an sbt build layered on the root build) and
caches the classpath under `.bench_build/`; later runs rebuild only when a
source file changed. Each run gets a private state dir (java.io.tmpdir and
spark.local.dir) under `.bench_build/runs/`, removed at the end.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A human-readable report precedes it. See
perfbench/README.md for the workloads and metrics.
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
sys.path.insert(0, HERE)

import digest  # noqa: E402
import retail_gen  # noqa: E402
from stats import median, quartiles  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
EXPECTED = os.path.join(HERE, "expected", "lanes.json")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

WORKLOADS = ("retail_cli", "eager_lanes")
SETUP_PROBES = 1          # extra set-up-only processes; setup_s is the median
RUN_LIMIT_S = 170         # a run that has not finished by then is killed
HEAP = "3g"

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "cpu_s": "CPU-s",
              "peak_rss_mb": "MB", "state_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "operators.build_s": "s", "operators.eager_jobs": "count",
    "operators.eager_task_cpu_s": "CPU-s",
    "catalyst.plan_s": "s", "catalyst.queries": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "CPU-s", "exec.task_run_s": "s", "exec.cpu_util": "ratio",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_s": "s",
    "driver.cpu_s": "CPU-s",
    "streaming.drive_s": "s", "streaming.batches": "count",
    "streaming.no_data_batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.outside_batch_s": "s", "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms", "streaming.state_mem_mb": "MB",
    "retail.load_s": "s", "retail.csv_scans": "ratio",
    "clustering.fit_s": "s", "clustering.iters": "count", "clustering.fit_jobs": "count",
    "clustering.report_s": "s", "clustering.predict_s": "s",
    "charts.render_s": "s",
    "staging.first_pass_mb": "MB", "staging.first_pass_files": "count",
    "staging.bytes_written_mb": "MB", "staging.files_written": "count",
    "staging.files_removed": "count",
    "cache.mem_mb": "MB", "cache.rdds": "count",
    "self.exec_s": "s", "self.streaming_s": "s", "self.catalyst_s": "s",
    "self.driver_s": "s", "self.harness_s": "s", "trace.pass_s": "s",
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """sha1 over every file the build reads."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    project = os.path.join(ROOT, "project")
    files += [os.path.join(project, f) for f in os.listdir(project)
              if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha1()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) and return the runtime
    classpath, cached by source fingerprint."""
    os.makedirs(BUILD, exist_ok=True)
    cache = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("fingerprint") == fp and all(os.path.exists(p) for p in c["classpath"]):
            return c["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "harness/compile",
                            "export harness/Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=850)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        raise RuntimeError(f"sbt build failed (exit {p.returncode}); see {BUILD}/build.log")
    cp = lines[-1].strip().split(os.pathsep)
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def java_cmd(classpath, state, args):
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args)


def run_jvm(cmd, log_path, deadline):
    """Run one harness process; return (launch time, peak RSS MB)."""
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_LOCAL_DIRS" and not k.startswith("SPARK_GRAFT")}
    with open(log_path, "a") as out:
        t0 = time.time()
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=ROOT)
        try:
            while True:
                pid, status, ru = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    break
                if time.time() > deadline:
                    raise RuntimeError(f"harness exceeded the run time limit; see {log_path}")
                time.sleep(0.05)
        except BaseException:
            p.kill()
            os.wait4(p.pid, 0)
            raise
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        raise RuntimeError(f"harness exited {p.returncode}; see {log_path}")
    return t0, ru.ru_maxrss / 1024.0


def dir_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            fp = os.path.join(d, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total / 1e6


def check_lanes(check_dir, ok_runs, lanes):
    """Compare each lane's output with its stored expectation; return the
    number of op executions whose output differs, and the reasons."""
    import duckdb
    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckdb.connect()
    bad_runs, reasons = 0, []
    for lane in lanes:
        exp = expected.get(lane)
        try:
            got = digest.summary(*digest.read_parquet_dir(con, os.path.join(check_dir, lane)))
        except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
            got, why = None, f"output unreadable: {e}"
        if got is not None:
            if exp is None:
                why = "no stored expectation"
            elif exp["oracle"] and got["digest"] != exp["digest"]:
                why = f"digest {got['digest'][:12]} != expected {exp['digest'][:12]}"
            elif got["rows"] != exp["rows"] or got["schema"] != exp["schema"]:
                why = f"rows/schema {got['rows']} {got['schema']} != {exp['rows']} {exp['schema']}"
            else:
                continue
        bad_runs += ok_runs.get(lane, 0)
        reasons.append(f"{lane}: {why}")
    return bad_runs, reasons


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log(f"no engine sources under {ROOT}; run from a checkout of the repository")
        return 2
    if a.workload != "retail_cli" and not os.path.isdir(SF_DIR):
        log(f"test data {SF_DIR} not found (set PERFBENCH_SF_DIR)")
        return 2
    started = time.time()
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S

    run = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    state, inputs, check_dir = (os.path.join(run, d) for d in ("state", "input", "check"))
    for d in (state, inputs):
        os.makedirs(d)
    jvm_log = os.path.join(run, "jvm.log")
    try:
        setups = []
        for i in range(0 if a.trace else SETUP_PROBES):
            probe_state = os.path.join(run, f"probe{i}")
            out = os.path.join(run, f"probe{i}.json")
            t0, _ = run_jvm(java_cmd(classpath, probe_state,
                                     ["--workload", "setup", "--out", out, "--state", probe_state]),
                            jvm_log, deadline)
            with open(out) as f:
                setups.append(json.load(f)["ready_ms"] / 1e3 - t0)
            shutil.rmtree(probe_state, ignore_errors=True)

        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--sf", SF_DIR, "--state", state,
                "--out", os.path.join(run, "result.json"), "--check-dir", check_dir]
        if a.workload == "retail_cli":
            csv = os.path.join(inputs, "retail.csv")
            truth = retail_gen.generate(csv, a.seed)
            args += ["--csv", csv, "--truth-customers", str(truth["customers"]),
                     "--truth-frequency", repr(truth["sum_frequency"]),
                     "--truth-monetary", repr(truth["sum_monetary"])]
        t0, rss = run_jvm(java_cmd(classpath, state, args), jvm_log, deadline)
        with open(os.path.join(run, "result.json")) as f:
            res = json.load(f)
        setups.append(res["ready_ms"] / 1e3 - t0)
        state_mb = dir_mb(state)

        failed = res["failed_ops"]
        reasons = list(res["errors"])
        if a.workload != "retail_cli":
            bad, why = check_lanes(check_dir, res["ok_runs"], res["checks"]["lanes"])
            failed += bad
            reasons += why
        attempted = res["attempted"]
        walls = [p["wall_s"] for p in res["passes"]]
        q1, q2, q3 = quartiles(walls)
        e2e = {
            "setup_s": median(setups),
            "first_pass_s": res["first_pass_s"],
            "pass_s": q2,
            "cpu_s": median([p["cpu_s"] for p in res["passes"]]),
            "peak_rss_mb": rss,
            "state_mb": state_mb,
        }
        for r in reasons:
            log(r)
        print(f"workload={a.workload} seed={a.seed} timed_passes={len(walls)} "
              f"pass_s_q1={q1:.4f} pass_s_q3={q3:.4f} run_s={time.time() - started:.1f}")
        for k, v in e2e.items():
            print(f"{k} = {v:.4f} {END_TO_END[k]}")
        print(f"fail_ratio = {failed / attempted:.4f} ratio ({failed}/{attempted})")
        if a.trace:
            layers = dict(res["layers"], **{"session.start_s": setups[-1]})
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            for lane in res["lanes"]:
                print("lane " + json.dumps(lane))
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.json"), "w") as f:
                json.dump(res, f, indent=1)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    except Exception:
        if os.path.exists(jvm_log):
            shutil.copy(jvm_log, os.path.join(BUILD, "failed-run.log"))
        raise
    finally:
        if os.path.exists(os.path.join(run, "result.json")):
            shutil.copy(os.path.join(run, "result.json"), os.path.join(BUILD, "last-result.json"))
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops and reaps its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001 - report and exit non-zero without a result
        log(f"error: {e}")
        sys.exit(1)
