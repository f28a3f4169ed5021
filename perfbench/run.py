#!/usr/bin/env python3
"""The repo benchmark: cold and warm latency of the engine's workloads.

    python3 perfbench/run.py --workload premarket --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One run:
  1. builds the engine plus the harness (sbt, offline) unless the build
     stamp matches the sources;
  2. generates the input tables from `--seed` (untimed, never in a metric);
  3. runs one JVM, a closed loop with one client and one op at a time on
     `local[N]`, N = min(4, nproc): a cold pass, then warm passes for
     `--seconds`; every op writes its output;
  4. checks every op's output against its DuckDB oracle;
  5. prints each metric by name with its unit, then one JSON line.

`--trace 1` attaches the listeners of `Trace.scala`, records spans down
to stages, and reports the per-layer metrics instead. `--self-test`
damages one parquet output before the check, which must then fail.
Exit status: 0 when every op ran and matched its oracle, 1 when any
failed, 2 on a usage or set-up error.
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

import gen  # noqa: E402
import oracle  # noqa: E402
import spans as derive  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_DIR = os.path.join(ROOT, ".bench_run")

SCALE = 0.01        # scale factor of the generated tables
CORES = min(4, os.cpu_count() or 1)
HEAP = "1g"          # spark-submit's default driver memory
JVM_TIMEOUT = 165   # leaves room for generation and checks in 180 s
# Each workload: its ops in pass order as (registered query, written
# through the CSV sink), and whether a traced run also times the pipeline
# operators one by one.
WORKLOADS = {
    # the paper's daily run: the flagship pipeline through its CSV sink,
    # the validator gate over it and the structured-log reason codes
    "premarket": {"ops": [("e1_pipeline", True), ("e2_validate_pipeline", False),
                          ("k6_reason_codes", False)],
                  "operators": True},
    # executor-bound curation: containment dedup (inverted index, fan-out,
    # staging), text quality scoring, and an embedding screen against a
    # standing binary index (native cosine kernel)
    "curation": {"ops": [("dedup_containment", False), ("ta_quality", False),
                         ("e8_ingest_screen", False)],
                 "operators": False},
}
ALL_OPS = [name for w in WORKLOADS.values() for name, _ in w["ops"]]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail_setup(msg):
    log(msg)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail_setup("no Spark distribution: set SPARK_HOME")
    return home


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.path.basename(d) == "target" or f"{os.sep}target{os.sep}" in d + os.sep:
                continue
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(env):
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building engine + harness with sbt")
    sbt_env = dict(env, COURSIER_MODE="offline")
    offline = "-Dsbt.offline=true"
    if offline not in sbt_env.get("SBT_OPTS", ""):
        sbt_env["SBT_OPTS"] = (sbt_env.get("SBT_OPTS", "") + " " + offline).strip()
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=sbt_env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        log(proc.stdout[-3000:])
        fail_setup("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def harness(env, args, run):
    """Run the harness JVM in `run` to completion. Its `java.io.tmpdir` is
    `run/tmp`; its output goes to `run/run.log`."""
    tmp, log_path = os.path.join(run, "tmp"), os.path.join(run, "run.log")
    os.makedirs(tmp)
    cp = os.pathsep.join([CLASSES, os.path.join(env["SPARK_HOME"], "jars", "*")])
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    launch_ms = int(time.time() * 1000)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "graft.perfbench.Harness", "--cores", str(CORES),
            "--launch-ms", str(launch_ms)] + args
    with open(log_path, "w") as log_file:
        proc = subprocess.Popen(cmd, cwd=run, env=env,
                                stdout=log_file, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            fail_setup(f"harness JVM timed out; see {log_path}")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            log(f.read()[-3000:])
        fail_setup(f"harness JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="damage one output before the oracle check")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail_setup(f"engine sources not found under {ENGINE_SRC}; "
                   "run from the root of a checkout")

    env = dict(os.environ, SPARK_HOME=spark_home())
    env.pop("SPARK_LOCAL_DIRS", None)  # Spark scratch stays in the run's tmp
    build(env)

    run = os.path.join(RUN_DIR, a.workload)
    shutil.rmtree(run, ignore_errors=True)
    data, out = os.path.join(run, "data"), os.path.join(run, "out")
    os.makedirs(out)
    tables = gen.generate(data, a.seed, SCALE)
    workload = WORKLOADS[a.workload]
    ops = workload["ops"]

    harness(env, [
        "--ops", ",".join(n + (":csv" if csv else "") for n, csv in ops),
        "--operators", "1" if workload["operators"] else "0",
        "--data", data, "--out", out,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--min-warm", "4" if a.trace else "1"], run)

    if a.self_test:
        oracle.corrupt(os.path.join(out, "outputs"), next(n for n, csv in ops if not csv))
    checked = oracle.check(os.path.join(out, "outputs"), data, ops)
    recs = derive.load(os.path.join(out, "spans.jsonl"))
    errors = derive.op_errors(recs)
    for op, why in checked.items():
        if why:
            log(f"MISMATCH {op}: {why}")
    for op_id, why in errors:
        log(f"THREW {op_id}: {why}")
    attempted = derive.ops_attempted(recs)
    failed = len(errors) + sum(1 for why in checked.values() if why)

    if a.trace:
        metrics = derive.per_layer(recs, ALL_OPS, csv_ops=[n for n, c in ops if c])
    else:
        metrics = derive.end_to_end(recs)
    log(f"workload={a.workload} seed={a.seed} local[{CORES}] sf={SCALE} "
        f"warm_passes={derive.warm_passes(recs)} "
        f"tables={json.dumps(tables, separators=(',', ':'))}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"fail_ratio = {failed / attempted:.6g} ({failed} of {attempted} ops)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
