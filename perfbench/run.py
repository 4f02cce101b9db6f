#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the checkout. The first run builds the library and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Each run then writes its seeded
inputs under .bench_build/, starts one JVM (local[4] Spark, 3 GB heap),
and prints that JVM's result: the last stdout line is one JSON object with
the keys correct, attempted, failed and metrics.

See perfbench/README.md for the workloads and metrics.
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
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["catalog_iterative", "catalog_relational", "qpe_daemon", "llm_ingest"]
HEAP = "3g"
RUN_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import gen  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# inputs per workload; the qpe and llm sizes are read by the harness from
# the generated files, so these are the only place they are set
CATALOG_SF = 0.1
CATALOG_DATA_SEED = 42
QPE_SLOTS, QPE_INTERVAL_S = 3, 4.0
# the one-slot warm-up window needs no room between slots: a short interval
# cuts its waits for the landing schedule
QPE_WARM_SLOTS, QPE_WARM_INTERVAL_S = 1, 1.0
LLM_SEED_DOCS, LLM_BATCHES, LLM_BATCH_DOCS = 500, 3, 60


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (LIB_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark install: $SPARK_HOME, else the one spark-submit belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def build():
    """Compile library + harness unless the sources match the last build."""
    if not os.path.isdir(LIB_SRC):
        fail(f"no library sources at {LIB_SRC}: run from the root of a graft checkout")
    stamp_path = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env["SPARK_HOME"] = spark_home()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_path, "w") as f:
        f.write(stamp)


def make_inputs(workload, seed, trace, data):
    """Seeded inputs for one run; returns their directory. The catalog data
    is fixed (its checksums are committed; the seed picks the query order),
    so it is written once per checkout."""
    if workload.startswith("catalog"):
        cat = os.path.join(BUILD, f"catalog-v{gen.VERSION}-sf{CATALOG_SF}")
        if not os.path.exists(os.path.join(cat, "_done")):
            shutil.rmtree(cat, ignore_errors=True)
            gen.catalog(cat, CATALOG_SF, CATALOG_DATA_SEED)
            open(os.path.join(cat, "_done"), "w").close()
        return cat
    if workload == "qpe_daemon":
        gen.qpe_lut(data)
        # a short warm-up schedule, the timed one, and the traced one
        gen.qpe_slots(os.path.join(data, "warm"), seed * 3, QPE_WARM_SLOTS, QPE_WARM_INTERVAL_S)
        gen.qpe_slots(os.path.join(data, "timed"), seed * 3 + 1, QPE_SLOTS, QPE_INTERVAL_S)
        if trace:
            gen.qpe_slots(os.path.join(data, "traced"), seed * 3 + 2, QPE_SLOTS, QPE_INTERVAL_S)
    else:
        gen.llm(data, seed, LLM_SEED_DOCS, LLM_BATCHES, LLM_BATCH_DOCS)
    return data


def run_jvm(args, data, out):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    jars = os.path.join(spark_home(), "jars", "*")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: no run-to-run variation from heap resizing. Spark's
    # cleaner is off: it drops the blocks of unreachable RDDs and broadcasts
    # whenever a GC happens to find them, which made the storage readings
    # jump from run to run; without it, storage is exactly what the program
    # leaves behind without releasing it
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={out}/warehouse",
           f"-Dderby.system.home={out}", "-Dspark.ui.enabled=false",
           "-Dspark.cleaner.referenceTracking=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", out, "--bench", HERE,
            "--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=out, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL if not os.environ.get("PERFBENCH_VERBOSE") else None,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    os.makedirs(out)
    data = make_inputs(args.workload, args.seed, args.trace, data)
    try:
        code, stdout = run_jvm(args, data, out)
        lines = [ln for ln in stdout.splitlines() if ln.strip()]
        for ln in lines[:-1]:
            print(ln)
        result = json.loads(lines[-1]) if lines else None
        if code != 0 or not isinstance(result, dict) or \
                set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"harness exited {code} without a result")
        print(json.dumps(result))
    finally:
        # keep the spans of a traced run; inputs and outputs go
        spans = os.path.join(out, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
