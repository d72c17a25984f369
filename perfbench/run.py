#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
(perfbench/build.sh) into $CARGO_TARGET_DIR (default .bench_build) when
their sources changed, writes the workload's inputs from the seed,
runs the harness JVM, checks every call's output against its DuckDB
oracle, and prints as its last line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The full record
of the run (samples, per-call counts, spans, host stamps) is written to
<build>/perfbench/runs/. See perfbench/README.md.
"""
import argparse
import glob
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
sys.dont_write_bytecode = True

import workloads  # noqa: E402

JVM_TIMEOUT_S = 165
CORES = 4
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def calibrate() -> float:
    """Seconds of a fixed single-thread integer loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def host_stamp() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "calibration_s": calibrate(), "time": time.time()}


def sources_digest() -> str:
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/scala", "perfbench/build.sh"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars() -> str:
    """jars/ of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


def build(work: str, jars: str) -> str:
    classes = os.path.join(work, "classes")
    stamp = os.path.join(work, "classes.sha256")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, jars],
                       stdout=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_jvm(classes: str, jars: str, args: list) -> None:
    cmd = ["java"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # Spark's scratch space stays inside the checkout
    tmp = os.path.abspath(os.path.join(os.path.dirname(classes), "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: no resizing between runs, a quarter of the GC pauses
    cmd += ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Harness"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = open(os.path.join(os.path.dirname(classes), "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         start_new_session=True)
    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"harness exceeded {JVM_TIMEOUT_S}s")
    finally:
        log.close()
    if rc != 0:
        fail(f"harness exited with {rc}; see {log.name}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        fail("run from the root of a checkout of the repository")
    import gen
    import oracle
    import pyarrow.parquet as pq
    import report

    wl = workloads.WORKLOADS[a.workload]
    work = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(work, exist_ok=True)
    jars = spark_jars()
    classes = build(work, jars)

    before = host_stamp()
    t0 = time.perf_counter()
    input_dir = os.path.join(work, "inputs", f"{wl.input_kind}-{a.seed}")
    if not os.path.isdir(input_dir):
        gen.generate(workloads.DATA, input_dir, a.seed, wl.input_kind == "docs")
    dump = os.path.join(work, "dump")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    t1 = time.perf_counter()
    out = os.path.join(work, "harness.json")
    if os.path.exists(out):
        os.remove(out)
    # a fixed number of passes, the number that fits in --seconds on the
    # reference host: a time-boxed loop would stop earlier in the JIT
    # warm-up on a slower host and so move the medians with host speed.
    # A traced run alternates untraced and traced passes and makes an odd
    # number of them, so that each traced pass has an untraced one on
    # either side.
    passes = max(3 if a.trace else 2, int(a.seconds / wl.pass_s))
    if a.trace and passes % 2 == 0:
        passes -= 1
    run_jvm(classes, jars, [
        "--calls", ",".join(n for n, _ in wl.calls),
        "--input", input_dir, "--passes", str(passes),
        "--trace", str(a.trace), "--tables", ",".join(wl.tables),
        "--src", "src/main/scala/graft", "--dump", dump, "--out", out,
        "--cores", str(CORES)])
    h = json.load(open(out))
    t2 = time.perf_counter()

    # output check, untimed: every call against its oracle
    # and every execution's row count against the oracle's
    sqls = h["oracle_sql"]
    mismatch, expected_rows = {}, {}
    for n, _ in wl.calls:
        if n not in sqls:
            mismatch[n] = "no oracle SQL"
            continue
        cache = os.path.join(work, "oracle", f"{wl.input_kind}-{a.seed}", n + ".pkl")
        try:
            want = oracle.expected(input_dir, sqls[n], cache)
            expected_rows[n] = len(want)
            why = oracle.check(os.path.join(dump, n + ".parquet"), want)
        except Exception as e:  # a failing oracle run is a failed check
            why = f"{type(e).__name__}: {e}".splitlines()[0]
        if why:
            mismatch[n] = why
    t3 = time.perf_counter()
    after = host_stamp()

    rows = sum(pq.read_metadata(f).num_rows for t in wl.tables
               for f in glob.glob(os.path.join(input_dir, f"{t}.parquet", "*.parquet")))
    rec = report.summarize(h, wl, rows, mismatch, expected_rows, a.trace == 1, CORES)
    rec.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "host_before": before, "host_after": after,
                "phase_s": {"generate": t1 - t0, "harness": t2 - t1, "check": t3 - t2}})
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    for line in report.lines(rec):
        print(line)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()
