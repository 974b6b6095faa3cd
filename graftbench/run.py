#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
and the harness from source with sbt (cached under .bench_build/ and
rebuilt when any source changes). Each run then generates its inputs
from the seed under .bench_runs/, starts one JVM that runs a verified
warm-up round and the timed closed loop, checks every result against
its DuckDB oracle, deletes its run directory and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run traces the middle third of its time and reports the per-layer metrics.
The harness's raw result (every operation's latency, the spans and the
listener totals) of the last run of each workload and mode is kept as
.bench_build/last-<workload>-trace<0|1>.json.
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
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
RUNS = os.path.join(ROOT, ".bench_runs")
CPUS = min(4, os.cpu_count() or 1)  # Spark task threads, at most nproc
HEAP = "2g"
# a run must end within three minutes; the JVM gets most of that
JVM_TIMEOUT_S = 170
# JDK 17 module openings Spark needs outside spark-submit
OPENS = ("java.base/java.lang java.base/java.lang.invoke "
         "java.base/java.lang.reflect java.base/java.io java.base/java.net "
         "java.base/java.nio java.base/java.util java.base/java.util.concurrent "
         "java.base/java.util.concurrent.atomic java.base/sun.nio.ch "
         "java.base/sun.nio.cs java.base/sun.security.action "
         "java.base/sun.util.calendar").split()


def fail(msg: str) -> None:
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest() -> str:
    """Digest of every file the build reads: both build definitions and
    all engine and harness sources."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main",
            "graftbench/build.sbt", "graftbench/project", "graftbench/src"]
    for top in tops:
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            if "target" not in os.path.relpath(d, base).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath() -> str:
    """Build the engine and the harness unless the cached build matches
    the current sources; return the harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources (build.sbt, src/main/scala) in "
             "the parent of this directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_digest, cp = f.read().split("\n", 1)
        cp = cp.strip()
        if cached_digest == digest and all(
                os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if os.pathsep in ln and ".jar" in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + cps[-1])
    return cps[-1]


def setup_inputs(workload: str, seed: int, run_dir: str):
    """Generate the run's inputs; return the plan and the time taken."""
    t0 = time.perf_counter()
    plan = gen.generate(workload, seed, os.path.join(run_dir, "inputs"))
    return plan, time.perf_counter() - t0


def run_jvm(cp: str, plan_path: str, run_dir: str, seconds: int,
            trace: int):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dderby.system.home={run_dir}",
           "-cp", cp, "graftbench.Main", "--plan", plan_path, "--out", out,
           "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(CPUS)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM failed ({code}):\n{tail}")
    with open(result) as f:
        return json.load(f), t0, out


def verify(res: dict, plan: dict, out: str):
    """Check every verified reference result and every point-read answer
    against DuckDB; return the number of failed operations and why."""
    ops = res["warmup_ops"] + res["ops"]
    failed = sum(not o["ok"] for o in ops)
    reasons = list(res["failures"])
    con = oracle.connect(plan["data"])
    queries = gen.queries_of(plan["workload"])
    sql = res["oracle_sql"]
    unchecked = [q for q in queries if q not in sql]
    failed += len(unchecked)
    reasons += [f"{q}: the engine registers no oracle" for q in unchecked]
    for q, why in oracle.check_queries(
            con, os.path.join(out, "verify"),
            {q: sql[q] for q in queries if q in sql}).items():
        if not why:
            continue
        reasons.append(f"{q} differs from its oracle: {why}")
        # every operation that matched a wrong reference is wrong as
        # well; a reference that was never written fails once itself
        # unless its own operation failed already
        failed += (sum(o["ok"] and o["name"] == q for o in ops)
                   or int(not any(o["name"] == q for o in ops)))
    if plan["workload"] == "ingest_serve":
        lookups = plan["lookups"]
        per = plan["lookups_per_batch"]
        try:
            pairs = con.execute(sql["st15_incremental_neardup"]).fetchdf()
        except Exception:  # no st15 oracle, or it fails: checked above
            pairs = None
        for a in res["answers"]:
            if a["answer"] is None:
                continue  # the read itself failed and counted already
            if pairs is None:
                failed += 1
                reasons.append(f"round {a['round']} lookup {a['kind']} "
                               f"{a['key']}: no st15 oracle to check it")
                continue
            want = oracle.expected_answer(
                con, lookups[a["step"] * per + a["k"]], pairs)
            if a["answer"] != want:
                failed += 1
                reasons.append(f"round {a['round']} lookup {a['kind']} "
                               f"{a['key']}: {a['answer']!r} != {want!r}")
    con.close()
    return failed, max(len(ops), failed), reasons


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SHAPE))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds (finally blocks stop the JVM, delete the
    # run directory) instead of dying in place
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan, gen_s = setup_inputs(args.workload, args.seed, run_dir)
        plan_path = os.path.join(run_dir, "inputs", "plan.json")
        res, launched, out = run_jvm(cp, plan_path, run_dir, args.seconds,
                                     args.trace)
        jvm_s = time.time() - launched
        failed, attempted, reasons = verify(res, plan, out)
        print(f"graftbench: inputs {gen_s:.1f}s, jvm {jvm_s:.1f}s, "
              f"verify {time.time() - launched - jvm_s:.1f}s", file=sys.stderr)
        shutil.copyfile(os.path.join(out, "result.json"), os.path.join(
            os.path.dirname(BUILD),
            f"last-{args.workload}-trace{args.trace}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)
    for r in reasons[:20]:
        print(f"FAIL {r}", file=sys.stderr)
    setup_s = gen_s + (res["first_timed_ms"] / 1000.0 - launched)
    if args.trace:
        values = metrics.per_layer(res, plan, attempted, failed, CPUS)
        units = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(res, plan, setup_s)
        units = metrics.END_TO_END
    print(json.dumps({
        "correct": failed == 0 and not reasons,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
