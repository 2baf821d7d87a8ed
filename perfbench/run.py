#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload insights|curation --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the harness
together with graft's sources (sbt, offline); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, runs the workload in one JVM on local[<cores>], checks every output
without Spark, and prints a summary followed by a last line of JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from spans recorded around every call into graft. Every
run also leaves a full record under .perfbench/runs/ for compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
sys.path.insert(0, HERE)

# questions per insights session, and per curation pass: a run holds at
# least 100, so its p90 has ten samples beyond it
PER_SESSION = {"insights": 50, "curation": 100}
WARMUP_SESSIONS, WARMUP_QUESTIONS = 2, 20
# Timed units per run follow from --seconds alone, never from how fast the
# host happens to be, so every run of a workload measures the same work:
# an insights session takes about 8 s on a 4-core host, a curation pass
# about 20 s. At least two sessions, at least one pass.
UNIT_SECONDS = {"insights": 8, "curation": 20}
MIN_UNITS = {"insights": 2, "curation": 1}
MAX_UNITS = 15
JVM_TIMEOUT_S = 165
HEAP = "4g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("insights_s", "s"), ("nl_p50_ms", "ms"),
              ("nl_p90_ms", "ms"), ("batch_s", "s"), ("shuffle_mb", "MB")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compiles graft's sources and the harness unless the stamp of the
    sources matches the last build."""
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile"], cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(jars, work, trace, ncores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + tmp,
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", os.path.join(work, "manifest.json"),
            os.path.join(work, "report.json"),
            "1" if trace else "0", str(ncores)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"workload did not finish in {JVM_TIMEOUT_S} s; log in {log}", 4)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"workload JVM exited {rc}; log in {log}", 5)
    with open(os.path.join(work, "report.json")) as f:
        return json.load(f)


def percentile(xs, q):
    """Linear-interpolated percentile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(rep):
    med = lambda xs: statistics.median(xs) if xs else 0.0
    return {
        "setup_s": rep["setup_s"],
        "insights_s": med(rep["insights_ms"]) / 1e3,
        "nl_p50_ms": percentile(rep["question_ms"], 0.5),
        "nl_p90_ms": percentile(rep["question_ms"], 0.9),
        "batch_s": med(rep["batch_ms"]) / 1e3,
        "shuffle_mb": med(rep["shuffle_write_bytes"]) / 1e6,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["insights", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no graft sources under {ROOT}; run from a graft checkout")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)
    jars = spark_jars()
    build(jars)

    import gen
    import check
    n = cores()
    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    units = min(MAX_UNITS, max(MIN_UNITS[a.workload],
                               a.seconds // UNIT_SECONDS[a.workload]))
    manifest = gen.make_inputs(a.workload, a.seed, work, units,
                               PER_SESSION[a.workload], WARMUP_SESSIONS,
                               WARMUP_QUESTIONS)
    rep = run_jvm(jars, work, a.trace, n)

    t0 = time.time()
    if a.workload == "insights":
        bad = check.check_insights(manifest, rep)
    else:
        bad = check.check_curation(ROOT, STATE, manifest, rep)
    check_s = time.time() - t0
    attempted = rep["attempted"]
    failed = rep["failed"] + len(bad)
    for e in rep["errors"]:
        print(f"FAILED {e['op']}: {e['error']}", file=sys.stderr)
    for b in bad:
        print(f"WRONG {b}", file=sys.stderr)

    e2e = end_to_end(rep)
    if a.trace:
        layers = rep["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in declared["end_to_end"]}

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": n, "end_to_end": e2e,
              "layers": rep.get("layers"), "self": rep.get("self"),
              "attempted": attempted, "failed": failed,
              "units": len(rep["batch_ms"]), "questions": len(rep["question_ms"]),
              "timed_s": rep["timed_s"], "check_s": check_s,
              "samples": {k: rep[k] for k in ("insights_ms", "question_ms",
                                               "batch_ms", "shuffle_write_bytes")},
              "errors": rep["errors"], "wrong": bad}
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    with open(os.path.join(runs, f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    # inputs and outputs can be large; the report and spans stay
    for d in ("dump", "sf", "shards.parquet", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for f in os.listdir(work):
        if f.endswith(".csv"):
            os.remove(os.path.join(work, f))

    print(f"workload {a.workload}  seed {a.seed}  cores {n}  "
          f"units {record['units']}  questions {record['questions']}  "
          f"timed {rep['timed_s']:.1f} s")
    for k, u in END_TO_END:
        print(f"  {k:<12} {e2e[k]:>12.4f} {u}")
    print(f"  {'error_rate':<12} {failed / max(attempted, 1):>12.4f} ratio "
          f"({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
