"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It compiles the program and the
benchmark's Scala sources with the Scala compiler that ships with Spark
(once per source change, into perfbench/_build), generates the
workload's inputs from the seed, runs one JVM with Spark in local mode
on every core, checks the outputs and prints one JSON result line last.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["nightly", "dashboard"]

# Input sizes, fixed per workload (the seed changes content, not size).
# Every night re-reads the whole history to keep one day. Longer
# histories did not make that re-read resolvable in op_cpu_ms (README,
# "Predictions"), so the history is as short as a clear ratio allows.
# Every measured night closes the same pending day.
NIGHT_HISTORY_DAYS, NIGHT_PENDING_DAYS, NIGHT_LINES_PER_DAY = 14, 1, 600
DASH_DAYS, DASH_HITS_PER_DAY = 60, 400
CURATION_DOCS, CURATION_FILES = 2000, 4

HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Scala compiler among the Spark jars in " + jars)
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("program sources not found at src/main/scala; run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compile program + benchmark into _build/classes unless the source
    hash matches the last build."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", cp, "-d", tmp] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print("[perfbench] built in %.1fs" % (time.time() - t0), file=sys.stderr)
    return classes


def make_inputs(workload, seed, trace, d):
    """Generate the workload's inputs under `d`."""
    if workload == "nightly":
        days = gen.access_logs(seed, os.path.join(d, "all"), NIGHT_HISTORY_DAYS + NIGHT_PENDING_DAYS,
                               NIGHT_LINES_PER_DAY)
        for k, (day, path, _) in enumerate(days):
            dest = os.path.join(d, "logs" if k < NIGHT_HISTORY_DAYS else "pending", "%04d" % day.year)
            os.makedirs(dest, exist_ok=True)
            os.rename(path, os.path.join(dest, os.path.basename(path)))
        return
    if workload == "dashboard":
        gen.fact_history(seed, os.path.join(d, "facts"), DASH_DAYS, DASH_HITS_PER_DAY)
        os.makedirs(os.path.join(d, "meta"))
        gen.metadata(seed, os.path.join(d, "meta", "items.jsonl"))
        gen.tree_file(os.path.join(d, "meta", "subject_tree.jsonl"))
        if trace:
            # the curation probe's corpus, used by traced runs only
            gen.corpus(seed, os.path.join(d, "corpus"), CURATION_DOCS, CURATION_FILES)


def run_jvm(jars, classes, workload, seed, seconds, trace, inputs, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"), os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ["java", "-Xmx" + HEAP, "-Xss8m", "-Djava.io.tmpdir=" + tmp] + opens + [
        "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--in", inputs, "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    with open(log) as lf:
        text = lf.read()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(text[-6000:])
        fail("benchmark JVM exited with %s" % rc)
    sys.stderr.write("".join(l for l in text.splitlines(True) if l.startswith("[perfbench]")))
    with open(out) as f:
        return json.load(f)


def end_to_end(res):
    ops = [o for o in res["ops"] if o["ok"]] or res["ops"]
    # median over the run's cycles of the mean op CPU in a cycle
    n = int(res["cycle"])
    cycles = [ops[k:k + n] for k in range(0, len(ops) - n + 1, n)] or [ops]
    return {
        "setup_s": {"value": statistics.median(res["setup_cpu_s"]), "unit": "s"},
        "op_cpu_ms": {"value": statistics.median(statistics.mean(o["cpu_ms"] for o in c) for c in cycles),
                      "unit": "ms"},
        "retained_heap_mb": {"value": res["retained_heap_mb"], "unit": "MiB"},
    }


def per_layer(res, bench):
    layers = res.get("layers", {})
    out = {}
    for m in bench["per_layer"]:
        if m["name"] not in layers:
            fail("traced run did not report " + m["name"])
        out[m["name"]] = {"value": layers[m["name"]], "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(bench_file) as f:
        bench = json.load(f)
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(HERE, "_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    os.makedirs(inputs)
    try:
        t0 = time.time()
        make_inputs(a.workload, a.seed, a.trace, inputs)
        print("[perfbench] inputs generated in %.1fs" % (time.time() - t0), file=sys.stderr)
        res = run_jvm(jars, classes, a.workload, a.seed, a.seconds, a.trace, inputs, work)
        checks = list(res["checks"]) + check.run(a.workload, inputs, work)
        failed_checks = [c for c in checks if not c["ok"]]
        for c in failed_checks:
            print("[perfbench] check failed: %s %s" % (c["name"], c["detail"]), file=sys.stderr)
        all_ops = res["ops"] + res["traced_ops"]
        attempted = len(all_ops)
        failed = min(attempted, sum(1 for o in all_ops if not o["ok"]) + len(failed_checks))
        print(json.dumps({"host": res["host"], "session_confs": res["session_confs"],
                          "setup_wall_s": res["setup_s"], "setup_cpu_s": res["setup_cpu_s"],
                          "op_wall_p50_ms": statistics.median(o["ms"] for o in res["ops"]),
                          "peak_rss_mb": res["rss_mb"],
                          "ops": len(res["ops"]),
                          "traced_ops": len(res["traced_ops"]), "checks": len(checks)}))
        metrics = per_layer(res, bench) if a.trace else end_to_end(res)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
