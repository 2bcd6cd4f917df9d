#!/usr/bin/env python3
"""Benchmark runner: builds the engine from source, generates a
workload's inputs from the seed, runs the JVM harness
(perfbench/scala) at local[nproc], checks the outputs and prints the
metrics.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of stdout is the result
object {"correct", "attempted", "failed", "metrics"}; the lines before
it are a human-readable summary. The full record (fingerprint, load
average before and after, samples, failures with their reasons, spans)
goes to .bench_out/. Records whose fingerprints differ (nproc, heap,
JDK, Spark, CPU model) are not comparable.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("rag_serve", "catalog")
# fixed input sizes (the seed changes content, never size)
SERVE_DOCS = 5000
SERVE_QUESTIONS = 5000
SERVE_WARMUP_QUESTIONS = 35
CATALOG_SF = 0.01
# round- and driver-bound: gr_pagerank tp_bpe_train; scan- and exchange-bound:
# q1_agg q5_nation_revenue ev_sessionize v3_knn_topk
CATALOG_MIX = "gr_pagerank tp_bpe_train q1_agg q5_nation_revenue ev_sessionize v3_knn_topk".split()
# pinned and pre-touched, so GC sizing (and with it timing) does not
# depend on when the heap grew; VmHWM is then this heap plus the peak
# resident memory outside it, which is reported on its own
HEAP = "3g"
# a run, after the build, ends within this many seconds: the harness
# cancels any operation that would run past its share of it
RUN_BUDGET_S = 170
# kept for the checks in this process after the JVM has exited
POST_JVM_S = 12
# how long past its own budget the JVM may take before it is killed
JVM_GRACE_S = 8
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
OUT_DIR = ".bench_out"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jars the engine builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    jar_dir = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {jar_dir} (build.sbt unmanagedBase or SPARK_HOME)")
    return jars


def build(root):
    """Compile the engine (src/main/scala) and the harness with scalac
    into .bench_build; skipped when the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not srcs:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in srcs + harness + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs + harness))
    t = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-classpath", ":".join(jars), "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"built in {time.time() - t:.1f} s", file=sys.stderr)
    return out, jars


def make_inputs(workload, seed, in_dir):
    """Generate the workload's inputs from the seed into in_dir."""
    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir)
    if workload == "rag_serve":
        gen.write_tables({"documents": gen.documents(seed, SERVE_DOCS, 8, 100)}, in_dir)
        qs = gen.questions(seed, SERVE_QUESTIONS + SERVE_WARMUP_QUESTIONS)
        with open(os.path.join(in_dir, "warmup_questions.txt"), "w") as fh:
            fh.write("\n".join(qs[:SERVE_WARMUP_QUESTIONS]) + "\n")
        with open(os.path.join(in_dir, "questions.txt"), "w") as fh:
            fh.write("\n".join(qs[SERVE_WARMUP_QUESTIONS:]) + "\n")
    else:
        gen.write_tables(gen.catalog_tables(seed, CATALOG_SF), in_dir)
        rng = random.Random(seed)
        with open(os.path.join(in_dir, "pass_orders.txt"), "w") as fh:
            for _ in range(100):
                order = list(CATALOG_MIX)
                rng.shuffle(order)
                fh.write(",".join(order) + "\n")


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def load_avg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_revision(root):
    """HEAD of the checkout when it is a git work tree, else a digest
    of the engine sources."""
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def run_jvm(root, classes, jars, workload, in_dir, work_dir, seconds, trace, out_file, budget_s):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([classes] + jars), "perfbench.Harness", workload, in_dir,
            os.path.join(work_dir, "state"), str(seconds), str(trace), out_file,
            str(int(time.time() * 1000)), f"{budget_s:.1f}"]
    log = os.path.join(work_dir, "jvm.log")
    with open(log, "w") as fh:
        # scratch space stays inside the checkout whatever the caller's environment says
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp)
        p = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=budget_s + JVM_GRACE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_file):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {code}")
    with open(out_file) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "check.py")):
        fail("tools/check.py not found: run from the root of a checkout")
    load_before = load_avg()
    classes, jars = build(root)
    t_start = time.time()  # the run budget starts after the build

    run_dir = os.path.join(root, WORK_DIR, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "input")
    make_inputs(a.workload, a.seed, in_dir)
    inputgen_s = time.time() - t_start
    out_file = os.path.join(run_dir, "harness.json")
    budget_s = RUN_BUDGET_S - POST_JVM_S - JVM_GRACE_S - (time.time() - t_start)
    raw = run_jvm(root, classes, jars, a.workload, in_dir, run_dir, a.seconds, a.trace, out_file,
                  budget_s)
    raw["setup"]["inputgen_s"] = inputgen_s

    checks = layers.check_outputs(a.workload, raw, in_dir, root)
    result = layers.summarize(a.workload, raw, in_dir, trace=a.trace)
    load_after = load_avg()
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "fingerprint": dict(raw["env"], revision=git_revision(root), heap=HEAP,
                            python=sys.version.split()[0],
                            cpu=layers.cpu_model()),
        "load_before": load_before, "load_after": load_after,
        "input_bytes": dir_bytes(in_dir), "checks": checks,
        **result,
    }
    os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
    rec_file = os.path.join(root, OUT_DIR, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(rec_file, "w") as fh:
        spans = layers.span_tree(raw)
        self_ms = layers.self_times(spans)
        json.dump(dict(record, setup_ops=raw["setup_ops"], ops=raw["ops"],
                       spans=[dict(s, self_ms=self_ms[s["id"]]) for s in spans]), fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    for line in layers.summary_lines(record):
        print(line)
    metrics = result["end_to_end"] if a.trace == 0 else result["per_layer"]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
