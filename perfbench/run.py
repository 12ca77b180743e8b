#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one time budget.

    python3 perfbench/run.py --workload <crawl_batch|content_scan|serve_pages>
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with scalac into .bench_build/ and generates the
input tables there; later runs reuse both. Each run then starts fresh
JVMs on local[nproc], measures, checks the outputs, and prints a summary
line of every metric followed by one JSON result line. See
perfbench/README.md.

    python3 perfbench/run.py --pin <crawl_batch|content_scan>

rewrites perfbench/expected/<workload>.json from the DuckDB oracle's
answers, and fails on a stage that has no oracle SQL.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import metrics  # noqa: E402
import results  # noqa: E402

WORKLOADS = ("crawl_batch", "content_scan", "serve_pages")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars}")
    return jars


def sources(root):
    """The engine's and the benchmark's source files, and the engine's
    resources (data-source registrations, decoder tables)."""
    found = []
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            found += [os.path.join(d, f) for f in files]
    return sorted(found)


def build(root, out_root):
    """Compile the engine and the benchmark into one class directory keyed
    by a hash of every source file; a changed source means a new build."""
    srcs = sources(root)
    if not any("/src/main/" in s for s in srcs):
        fail("no engine sources under src/main: run from the root of a checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    jars = spark_jars()
    comp = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
            for n in ("compiler", "library", "reflect")]
    if not all(comp):
        fail(f"no scala compiler jars under {jars}")
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(s for s in srcs if s.endswith((".scala", ".java"))))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in comp),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-cp", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    os.rename(tmp, classes)
    open(os.path.join(classes, ".ok"), "w").close()
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def data(out_root):
    d = os.path.join(out_root, f"data-sf{gen_data.SF}-s{gen_data.DATA_SEED}")
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d)
        open(os.path.join(d, ".ok"), "w").close()
    return d


def jvm(classes, work, args, timeout):
    """One JVM of the benchmark; returns its raw-sample JSON."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + os.path.join(spark_jars(), "*"),
            "perfbench.Main", *args, "--work", work, "--out", out,
            "--t0-ms", str(int(time.time() * 1000))])
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout)
    if r.returncode != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {r.returncode}")
    with open(out) as f:
        return json.load(f)


def check_batch(workload, raw):
    """Every stage's rows against the pinned row count and content hash."""
    with open(os.path.join(HERE, "expected", f"{workload}.json")) as f:
        want = json.load(f)
    bad = []
    for name, exp in sorted(want.items()):
        path = os.path.join(raw["results_dir"], name)
        if not os.path.exists(path):
            bad.append(f"{name}: no result")
            continue
        got = results.digest(results.engine_result(path))
        if got != {k: exp[k] for k in ("rows", "columns", "hash")}:
            bad.append(f"{name}: got {got['rows']} rows {got['hash'][:12]}, "
                       f"want {exp['rows']} rows {exp['hash'][:12]}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", choices=WORKLOADS[:2])
    a = ap.parse_args()
    root = os.getcwd()
    out_root = os.path.join(root, ".bench_build")
    os.makedirs(out_root, exist_ok=True)
    classes = build(root, out_root)
    d = data(out_root)
    if a.pin:
        return pin(a.pin, classes, d, out_root)
    if not a.workload:
        fail("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--data", d]
    base_wall_s = None
    if a.trace and a.workload != "serve_pages":
        # the base of a batch run's tracing overhead: an untraced pass of
        # the same seed, in a JVM of its own just before the traced one
        base = jvm(classes, os.path.join(out_root, f"work-{a.workload}-base"),
                   args + ["--trace", "0"], timeout=85)
        base_wall_s = base["pass"]["wall_s"]
    raw = jvm(classes, os.path.join(out_root, f"work-{a.workload}"),
              args + ["--trace", str(a.trace)], timeout=85 if base_wall_s else 170)
    bad = (check_batch(a.workload, raw) if a.workload != "serve_pages"
           else raw["checks"]["failed"])
    e2e, detail, attempted, failed = metrics.end_to_end(a.workload, raw)
    layers = metrics.per_layer(a.workload, raw, base_wall_s) if a.trace else {}
    for b in bad:
        print(f"perfbench: CHECK FAILED {b}", file=sys.stderr)
    print(metrics.summary(a.workload, e2e, layers, detail, bad))
    if a.trace:
        print(json.dumps(metrics.result_line(not bad, attempted, failed, layers, metrics.PER_LAYER)))
    else:
        print(json.dumps(metrics.result_line(not bad, attempted, failed, e2e, metrics.END_TO_END)))


def pin(workload, classes, d, out_root):
    work = os.path.join(out_root, f"pin-{workload}")
    raw = jvm(classes, work, ["--workload", workload, "--seed", "0", "--seconds", "0",
                              "--data", d, "--dump", "1"], timeout=900)
    no_sql = sorted(o["name"] for o in raw["ops"] if o["name"] not in raw["oracle"])
    if no_sql:
        fail(f"no oracle SQL to pin {', '.join(no_sql)}")
    pinned = {}
    for name in sorted(raw["oracle"]):
        engine = results.digest(results.engine_result(os.path.join(raw["results_dir"], name)))
        want = results.digest(results.oracle_result(d, raw["oracle"][name]))
        if want != engine:
            print(f"perfbench: {name}: engine {engine['rows']} rows {engine['hash'][:12]} "
                  f"!= oracle {want['rows']} rows {want['hash'][:12]}", file=sys.stderr)
        pinned[name] = want
    with open(os.path.join(HERE, "expected", f"{workload}.json"), "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"perfbench: pinned {len(pinned)} stages of {workload}", file=sys.stderr)


if __name__ == "__main__":
    main()
