#!/usr/bin/env python3
"""End-to-end benchmark of the graft topology engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the engine (src/main/scala) together with the harness
(perfbench/src) into .bench_build/perfbench/, generates the fixture tables
once, runs one workload in a fresh JVM on local[<cpus>], checks every output
and prints, as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
The lines before it list every figure the harness measured, with its unit.

--smoke runs the workload briefly on the small tables and checks that every
metric named in BENCHMARK.json is present with a unit.
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
WORKLOADS = ("stream_microbatch", "artifact_lifecycle")
# Per-layer metric families a workload does not exercise read 0.
NOT_EXERCISED = {
    "stream_microbatch": ("lifecycle.",),
    "artifact_lifecycle": ("streaming.", "harness.generator_late"),
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg, code=3):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME's, else those of the first
    spark-submit on the PATH that sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars + "/*"
    fail("no Spark distribution found: set SPARK_HOME")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return engine, harness


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, HERE).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, jars, out_root):
    """Compile engine and harness once per source tree; reuse after."""
    engine, harness = sources(root)
    if not engine:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    classes = os.path.join(out_root, "classes-" + digest(engine + harness))
    if os.path.exists(os.path.join(classes, "_OK")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars] + engine + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, "_OK"), "w").close()
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: compiled in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def jvm(classes, jars, work, args, log, timeout):
    cmd = ["java", "-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] + [
        "-Xms2g", "-Xmx2g", "-Xss4m",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{classes}:{jars}", "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"harness {'timed out' if code is None else 'exited with ' + str(code)}:\n{tail}")


def prepare(classes, jars, out_root, cpus):
    """Fixture tables, generated once per generator source."""
    key = digest([os.path.join(HERE, "src", "DataGen.scala")])
    data = os.path.join(out_root, "data-" + key)
    dirs = {"sf0.1": os.path.join(data, "sf0.1"), "sf0.001": os.path.join(data, "sf0.001")}
    if all(os.path.exists(os.path.join(d, "_DONE")) for d in dirs.values()):
        return dirs
    work = os.path.join(out_root, "prepare")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    jvm(classes, jars, work, ["prepare", dirs["sf0.1"], "0.1", dirs["sf0.001"], "0.001"],
        os.path.join(work, "jvm.log"), 600)
    shutil.rmtree(work, ignore_errors=True)
    return dirs


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")) or \
            not os.path.isdir(os.path.join(root, "examples")):
        fail("src/main/scala/graft and examples/ not found: run from the root of a checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    jars = spark_jars()
    out_root = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_root, exist_ok=True)
    classes = build(root, jars, out_root)
    data = prepare(classes, jars, out_root, a.cpus)
    scale = "sf0.001" if a.smoke else "sf0.1"

    ticks0 = cpu_ticks()
    work = os.path.join(out_root, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        out_json = os.path.join(work, "report.json")
        jvm(classes, jars, work, [
            "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--repo", root, "--data", data[scale], "--warm-data", data["sf0.001"],
            "--work", work, "--out", out_json, "--cpus", str(a.cpus)],
            os.path.join(work, "jvm.log"), RUN_TIMEOUT_S)
        with open(out_json) as f:
            rep = json.load(f)
        attempted, failed, notes = rep["attempted"], rep["failed"], rep["notes"]
        if a.trace:
            spans = os.path.join(work, "trace", "spans.jsonl")
            saved = os.path.join(out_root, "traces", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(saved), exist_ok=True)
            shutil.copyfile(spans, saved)
            print(f"spans: {os.path.relpath(saved, root)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = rep["per_layer"] if a.trace else rep["end_to_end"]
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        got = measured.get(m["name"])
        if got is None and m["name"].startswith(NOT_EXERCISED[a.workload]):
            got = {"value": 0.0, "unit": m["unit"]}
        if got is None:
            fail(f"metric {m['name']} missing from the {a.workload} report")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} in {got['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}

    ticks1 = cpu_ticks()
    steal = "n/a" if not (ticks0 and ticks1 and ticks1[1] > ticks0[1]) else \
        f"{(ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.3f}"
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} cpus {rep['cpus']} "
          f"host_steal_frac {steal}")
    print(f"  session {rep['session_s']:.2f}s, set-up repetitions "
          f"{', '.join('%.2fs' % x for x in rep['setup_reps_s'])}, warm-up {rep['warm_up_s']:.2f}s, "
          f"checks {rep['check_s']:.2f}s")
    for k, v in sorted(rep["end_to_end"].items()):
        print(f"  {k:48s} {v['value']:>16.4f} {v['unit']}")
    for k, v in sorted(rep["per_layer"].items()):
        print(f"  {k:48s} {v['value']:>16.4f} {v['unit']}")
    print("  ops_failed_frac", f"{failed / max(attempted, 1):.4f}", f"({failed}/{attempted})")
    print("details " + json.dumps(rep["details"], sort_keys=True))
    for n in notes:
        print("note " + n)
    if a.smoke:
        print("smoke: all %d metrics present with units" % len(metrics))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
