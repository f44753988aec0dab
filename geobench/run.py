#!/usr/bin/env python3
"""geobench: builds graft and the harness from source, runs one workload
in a fresh JVM, and prints the metrics.

Run from the root of the repository:

    python3 geobench/run.py --workload spatial_query --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones. The line before it (`geobench detail: {...}`) gives the
per-workload figures and per-class sample counts. See geobench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

WORKLOADS = ("spatial_query", "table_churn", "index_churn")
# One closed-loop client on the driver; Spark runs local[CORES] with a
# fixed heap, the same on every machine with at least this many cores.
CORES = 2
HEAP = "1536m"
# Wall budget of the JVM run; the whole command must end within 180 s.
RUN_TIMEOUT_S = 165
BUILD_DIR = os.path.join(".bench_build", "geobench")
HARNESS_SRC = os.path.join("geobench", "src")
PROGRAM_SRC = os.path.join("src", "main", "scala")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"geobench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars: `$SPARK_HOME/jars`, else the `unmanagedBase` that
    build.sbt compiles graft against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            fail("no SPARK_HOME and no unmanagedBase in build.sbt; run from the repository root")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(top):
            fail(f"missing source directory {top}; run from the repository root")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jvm_cmd(jar, jars, work, archive_flag):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", archive_flag]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
                  "--cores", str(CORES), "--work", work]


def build(jars):
    """Compile graft and the harness with the Scala compiler that ships in
    the Spark jars, jar the classes, and dump a class-data-sharing archive
    from one tiny pass over every workload (it cuts JVM and Spark start-up
    from ~7 s to ~3 s). The result is reused while the sources are
    unchanged. Returns (jar, archive)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.abspath(os.path.join(BUILD_DIR, "build-" + h.hexdigest()[:16]))
    jar, archive = os.path.join(out, "geobench.jar"), os.path.join(out, "geobench.jsa")
    if os.path.isfile(archive):
        return jar, archive
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    print("geobench: compiling graft and the harness", file=sys.stderr)
    steps = [
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-cp", cp, "@" + argfile],
        ["jar", "-J-XX:-UsePerfData", "cf", jar, "-C", classes, "."],
    ]
    for cmd in steps:
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800).returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("build failed: " + " ".join(cmd[:4]))
    work = os.path.join(out, "train")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_cmd(jar, jars, work, f"-XX:ArchiveClassesAtExit={archive}.tmp") + [
        "--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0", "--tiny", "1", "--out", "-"]
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(archive + ".tmp"):
        shutil.rmtree(out, ignore_errors=True)
        fail("the class-data-sharing training run failed")
    os.rename(archive + ".tmp", archive)
    return jar, archive


def run_jvm(jar, archive, jars, args, work):
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_cmd(jar, jars, work, f"-XX:SharedArchiveFile={archive}") + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", raw_path, "--tiny", "1" if args.tiny else "0"]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # never leave the JVM behind: on a timeout or a signal to us
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        fail("the JVM run timed out" if code is None else f"the JVM run exited with {code}")
    with open(raw_path) as f:
        return json.load(f)


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def main(argv=None):
    # a termination signal unwinds normally, so the JVM and the run's work
    # directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true", help="small tables and two cycles (harness tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile("BENCHMARK.json"):
        fail("no BENCHMARK.json; run from the repository root")
    bench = spec()
    jars = spark_jars()
    jar, archive = build(jars)
    work = os.path.abspath(os.path.join(BUILD_DIR, f"run-{os.getpid()}-{int(time.time() * 1000)}"))
    try:
        raw = run_jvm(jar, archive, jars, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    read_bound = next(m["bound"] for m in bench["end_to_end"] if m["name"] == "read_p50_ms")
    e2e, detail, problems = metrics.end_to_end(raw, read_bound)
    if args.trace:
        names = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = metrics.layer_values(raw)
        out, absent = metrics.per_layer(values, names)
        detail["absent_layers"] = absent
        detail["other_layers"] = {k: v for k, v in sorted(values.items()) if k not in names}
    else:
        names = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        out = {k: v for k, v in e2e.items() if k in names}
    ops = [o for o in raw["ops"] if o[2] in ("timed", "traced")]
    failed = sum(1 for o in ops if not o[6])
    detail["failures"] = raw["failures"]
    detail["problems"] = problems
    print("geobench detail: " + json.dumps(detail, sort_keys=True))
    for p in problems + raw["failures"]:
        print(f"geobench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not problems and not raw["failures"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))


if __name__ == "__main__":
    main()
