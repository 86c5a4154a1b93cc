#!/usr/bin/env python3
"""Run one benchmark run from the root of a source checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program (src/main/scala) and the harness (perfbench/harness)
with the Scala compiler shipped in $SPARK_HOME/jars, caching the classes
under the build directory ($CARGO_TARGET_DIR, else .bench_build) keyed by
a hash of the sources. Then runs the harness in a fresh JVM with a
run-scoped temp dir (deleted afterwards) and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}.

Every result is also appended, with a stamp (source hash, git sha when
available, nproc, load average before and after, heap, JDK and Spark
versions), to <build>/results/results.jsonl or to --out FILE; traced runs
write their spans to <build>/results/spans-<workload>-<seed>.jsonl.
perfbench/compare.py reads those files.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
WORKLOADS = ("flagship_image", "temporal_skew", "resume_snapshot", "dedup_hotblock")
# Spark 4 on JDK 17 outside spark-submit (same list as the sbt build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root, rel):
    files = sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"no Scala sources under {rel}/ (run from the root of a source checkout)")
    return files


def digest(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    compiler = [sorted(glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar")))[-1:] for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"scala-compiler/library/reflect 2.13 jars not found in {jars}")
    compiler = [c[0] for c in compiler]
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx1g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join(classpath)] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail(f"compilation into {out} failed")


def build(root, build_dir, jars):
    """(program classes, harness classes), compiled once per source hash."""
    prog_src = sources(root, "src/main/scala")
    harness_src = sources(root, "perfbench/harness")
    jar_cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    key = digest(prog_src + harness_src, root)
    dest = os.path.join(build_dir, "classes", key)
    os.makedirs(os.path.join(build_dir, "classes"), exist_ok=True)
    with open(os.path.join(build_dir, "classes", ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(dest, "ok")):
            shutil.rmtree(dest, ignore_errors=True)
            t0 = time.time()
            scalac(jars, jar_cp, os.path.join(dest, "program"), prog_src)
            scalac(jars, [os.path.join(dest, "program")] + jar_cp, os.path.join(dest, "harness"), harness_src)
            open(os.path.join(dest, "ok"), "w").close()
            print(f"built {key} in {time.time() - t0:.1f} s", file=sys.stderr)
    return key, os.path.join(dest, "program"), os.path.join(dest, "harness")


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def stamp(root, key, jars):
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        sha = r.stdout.strip() or None
    jdk = subprocess.run(["java", "-version"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True).stdout.splitlines()
    spark = [m.group(1) for j in glob.glob(os.path.join(jars, "spark-core_*.jar"))
             for m in [re.search(r"spark-core_[\d.]+-(.+)\.jar$", j)] if m]
    return {
        "source_hash": key,
        "git_sha": sha,
        "nproc": len(os.sched_getaffinity(0)),
        "heap": HEAP,
        "jdk": jdk[0] if jdk else None,
        "spark": spark[0] if spark else None,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--out", help="results JSONL to append to (default <build>/results/results.jsonl)")
    a = ap.parse_args()

    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("src/main/scala not found: run from the root of a source checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution (its jars/ holds Spark and scalac)")
    jars = os.path.join(spark_home, "jars")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    key, prog, harness = build(root, build_dir, jars)

    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    out = a.out or os.path.join(results, "results.jsonl")
    spans = os.path.join(results, f"spans-{a.workload}-{a.seed}.jsonl")
    tmp = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    st = stamp(root, key, jars)
    st["loadavg_before"] = loadavg()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
            "-cp", ":".join([harness, prog, os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--tmp", tmp, "--spans", spans])
    t0 = time.time()
    # a terminated run stops its JVM too (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    st["loadavg_after"] = loadavg()
    st["wall_s"] = round(time.time() - t0, 3)

    lines = stdout.splitlines()
    result = extra = None
    for line in lines:
        if line.startswith("EXTRA "):
            extra = json.loads(line[len("EXTRA "):])
        elif line.startswith("{"):
            result = json.loads(line)
        else:
            print(line)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"the harness printed no result (exit code {proc.returncode})")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
              "stamp": st, "extra": extra, "result": result}
    with open(out, "a") as f:
        f.write(json.dumps(record) + "\n")
    if extra:
        print(f"failed_ratio {extra.get('failed_ratio')} (failed/attempted = "
              f"{result['failed']}/{result['attempted']})")
    for name, m in result["metrics"].items():
        print(f"{name:28s} {m['value']:>14.6g} {m['unit']}")
    print(f"stamp {json.dumps(st)}")
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
