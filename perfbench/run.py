#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

    python3 perfbench/run.py --workload migrate|maintain \
        --seed N --seconds S --trace 0|1 [--scale sf0.001]

Run from the repository root. The first run builds the benchmark (graft's
main sources plus perfbench/src) into .bench_build/; later runs reuse the
build while the sources are unchanged. Inputs are the read-only TPC-H-like
Parquet tables under $GRAFT_TESTDATA (default ~/testdata), one directory
per scale factor. Spark's jars come from $SPARK_HOME/jars, or else from
the directory the project's build.sbt names as unmanagedBase.

The last line of standard output is the result: one JSON object with the
keys correct, attempted, failed and metrics. The line before it is a
report of the run: input sizes, the tail percentile and sample count of
every timing, and the per-workload breakdown. A traced run (--trace 1)
also writes its spans to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import signal
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("migrate", "maintain")
# input scale per workload: sized so Spark's fixed per-job cost, not data
# volume, is what a run mostly measures (see perfbench/README.md)
SCALE = {"migrate": "sf0.01", "maintain": "sf0.01"}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        fail("set SPARK_HOME: no Spark jars directory found")
    return pathlib.Path(m.group(1))


def sources():
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    for r in roots:
        if not r.is_dir():
            fail(f"missing source directory {r.relative_to(ROOT)}; run from a full checkout")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def build(jars):
    h = hashlib.sha1()
    for p in sources() + [ROOT / "perfbench" / "build.sh"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if not out.is_dir():
        BUILD.mkdir(exist_ok=True)
        try:
            subprocess.run(["bash", "perfbench/build.sh", str(out), str(jars)], cwd=ROOT,
                           stdout=sys.stderr, timeout=BUILD_TIMEOUT_S, check=True)
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--scale", help="input scale directory, e.g. sf0.001 (default: per workload)")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    data = pathlib.Path(os.environ.get("GRAFT_TESTDATA", "~/testdata")).expanduser()
    data = data / (a.scale or SCALE[a.workload])
    if not data.is_dir():
        fail(f"input directory {data} not found (set GRAFT_TESTDATA)")

    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    trace_out = BUILD / "traces" / f"{a.workload}-seed{a.seed}.json"
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--data", str(data), "--work", str(work),
              "--trace-out", str(trace_out)])
    env = dict(os.environ, LC_ALL="C.UTF-8")
    # a SIGTERM to this script must not orphan the JVM: turn it into an
    # exit that runs the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"benchmark exited with code {p.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
