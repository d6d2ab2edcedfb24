#!/usr/bin/env python3
"""Run one workload of the graft pipeline benchmark.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 10 --trace 0

Builds the benchmark together with graft's sources from this checkout
(cached under .bench_build/ until a source changes), starts one JVM that
runs Spark local[k], and relays its output. The last stdout line is one
JSON object with the keys correct, attempted, failed and metrics. A run
that cannot build, fails or times out exits non-zero without that line.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ingest_live", "catalog_sql")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT if not os.path.isabs(d) else "", d, "perfbench")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "jdk-opens.txt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(out):
    """Compiles with sbt and returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "-Xmx2g")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true"
                       f" -Dsbt.global.base={os.path.join(out, 'sbt-global')}")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def jdk_opens():
    """The JDK packages Spark needs opened; build.sbt reads the same file."""
    with open(os.path.join(BENCH, "jdk-opens.txt")) as fh:
        return [l.strip() for l in fh if l.strip()]


def metric_names(trace):
    """The metrics BENCHMARK.json lists for this mode, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; choose from {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    metrics = metric_names(a.trace)
    out = build_dir()
    cp = build(out)
    started = time.monotonic()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(out, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    k = cores()
    cmd = ["java"] + [x for p in jdk_opens() for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx1536m", "-XX:+UseSerialGC", "-XX:-DontCompileHugeMethods",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(k),
        "--work", work, "--result", os.path.join(out, "results", f"{tag}.json"),
        "--metrics", ",".join(metrics)]
    log = os.path.join(logs, f"{tag}.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, text=True,
                                 start_new_session=True)
            def stop(*_):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, lambda *_: (stop(), sys.exit(3)))
            try:
                stdout, _ = p.communicate(timeout=RUN_LIMIT_S - (time.monotonic() - started))
            except subprocess.TimeoutExpired:
                stop()
                fail(f"run exceeded {RUN_LIMIT_S} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"run failed with code {p.returncode} (log: {log})")
    result = json.loads(lines[-1])
    if (set(result) != {"correct", "attempted", "failed", "metrics"}
            or set(result["metrics"]) != set(metrics)):
        fail("malformed result line")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
