#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library and
the benchmark from source with sbt (offline) into the build directory
(CARGO_TARGET_DIR if set, else .bench_build); later runs reuse that build
while the sources are unchanged. One JVM then runs the workload and this
script prints a diagnostics line followed, as the last line of stdout, by
the result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("ingest_pipeline", "lake_cdc_serve", "curate_corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark 4 on JDK 17 needs these outside spark-submit (the library's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads, to tell when a build is stale."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export graftbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    with open(log_path, "a") as log:
        log.write(proc.stdout)
    if proc.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def heap_mb():
    """Half the machine's memory, bounded to 1-3 GB."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return max(1024, min(3072, int(line.split()[1]) // 2048))
    return 2048


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to the benchmark (looked in {ROOT})")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    heap = heap_mb()
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               GRAFT_WAREHOUSE="file://" + os.path.join(work, "warehouse"))
    env.pop("SPARK_GRAFT_MASTER", None)
    log_path = os.path.join(work, "run.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload run failed ({code})")
    with open(out) as fh:
        result = json.load(fh)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(build_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"diagnostics": result["diagnostics"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
