#!/usr/bin/env python3
"""Benchmark runner for the ORDerly Spark pipeline.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: extract_ord and clean_split (see BENCHMARK.json for why each
exists), and registry_mix, which only runs by hand. The first run in a
checkout builds the program and the benchmark with sbt (offline) into
`.bench_build/` and archives the classes a run loads; later runs reuse both
while the sources are unchanged. Each run starts one JVM on local[nproc] from
that archive, makes its inputs from the seed under a temporary directory in
`.bench_build/`, runs its warm-up passes, times warm passes for the given seconds,
checks every output, and prints a human-readable report followed by one JSON
result line. The exit code is non-zero when an output check fails or the run
cannot be made.
"""

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(STATE, "classes.jsa")
WORKLOADS = ["extract_ord", "clean_split", "registry_mix"]
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die_with_parent():
    """In the child: get SIGKILL when this script exits, however it exits."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if all(os.path.exists(f) for f in (stamp_file, cp_file, ARCHIVE)):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True,
                          timeout=880)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    # digests of earlier runs belong to the earlier sources
    shutil.rmtree(os.path.join(STATE, "digests"), ignore_errors=True)
    os.makedirs(STATE, exist_ok=True)
    classpath = jar_dirs(lines[-1].strip())
    train_archive(classpath)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def java_cmd(work, classpath, extra):
    """The JVM command line shared by the class-archive training run and the
    measured runs (an archive only loads under the same class path)."""
    # a fixed set of JIT compiler threads, whose CPU time the run keeps
    # apart from the program's (a thread that exits would take it along)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads", *extra,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.legacy.parquet.nanosAsLong=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"]


def jvm_env(work):
    """Spark's scratch space stays inside the run's directory."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def jar_dirs(classpath):
    """Class directories as jars: the JVM archives classes from jars only."""
    lib = os.path.join(STATE, "lib")
    shutil.rmtree(lib, ignore_errors=True)
    os.makedirs(lib)
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(lib, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(entry):
                    for f in sorted(fs):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train_archive(classpath):
    """Run one small pass of every workload and archive the loaded classes,
    so each measured JVM starts from the archive. Part of the build: a
    failure here fails the build."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(STATE, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(work, classpath, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
        "--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--work-dir", os.path.join(work, "data"), "--state-dir", work, "--launch-ms", "0"]
    print("perfbench: archiving classes", file=sys.stderr)
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, env=jvm_env(work), text=True,
                              preexec_fn=die_with_parent, timeout=600)
        log, ok = proc.stdout, proc.returncode == 0
    except subprocess.TimeoutExpired:
        log, ok = "", False
    shutil.rmtree(work, ignore_errors=True)
    if not ok or not os.path.exists(ARCHIVE):
        sys.stderr.write("\n".join(log.splitlines()[-40:]) + "\n")
        fail("class archive training failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    want = [m["name"] for m in declared["per_layer" if a.trace == "1" else "end_to_end"]]

    classpath = build()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -Xshare:on: the JVM refuses to start rather than run without the archive
    launch_ms = int(time.time() * 1000)
    java = java_cmd(work, classpath, ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work-dir", os.path.join(work, "data"),
        "--state-dir", STATE, "--launch-ms", str(launch_ms)]
    out_path = os.path.join(work, "stdout.txt")
    with open(out_path, "w") as out_fh:
        proc = subprocess.Popen(java, cwd=work, stdout=out_fh, stdin=subprocess.DEVNULL,
                                env=jvm_env(work), preexec_fn=die_with_parent)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if proc.returncode is not None and proc.returncode < 0:
        if lines:
            print(lines[-1])
        fail(f"run exceeded {RUN_TIMEOUT_S} s")

    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    if result is None:
        fail(f"no result line (exit code {proc.returncode})")
    got = list(result["metrics"])
    if got != want:
        fail(f"metrics {got} do not match BENCHMARK.json {want}")
    print(json.dumps(result), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
