#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <dashboard|feeds|registry> \
        --seed <n> --seconds <s> --trace <0|1> [--cpus <n>]

Run from the repository root. The first run in a checkout builds the engine
and the harness with sbt (perfbench/build.sbt) and generates the fixture
tables; both land in .bench_build/ and are reused while their sources are
unchanged. Every file a run writes stays under .bench_build/.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
metrics, with --trace 1 its per_layer metrics, each with its unit. A run
whose outputs are wrong prints correct=false and exits 1; a run that cannot
build or run exits non-zero without a result.
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

WORKLOADS = ("dashboard", "feeds", "registry")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 780

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def default_sbt_opts():
    """Offline sbt: resolve from the local caches only, through the user's
    repositories file when there is one."""
    opts = ["-Dsbt.offline=true", "-Xmx4g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    return " ".join(opts)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    """Hash of every file below `paths` (names and contents)."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f)
                           for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build(root, work):
    """Compile the engine and the harness; return the runtime classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src/main"]
    stamp = tree_hash([os.path.join(root, s) for s in sources])
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", default_sbt_opts())
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(work, "build.log")
    with open(log_path, "w") as log:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspathAsJars"],
            BUILD_LIMIT_S, cwd=os.path.join(root, "perfbench"), env=env,
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=log,
            text=True)
        if out:
            log.write(out)
    if code != 0:
        fail(f"build failed (see {log_path})", 3)
    cp = [ln for ln in out.splitlines()
          if ln.endswith(".jar") and not ln.startswith("[")]
    if not cp:
        fail(f"build printed no classpath (see {log_path})", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def java_cmd(work, classpath, main, args, cds):
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp", cds] +
            opts + ["-cp", classpath, main] + args)


def fixtures(root, work, classpath, env):
    """Generate the sf0.1 tables, and with them the JVM's class-data
    archive, once per build: the archive holds the classes that session
    start, SQL planning and parquet I/O load, so every run's JVM maps them
    instead of loading and verifying them again."""
    data = os.path.join(work, "data", "sf0.1")
    archive = os.path.join(work, "classes.jsa")
    with open(os.path.join(work, "build.stamp")) as fh:
        stamp = fh.read()
    stamp_file = os.path.join(work, "fixtures.stamp")
    if os.path.isfile(stamp_file) and os.path.isfile(archive):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return data, f"-XX:SharedArchiveFile={archive}"
    if os.path.exists(archive):
        os.remove(archive)
    log_path = os.path.join(work, "fixtures.log")
    with open(log_path, "w") as log:
        code, _ = run_bounded(
            java_cmd(work, classpath, "perfbench.Fixtures", [data],
                     f"-XX:ArchiveClassesAtExit={archive}"),
            BUILD_LIMIT_S, cwd=root, env=env, stdin=subprocess.DEVNULL,
            stdout=log, stderr=log)
    if code != 0:
        fail(f"fixture generation failed (see {log_path})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return data, f"-XX:SharedArchiveFile={archive}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[n] cores (default SPARK_GRAFT_CPUS or nproc)")
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"engine source {need} not found; nothing to benchmark")
    with open(spec_path) as fh:
        spec = json.load(fh)
    section = "per_layer" if a.trace == "1" else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[section]}

    work = os.path.join(root, ".bench_build")
    for d in ("tmp", "spark-local"):  # scratch of the previous run
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in ("tmp", "trace", "logs", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    classpath = build(root, work)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(a.cpus or env.get("SPARK_GRAFT_CPUS")
                                  or os.cpu_count())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    data, cds = fixtures(root, work, classpath, env)

    tag = f"{a.workload}-{a.seed}-t{a.trace}-c{env['SPARK_GRAFT_CPUS']}"
    spans = os.path.join(work, "trace", f"{tag}.jsonl")
    log_path = os.path.join(work, "logs", f"{tag}.log")
    limit = RUN_LIMIT_S - (time.time() - started)
    if limit < 60:
        limit = RUN_LIMIT_S  # this run built: the first run may take longer
    with open(log_path, "w") as log:
        code, out = run_bounded(
            java_cmd(work, classpath, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--data", data, "--spans", spans,
                "--launched-ms", str(int(time.time() * 1000))], cds),
            limit, cwd=root, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=log, text=True)
    if code is None:
        fail(f"run exceeded {limit:.0f} s (see {log_path})", 4)
    lines = [ln for ln in (out or "").splitlines() if ln.startswith("{")]
    if code != 0 or not lines:
        fail(f"run failed with code {code} (see {log_path})", 4)
    raw = json.loads(lines[-1])
    missing = sorted(set(wanted) - set(raw["metrics"]))
    if missing:
        fail(f"run did not measure {missing}", 4)
    result = {
        "correct": bool(raw["correct"]),
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": raw["metrics"][k], "unit": u}
                    for k, u in wanted.items()},
    }
    if a.trace == "1":
        with open(os.path.join(work, "trace", f"{tag}.e2e.json"), "w") as fh:
            json.dump(raw["metrics"], fh)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
