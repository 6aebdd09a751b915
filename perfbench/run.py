#!/usr/bin/env python3
"""EOD pipeline benchmark entry point.

    python3 perfbench/run.py --workload <backfill|nightly|lakehouse_sql|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark with sbt
(once per source change, into perfbench/target and .bench_build/), then runs
the workload in a fresh JVM on local[4]. The first `nightly` run after a
build also builds the shared history into .bench_build/cache/. The last stdout line is the result
JSON; a preceding line lists the workload's named end-to-end metrics.
Exits non-zero on a build failure, an output mismatch or a timeout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ["backfill", "nightly", "lakehouse_sql"]
RUN_TIMEOUT_S = 170
# a run that also fills the cache (nightly's history, ~100 s) may take longer
FILL_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(root):
    h = hashlib.sha256()
    for top in ["src/main", "perfbench/src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties"]:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            walk = [(os.path.dirname(path), [], [os.path.basename(path)])]
        else:
            walk = os.walk(path)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles once per source state; returns the runtime classpath."""
    os.makedirs(build_dir, exist_ok=True)
    stamp = os.path.join(build_dir, "fingerprint")
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp = fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    log("building engine and benchmark with sbt")
    # offline: every dependency comes from the local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "writeClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env)
    if rc != 0:
        log(f"build failed (see {build_dir}/build.log)")
        sys.exit(2)
    shutil.copy(os.path.join(root, "perfbench", "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def cache_dir(root, build_dir):
    """One cache per source state; caches of other states are removed."""
    top = os.path.join(build_dir, "cache")
    mine = fingerprint(root)[:16]
    if os.path.isdir(top):
        for name in os.listdir(top):
            if name != mine:
                shutil.rmtree(os.path.join(top, name), ignore_errors=True)
    os.makedirs(os.path.join(top, mine), exist_ok=True)
    return os.path.join(top, mine)


def run_one(root, build_dir, cp, workload, seed, seconds, trace):
    cache = cache_dir(root, build_dir)
    timeout = RUN_TIMEOUT_S if os.listdir(cache) else FILL_TIMEOUT_S
    work = os.path.join(build_dir, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the heap grows as used, so growth shows in peak_rss_mb; Serial GC sizes
    # it by allocation rather than by GC timing, so peak RSS repeats
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:+UseSerialGC", "-Xmx2g", "-Dspark.callstack.depth=64", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--cache", cache])
    # few malloc arenas keep the native part of peak RSS steady across runs
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{workload}: timed out after {timeout}s")
        return 3, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, [l for l in out.splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/pipeline/EodPipeline.scala")):
        log("engine sources not found: run from the repository root")
        sys.exit(2)
    build_dir = os.path.join(root, ".bench_build")
    cp = build(root, build_dir)

    names = WORKLOADS if args.workload == "all" else [args.workload]
    worst = 0
    for name in names:
        rc, lines = run_one(root, build_dir, cp, name, args.seed, args.seconds, args.trace)
        for line in lines:
            print(line, flush=True)
        if rc != 0:
            log(f"{name}: exit code {rc}")
            worst = worst or rc
    sys.exit(worst)


if __name__ == "__main__":
    main()
