#!/usr/bin/env python3
"""Run one workload of the STAC engine benchmark and print its result.

    python3 perfbench/run.py --workload <roundtrip|search|delta> --seed <n> \
        --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the harness from source with sbt (`perfbench/build.sbt`, offline) and keeps
the classpath in `.bench_build/`; later runs reuse it while the sources are
unchanged. The JVM runs `perfbench.Main` with `local[n]`, n = min(4, nproc),
one client thread, and the heap the repository's test command gives Spark
(half of RAM, clamped to 2–8 GiB). Its own output goes to stderr; the last
line of stdout is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`.
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

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = ["src/main", "perfbench/src/main", "perfbench/project"]
    files = ["perfbench/build.sbt"]
    for d in dirs:
        for base, subdirs, names in os.walk(os.path.join(root, d)):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.relpath(os.path.join(base, n), root) for n in sorted(names)]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def heap_size():
    """MemTotal/2 in GiB, clamped to 2..8, as the test command sizes Spark."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def run_bounded(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root, build_dir):
    """Compile with sbt unless the classpath for these sources exists."""
    digest = source_digest(root)
    stamp = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got_digest, cp = fh.read().split("\n", 1)
        if got_digest == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g")
    out_file = os.path.join(build_dir, "sbt-export.txt")
    t0 = time.time()
    with open(out_file, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S, out)
    if rc != 0:
        die(f"build failed (sbt exit {rc}); see {out_file}")
    with open(out_file) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cp = next((ln for ln in reversed(lines) if "perfbench" in ln and os.pathsep in ln), None)
    if cp is None:
        die(f"sbt printed no classpath; see {out_file}")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["roundtrip", "search", "delta"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    fixtures = os.path.join(root, "src", "test", "resources", "data")
    for need in ("src/main/scala/graft", "perfbench/build.sbt", fixtures):
        if not os.path.exists(os.path.join(root, need)):
            die(f"run from the root of a checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    work = os.path.join(build_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
    cmd = ["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixtures", fixtures, "--work", work, "--result", result,
            "--trace-out", trace_out]
    env = dict(os.environ)
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["SPARK_LOCAL_HOSTNAME"] = "localhost"
    try:
        rc = run_bounded(cmd, root, env, RUN_TIMEOUT_S, sys.stderr)
        if rc != 0 or not os.path.exists(result):
            die(f"benchmark JVM failed (exit {rc})")
        with open(result) as fh:
            out = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
