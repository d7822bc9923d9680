#!/usr/bin/env python3
"""Stage-by-stage benchmark of the production pipeline.

Builds the engine and this harness from the checkout's sources (sbt, into
.bench_build/, rebuilt only when a source changes), runs one workload in a
fresh JVM and relays its output; the last stdout line is the result
object {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload pipeline_text --seed 1 \
        --seconds 8 --trace 0

Run it from the repository root. Exits non-zero, printing no result, when
the build, the run or an output check cannot complete.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline_text", "pipeline_video")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:"
                     f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile with sbt when sources changed; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true"] + opts +
            ["export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=BENCH,
            env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    if code != 0:
        with open(log_path, "a") as log:
            log.write(out or "")
        fail(f"build failed (exit {code}); see {log_path}")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp and ".bench_build" not in cp:
        fail("build did not report a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def git_head():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    # a terminated launcher still stops and reaps its build or JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    model = os.path.join(ROOT, "src", "test", "resources", "tiny.model")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from "
             "a full checkout")
    if not os.path.exists(model):
        fail("tokenizer model src/test/resources/tiny.model not found")
    cp = build()

    work = os.path.join(BUILD, "work", a.workload)
    log_path = os.path.join(BUILD, f"run-{a.workload}.log")
    cmd = ["java"] + JAVA_OPTS + ["-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--model", model,
           "--pinned", os.path.join(BENCH, "pinned.json"),
           "--git-head", git_head()]
    t0 = time.time()
    with open(log_path, "w") as log:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=log, text=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}")
    if code != 0:
        fail(f"run failed (exit {code}); see {log_path}")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line; see {log_path}")
    for ln in lines[:-1]:
        print(ln)
    print(f"[perfbench] {a.workload} seed {a.seed}: {time.time() - t0:.1f}s "
          f"wall, {result['attempted']} passes, {result['failed']} failed")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
