#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload headline|model|sweep --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --pin      # re-pin expected outputs

Run from the repository root. The script builds the engine and the
harness from source (sbt, once per source state), prepares the input
world once per source state (the full 1737x4008x86-band tile table and the
fitted trees, timed and reported as world.tiles_materialize_s), then
runs the measured JVM, whose last stdout line is the result JSON. All
state lives under perfbench/work/ inside the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
HEAP = "3g"
# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list the engine's build.sbt passes to its forks.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("headline", "model", "sweep")
RUN_LIMIT_S = 175  # a measured run must end within this many seconds


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, cwd, timeout, out_path=None):
    """Run cmd in its own process group; kill the group on timeout or
    interrupt and always wait for it. Returns (code, stdout text)."""
    out = open(out_path, "w") if out_path else subprocess.PIPE
    # Spark prefers these over spark.local.dir; keep scratch in the checkout
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=sys.stderr,
                            text=True, start_new_session=True, env=env)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        if out_path:
            out.close()
        raise
    if out_path:
        out.close()
        with open(out_path) as f:
            stdout = f.read()
    return proc.returncode, stdout


def source_stamp():
    """Digest of every input of the build: engine and harness sources
    plus build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in fns]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile engine + harness with sbt; cache the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], HERE, 840, log)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (see {log})", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cp, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args)


def prepare(cp, stamp):
    """Materialize the tile table and trees once per source state: the
    world is made again when the sources that made it have changed."""
    try:
        with open(os.path.join(WORK, "world", "prepare.json")) as f:
            if json.load(f).get("source") == stamp:
                return
    except (OSError, ValueError):
        pass
    code, _ = run_child(java_cmd(cp, "perfbench.Prepare",
                                 ["--work", WORK, "--cores", str(cores()),
                                  "--stamp", stamp]),
                        ROOT, 840)
    if code != 0:
        die("prepare step failed", 3)


def main():
    # a SIGTERM unwinds like an interrupt, so run_child stops its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not (a.selftest or a.pin or a.workload):
        ap.error("one of --workload, --selftest, --pin is required")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found: {need} is missing under "
                "the repository root")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp = build(stamp)
    prepare(cp, stamp)
    if a.selftest:
        main_cls, args, limit = "perfbench.SelfTest", [], 600
    elif a.pin:
        main_cls, args, limit = "perfbench.Pin", [], 900
    else:
        main_cls, limit = "perfbench.Main", RUN_LIMIT_S
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    args += ["--work", WORK, "--cores", str(cores())]
    try:
        code, out = run_child(java_cmd(cp, main_cls, args), ROOT, limit)
    except subprocess.TimeoutExpired:
        die(f"{main_cls} did not finish within {limit} s", 4)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
