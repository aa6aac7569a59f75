#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the engine and the
harness with sbt (offline) and writes the input tables; later calls reuse
both until a source file changes. Everything the benchmark writes stays
under `.bench_build/perfbench/` in the repository. Each run gets a fresh
state directory (warehouse, checkpoints, temp and spill files) that is
deleted when the run ends.

Extra options, not used by the standard runs:
    --record FILE   write each row's observed output fingerprint to FILE
    --artifact FILE write the run's samples, spans and per-row summary
    --timeout S     kill the run after S seconds (default 170)

`--workload census` runs every row of the engine (the input of
perfbench/derive_lists.py); it is not one of the measured workloads.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx3g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
) for arg in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf, text=True,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java(cp, main, args, **kw):
    return subprocess.Popen(["java"] + JVM_OPTS + kw.pop("extra", []) + ["-cp", cp, main] + args,
                            cwd=ROOT, start_new_session=True, **kw)


def wait(proc, timeout):
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s")


def data(cp, sf):
    """Generates the input tables once per scale and generator version."""
    gen = os.path.join(HERE, "src", "main", "scala", "perfbench", "DataGen.scala")
    stamp = f"{sf}:" + hashlib.sha256(open(gen, "rb").read()).hexdigest()
    d = os.path.join(BUILD, f"data-sf{sf}")
    stamp_file = d + ".stamp"
    if os.path.isdir(d) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return d
    with open(os.path.join(BUILD, "datagen.log"), "w") as lf:
        p = java(cp, "perfbench.DataGen", [d, str(sf)], stdout=lf, stderr=lf,
                 extra=[f"-Djava.io.tmpdir={BUILD}"])
        if wait(p, 600) != 0:
            fail("input generation failed; see .bench_build/perfbench/datagen.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record")
    ap.add_argument("--artifact")
    ap.add_argument("--timeout", type=int, default=RUN_TIMEOUT_S)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    config_file = os.path.join(HERE, "workloads.json")
    config = json.load(open(config_file))
    if a.workload not in config["workloads"] and a.workload != "census":
        fail(f"unknown workload {a.workload}")
    os.makedirs(BUILD, exist_ok=True)

    # one benchmark process at a time per checkout: builds, inputs and the
    # host's cores are shared
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build()
        d = data(cp, config["sf"])
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        for stale in os.listdir(runs):
            print(f"[perfbench] removing state left by an earlier process: runs/{stale}",
                  file=sys.stderr)
            shutil.rmtree(os.path.join(runs, stale), ignore_errors=True)
        state = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
        artifact = a.artifact or os.path.join(
            BUILD, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
        os.makedirs(os.path.dirname(os.path.abspath(artifact)), exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--data", d, "--state", state, "--config", config_file,
                "--expected", os.path.join(HERE, "expected.json"), "--artifact", artifact]
        if a.record:
            args += ["--record", a.record]
        log = os.path.join(BUILD, "last-run.log")
        try:
            with open(log, "w") as lf:
                p = java(cp, "perfbench.Main", args, stdout=subprocess.PIPE, stderr=lf, text=True,
                         extra=[f"-Djava.io.tmpdir={os.path.join(state, 'tmp')}"])
                try:
                    out, _ = p.communicate(timeout=a.timeout)
                except subprocess.TimeoutExpired:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
                    fail(f"run timed out after {a.timeout} s; see {log}")
        finally:
            shutil.rmtree(state, ignore_errors=True)
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"run failed (exit {p.returncode}); see {log}")
    result = json.loads(lines[-1])
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
