#!/usr/bin/env python3
"""Run one benchmark workload against the engine of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt compiles ../src/main/scala
together with perfbench/src); later runs reuse the build while the sources
are unchanged. Everything the run writes stays under .bench_build/ and
perfbench/target/. The last line of stdout is the result object.

With --trace 1 the workload runs twice with the same seed, untraced and
then traced; the result carries the traced run's per-layer metrics and
trace.overhead_pct, the median over end-to-end metrics of how far the
traced run's value moved from the untraced one.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
# Both JVM runs of a traced invocation share this budget.
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def run_child(cp, a, trace, deadline):
    """One JVM run of the workload; returns (exit code, stdout lines)."""
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(trace),
              "--work", work])
    err_path = os.path.join(BUILD, f"last_run_trace{trace}.err")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)

        def stop_child(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop_child)
        signal.signal(signal.SIGINT, stop_child)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (stderr in {err_path})")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        with open(err_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run ended with code {proc.returncode} and no result")
    return proc.returncode, lines


def trace_overhead(untraced, traced_report):
    """Per end-to-end metric, how much the traced run's median moved from
    the untraced run's value, in percent; and the median of those."""
    moved = {}
    for m, v in untraced["metrics"].items():
        t = traced_report["metrics"].get(m)
        if t and t["median"] is not None and v["value"]:
            moved[m] = 100.0 * (t["median"] / v["value"] - 1.0)
    return moved, (statistics.median(moved.values()) if moved else 0.0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"no engine sources under {os.path.relpath(ENGINE, ROOT)}; "
             "run from the root of a checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")
    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S

    if a.trace == 0:
        rc, lines = run_child(cp, a, 0, deadline)
        for l in lines:
            print(l)
        sys.stdout.flush()
        sys.exit(rc)

    # traced: an untraced run of the same seed first, then the traced run;
    # the overhead is how far tracing moved the end-to-end figures
    rc0, lines0 = run_child(cp, a, 0, deadline)
    rc1, lines1 = run_child(cp, a, 1, deadline)
    untraced = json.loads(lines0[-1])
    result = json.loads(lines1[-1])
    reports = [l for l in lines1 if l.startswith("report ")]
    moved, overhead = trace_overhead(
        untraced, json.loads(reports[-1][len("report "):]) if reports
        else {"metrics": {}})
    for l in lines1[:-1]:
        print(l)
    print("untraced " + lines0[-1])
    print("trace_moved_pct " + json.dumps(moved))
    result["metrics"]["trace.overhead_pct"] = {"value": overhead, "unit": "%"}
    result["correct"] = result["correct"] and untraced["correct"]
    result["attempted"] += untraced["attempted"]
    result["failed"] += untraced["failed"]
    print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(rc1 or rc0)


if __name__ == "__main__":
    main()
