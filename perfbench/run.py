#!/usr/bin/env python3
"""Benchmark entry point: builds graft and the benchmark from source, runs one
workload in a fresh JVM, and prints the report.

    python3 perfbench/run.py --workload etl_relational --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the lines before it
print every metric by name with its unit. `--trace 1` reports the per-layer
metrics instead and writes the span file to .bench_out/.

    python3 perfbench/run.py --record-fingerprints --seeds 0-99 [--workload W]

regenerates perfbench/fingerprints.json (all workloads, or only W), the input
hashes a run must match.
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

BENCH = "perfbench"
BUILD = ".bench_build"
OUT = ".bench_out"
WORKLOADS = ["etl_relational", "stream_ingest"]
# a run (JVM) must end within this; the first run of a checkout also builds,
# within BUILD_LIMIT_S
HARD_LIMIT_S = 170
BUILD_LIMIT_S = 700
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

children = []


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_children(*_):
    for p in children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_children()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s")


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties", f"{BENCH}/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(deadline):
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = f"{BUILD}/classpath.txt", f"{BUILD}/stamp.txt"
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log = f"{BUILD}/build.log"
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         max(60, deadline - time.time()), cwd=BENCH, env=env,
                         stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java(cp, args, work, timeout, log):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.abspath(BENCH)}/log4j2.properties",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as out:
        return run_child(cmd, timeout, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)


def load_fingerprints():
    with open(f"{BENCH}/fingerprints.json") as f:
        return json.load(f)


def record(cp, workloads, seeds, deadline):
    table = load_fingerprints()
    for w in workloads:
        work = os.path.abspath(f"{BUILD}/work-fp-{os.getpid()}")
        try:
            log = f"{BUILD}/fingerprints-{w}.log"
            code = java(cp, ["--fingerprints", "--workload", w, "--seeds", seeds, "--work", work],
                        work, max(60, deadline - time.time()), log)
            if code != 0:
                fail(f"fingerprint run for {w} failed; see {log}")
            with open(log) as f:
                table[w] = {l.split()[1]: l.split()[2] for l in f if l.startswith("FINGERPRINT ")}
        finally:
            shutil.rmtree(work, ignore_errors=True)
    with open(f"{BENCH}/fingerprints.json", "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    ap.add_argument("--seeds", default="0-31")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    # graft is built from this checkout's sources; without them there is
    # nothing to measure
    for need in ["build.sbt", "src/main/scala/graft", f"{BENCH}/build.sbt", f"{BENCH}/fingerprints.json"]:
        if not os.path.exists(need):
            fail(f"'{need}' not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = classpath(time.time() + BUILD_LIMIT_S)
    if a.record_fingerprints:
        record(cp, [a.workload] if a.workload else WORKLOADS, a.seeds, time.time() + 1800)
        return
    if a.workload is None or a.seed is None:
        fail("--workload and --seed are required")

    work = os.path.abspath(f"{BUILD}/work-{os.getpid()}")
    os.makedirs(OUT, exist_ok=True)
    result = f"{work}/result.json"
    spans = os.path.abspath(f"{OUT}/spans-{a.workload}-seed{a.seed}.json")
    log = f"{BUILD}/run-{a.workload}-seed{a.seed}-trace{a.trace}.log"
    try:
        code = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--work", work, "--result", result, "--spans", spans],
                    work, HARD_LIMIT_S, log)
        if code != 0 or not os.path.exists(result):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with {code}", 1)
        with open(result) as f:
            rep = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)

    notes = rep["notes"]
    recorded = load_fingerprints().get(a.workload, {}).get(str(a.seed))
    if recorded is not None and recorded != notes["fingerprint"]:
        fail(f"input fingerprint {notes['fingerprint']} differs from the recorded {recorded} "
             f"for {a.workload} seed {a.seed}: the inputs are not the measured bytes", 3)

    for name, m in rep["metrics"].items():
        print(f"{a.workload} {name} {m['value']} {m['unit']}")
    for k, v in notes.items():
        print(f"{a.workload} {k} {v}")
    print(json.dumps({k: rep[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    try:
        main()
    finally:
        stop_children()
