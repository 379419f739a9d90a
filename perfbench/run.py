#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

usage: python3 perfbench/run.py --workload {stream,curate}
                                --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The first run builds the library
and the benchmark with sbt into .bench_build/; later runs reuse the build
while the sources are unchanged. The last line of stdout is one JSON
object: correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). Full records, spans and the
JVM log of each run are kept under .bench_build/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream", "curate")
DEADLINE_S = 170          # every run must end within 180 s
BUILD_DEADLINE_S = 600    # the first run of a checkout may take 900 s
BUSY_LIMIT = 0.5          # share of CPU time used by others before the run
LATE_LIMIT_MS = 100.0     # open-loop generator lateness, p99

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*.*"), recursive=True)
        + glob.glob(os.path.join(BENCH, "src", "main", "**", "*.*"), recursive=True)
        + [os.path.join(d, f) for d in (ROOT, BENCH)
           for f in ("build.sbt", os.path.join("project", "build.properties"))])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the last build used the same sources."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    log("building with sbt")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S).returncode
    if rc != 0:
        tail(os.path.join(BUILD, "build.log"))
        raise SystemExit(f"build failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), True


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            for line in f.readlines()[-n:]:
                sys.stderr.write(line)
    except OSError:
        pass


def cpu_times():
    """All CPUs' time counters: user, nice, system, idle, iowait, irq,
    softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_busy_share(window_s=0.25):
    """Share of all CPUs' time spent busy over a short window before the
    run starts: work by other processes on the box."""
    v0 = cpu_times()
    time.sleep(window_s)
    d = [b - a for a, b in zip(v0, cpu_times())]
    return 1.0 - (d[3] + d[4]) / max(1, sum(d))


def run_jvm(cp, args, work, deadline):
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm_log = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(jvm_log), exist_ok=True)
    with open(jvm_log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            tail(jvm_log)
            raise SystemExit("benchmark JVM exceeded its time limit")
    if rc != 0:
        tail(jvm_log)
        raise SystemExit(f"benchmark JVM failed (exit {rc})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "GraftSession.scala")):
        raise SystemExit("library sources not found: run from the root of a full source checkout")

    started = time.monotonic()
    cp, built = build()
    deadline = (time.monotonic() if built else started) + DEADLINE_S
    busy = cpu_busy_share()
    work = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        v0 = cpu_times()
        run_jvm(cp, args, work, deadline)
        d = [b - a for a, b in zip(v0, cpu_times())]
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        if res.get("oracle"):
            import oracle
            bad = oracle.check(res["oracle"], os.path.join(work, "inputs", "corpus"))
            res["failed"] += len(bad)
            res["notes"] += bad
        for src, dst in (("spans.jsonl", "traces"),):
            if os.path.exists(os.path.join(work, src)):
                os.makedirs(os.path.join(BUILD, dst), exist_ok=True)
                shutil.copy(os.path.join(work, src),
                            os.path.join(BUILD, dst, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    v = res["validity"]
    v["busy_share_before"] = busy
    # time the hypervisor withheld from this VM while the JVM ran
    v["steal_share"] = d[7] / max(1, sum(d))
    invalid = []
    if busy > BUSY_LIMIT:
        invalid.append(f"box busy before the run: {busy:.2f} of CPU time used by others")
    if v["gen_late_ms_p99"] > LATE_LIMIT_MS:
        invalid.append(f"open-loop generator fell behind: p99 lateness {v['gen_late_ms_p99']:.1f} ms")
    v["invalid"] = invalid
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    for note in res["notes"] + invalid:
        log(note)
    # an invalid run is never reported as a correct, normal result
    correct = res["failed"] == 0 and not invalid
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    sys.path.insert(0, BENCH)
    main()
