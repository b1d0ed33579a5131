#!/usr/bin/env python3
"""Sync/CDC benchmark: one run of one workload.

    python3 syncbench/run.py --rate W=EVENTS_PER_S ... \
        --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark
from source with sbt (offline; the first run of a checkout builds, later
runs reuse the build while the sources are unchanged), runs the workload
in one JVM and prints the result as the last line of standard output.
Traced runs also leave their spans in syncbench/.out/.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
OUT = HERE / ".out"
WORKLOADS = ("snapshot_stream_jdbc", "cdc_state_monitored")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 780


def log(msg):
    print(f"[syncbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the two builds compile from, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Classpath and JVM options, building first if the sources changed."""
    launch, stamp = BUILD / "launch.txt", BUILD / "stamp"
    fp = fingerprint()
    if not (launch.is_file() and stamp.is_file() and stamp.read_text() == fp):
        BUILD.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
        t = time.time()
        with open(BUILD / "build.log", "w") as out:
            p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            code = wait(p, BUILD_TIMEOUT_S)
        if code != 0:
            sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
            log(f"build failed (exit {code})")
            sys.exit(1)
        stamp.write_text(fp)
        log(f"built in {time.time() - t:.0f}s")
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:]


def wait(p, timeout):
    """Wait for `p`; on timeout kill its whole process group."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"killed after {timeout}s")
        return -9


def run_jvm(cp, opts, a, rate, trace, untraced_drain=None):
    work = OUT / f"run-{a.workload}-{a.seed}-{os.getpid()}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = ["java", *opts, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "syncbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(trace), "--rate", str(rate),
           "--work", str(work), "--out", str(result)]
    if untraced_drain is not None:
        cmd += ["--untraced-drain", repr(untraced_drain)]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    code = wait(p, RUN_TIMEOUT_S)
    text = result.read_text() if result.is_file() else None
    shutil.rmtree(work, ignore_errors=True)
    return code, text


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--rate", action="append", default=[],
                    help="WORKLOAD=EVENTS_PER_S, the paced phase's fixed rate")
    a = ap.parse_args()
    rates = dict(r.split("=", 1) for r in a.rate)
    if a.workload not in rates:
        ap.error(f"no --rate for {a.workload}")
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        log(f"no program sources under {ROOT}: run from the root of a checkout")
        sys.exit(2)
    cp, opts = build()
    OUT.mkdir(exist_ok=True)
    ref = OUT / f"untraced-{a.workload}.jsonl"
    untraced = None
    if a.trace and ref.is_file():
        # tracing overhead: the traced drain against the untraced runs
        # recorded in this checkout (reported as 0 before there are any)
        untraced = statistics.median(json.loads(l)["drain_events_per_s"]
                                     for l in ref.read_text().splitlines())
    elif a.trace:
        log("no untraced run recorded yet: trace.overhead_pct reads 0")
    code, text = run_jvm(cp, opts, a, rates[a.workload], a.trace, untraced)
    if text is None:
        log(f"run failed (exit {code}) without a result")
        sys.exit(code or 1)
    if not a.trace and code == 0:
        record(ref, a.seed, text)
    print(text, flush=True)
    sys.exit(code)


def record(ref, seed, text):
    m = json.loads(text)["metrics"]
    with open(ref, "a") as f:
        f.write(json.dumps({"seed": seed, "drain_events_per_s":
                            m["drain_events_per_s"]["value"]}) + "\n")


if __name__ == "__main__":
    main()
