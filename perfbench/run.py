#!/usr/bin/env python3
"""Workload benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_mor --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source (sbt, offline) into the
checkout, runs one workload in a fresh JVM, checks its outputs, and prints
one JSON line last on stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. Everything the run writes stays under
the checkout's build directory (.bench_build, or $CARGO_TARGET_DIR); the
run's warehouse, checkpoints and temp files are deleted afterwards. A
record of each run (environment, percentiles, sample counts, per-layer
self times) is kept under <build dir>/records.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("serve_mor", "stream_dedup")
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this
BUILD_LIMIT_S = 800
JDK17_OPENS = [
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


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def build_inputs(root):
    """Files whose content decides the build: engine and harness sources
    and both build definitions."""
    out = []
    for base in ("src/main", "perfbench/src/main"):
        for dirpath, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(dirpath, f) for f in files]
    for d in ("", "project", "perfbench", "perfbench/project"):
        full = os.path.join(root, d)
        if os.path.isdir(full):
            out += [os.path.join(full, f) for f in os.listdir(full)
                    if f.endswith((".sbt", ".properties", ".scala"))]
    return sorted(out)


def fingerprint(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    return env


def build(root, build_dir):
    """Compile engine + harness (sbt, offline) unless the sources are
    unchanged since the last build; returns the runtime classpath and the
    sources' fingerprint."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} is missing: run from the root of a graft checkout")
    stamp = os.path.join(build_dir, "classpath.json")
    fp = fingerprint(build_inputs(root), root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp and all(
                os.path.exists(p) for p in cached["classpath"].split(":")[:2]):
            return cached["classpath"], fp
    log("building engine and harness (sbt, offline) ...")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(),
            stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if "perfbench/target" in ln and ".jar" in ln and not ln.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1],
                   "build_s": time.time() - t0}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1], fp


def driver_heap():
    """The tier-1 driver heap: half of RAM in whole GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def filesystem(path):
    """Filesystem type of the mount holding `path`, from /proc/mounts."""
    best, fs = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, fs = mnt, parts[2]
    except OSError:
        pass
    return fs


def environment(root, build_dir, fp):
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    commit = ""
    if os.path.isdir(os.path.join(root, ".git")):
        g = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True)
        commit = g.stdout.strip()
    return {
        "nproc": nproc(), "heap": driver_heap(),
        "jdk": (java.stderr.splitlines() or ["unknown"])[0],
        "commit": commit or "unknown (not a git checkout)",
        "build_fingerprint": fp,
        "warehouse_fs": filesystem(os.path.realpath(build_dir)),
        "flush_policy": "no fsync: writes land in the page cache, kernel writeback",
    }


def untraced_loop_s(records_dir, args, fp):
    """Median loop wall of the recorded untraced runs of this build with
    this workload, seed and length: the same operations as a traced run."""
    vals = []
    if os.path.isdir(records_dir):
        for f in os.listdir(records_dir):
            if not f.endswith(f"-{args.workload}-s{args.seed}-t0.json"):
                continue
            try:
                with open(os.path.join(records_dir, f)) as fh:
                    rec = json.load(fh)
                if (rec["result"]["correct"] and rec["seconds"] == args.seconds
                        and rec["env"]["build_fingerprint"] == fp):
                    vals.append(rec["loop_s"])
            except (OSError, ValueError, KeyError, TypeError):
                pass
    return statistics.median(vals) if vals else None


def run_once(root, build_dir, cp, fp, args, trace, reference, deadline):
    env_rec = environment(root, build_dir, fp)
    tag = f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}-{args.workload}-s{args.seed}-t{trace}"
    work = os.path.join(build_dir, "runs", tag)
    records = os.path.join(build_dir, "records")
    record = os.path.join(records, tag + ".json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    cmd = ["java", f"-Xmx{env_rec['heap']}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work-dir", work, "--record", record]
    if reference is not None:
        cmd += ["--reference-loop-s", repr(reference)]
    load_before = loadavg()
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, start_new_session=True,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    load_after = loadavg()
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark process exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark process printed no result")
    with open(record) as f:
        rec = json.load(f)
    # the 1-minute loadavg after a run includes the run's own nproc threads,
    # so contention is judged by the load the run started under
    env_rec.update(loadavg_before=load_before, loadavg_after=load_after,
                   contended=load_before > env_rec["nproc"])
    rec["env"] = env_rec
    rec["result"] = result
    with open(record, "w") as f:
        json.dump(rec, f, indent=1)
    return result, rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp, fp = build(root, build_dir)
    deadline = time.time() + RUN_LIMIT_S

    reference = None
    if args.trace == 1:
        reference = untraced_loop_s(os.path.join(build_dir, "records"), args, fp)
        if reference is None:
            log("no untraced run of this build and seed recorded yet: "
                "running one for the overhead reference")
            _, rec = run_once(root, build_dir, cp, fp, args, 0, None, deadline)
            reference = rec["loop_s"]
    result, rec = run_once(root, build_dir, cp, fp, args, args.trace, reference, deadline)
    # BENCHMARK.json names the metrics a run reports; the harness measures
    # more (all of it stays in the run's record)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        named = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in named if n not in result["metrics"]]
    if missing:
        fail(f"the harness reported no {', '.join(missing)}")
    result["metrics"] = {n: result["metrics"][n] for n in named}

    env = rec["env"]
    log(f"{args.workload} seed={args.seed} digest={rec['digest'][:16]} "
        f"nproc={env['nproc']} heap={env['heap']} fs={env['warehouse_fs']} "
        f"loadavg={env['loadavg_before']:.2f}->{env['loadavg_after']:.2f}"
        + (" CONTENDED" if env["contended"] else ""))
    for k, m in result["metrics"].items():
        extra = ""
        if k == "load_tail_s":
            extra = f"  (p{rec['load_tail_percentile']:.0f}, n={rec['loads']})"
        elif k == "query_tail_s":
            extra = f"  (p{rec['query_tail_percentile']:.0f}, n={rec['queries']})"
        log(f"  {k} = {m['value']} {m['unit']}{extra}")
    if args.trace == 1:
        log(f"  named-layer self times {rec['layers']} cover "
            f"{100 * rec['coverage']:.1f}% of the loop wall")
    for e in rec.get("errors", []):
        log(f"  error: {e}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
