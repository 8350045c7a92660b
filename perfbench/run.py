#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 25 --trace 0

Builds the program and the harness from source with sbt when their
sources changed since the last build, then starts ONE fresh JVM from the
compiled classpath (not through `sbt run`, so set-up time measures the
program, not sbt) at local[nproc] with a fixed heap. The last line of
standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). A traced run also writes its spans to
.bench_build/traces/ and reports its overhead against the untraced run of
the same workload and seed, when one was made in this checkout.

Extra flags for the benchmark's own smoke test (perfbench/smoke.py):
--size tiny, --inject-read-failure, --perturb-model.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
LAUNCH_DIR = os.path.join(HERE, "target", "launch")
HEAP = "3g"
RUN_DEADLINE_S = 170          # a run must end within 180 s
BUILD_TIMEOUT_S = 700         # the first run in a checkout builds; it must end in 900 s

# Names a run of this program could leave in the system temp directory.
TMP_MARKERS = ("spark", "blockmgr", "hsperfdata", "graft", "sds-", "ingest-bench", "scale-",
               "perfbench", "snappy", "zstd", "lz4", "liblz4", "jna", "parquet")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Files whose content decides the build: program and harness sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_id(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def ensure_built(files):
    """Build with sbt unless the stamp says these exact sources are built."""
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    stamp = source_id(files)
    have = all(os.path.isfile(os.path.join(LAUNCH_DIR, f)) for f in ("classpath.txt", "jvm_options.txt"))
    if have and os.path.isfile(stamp_file) and open(stamp_file).read().strip() == stamp:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "build.log")
    log(f"building program and harness with sbt (log: {os.path.relpath(log_path, ROOT)})")
    t = time.time()
    tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log_path, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            f"-Djava.io.tmpdir={tmp}", "writeLaunch"], cwd=HERE, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
                           env=dict(os.environ, TMPDIR=tmp))
    if r.returncode != 0:
        sys.exit(f"build failed (exit {r.returncode}); see {log_path}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t:.1f} s")


def tmp_entries():
    d = tempfile.gettempdir()
    try:
        return d, set(os.listdir(d))
    except OSError:
        return d, set()


def run_jvm(args, work, out, spans, cores, deadline):
    classpath = open(os.path.join(LAUNCH_DIR, "classpath.txt")).read().split()
    opts = [o for o in open(os.path.join(LAUNCH_DIR, "jvm_options.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    jtmp = os.path.join(work, "tmp")
    os.makedirs(jtmp)
    cmd = [java, *opts, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", out, "--size", args.size,
           "--cores", str(cores), "--launched-ms", str(int(time.time() * 1000)),
           "--inject-read-failure", "1" if args.inject_read_failure else "0",
           "--perturb-model", "1" if args.perturb_model else "0"]
    if spans:
        cmd += ["--spans", spans]
    env = dict(os.environ, TMPDIR=jtmp)
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr, env=env, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(max(1.0, deadline - time.time()), kill)
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    try:  # anything the JVM left behind in its process group
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    if timed_out.is_set():
        sys.exit("run exceeded its deadline; the JVM was killed")
    if proc.returncode != 0:
        sys.exit(f"harness JVM failed with exit code {proc.returncode}")
    return usage.ru_maxrss / 1024.0  # KiB → MiB


def main():
    start = time.time()
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["catchup", "reorg_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--inject-read-failure", action="store_true")
    p.add_argument("--perturb-model", action="store_true")
    args = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        sys.exit("program sources not found beside the benchmark (build.sbt, src/main)")
    if shutil.which("sbt") is None and not os.path.isdir(LAUNCH_DIR):
        sys.exit("sbt not found and no previous build")

    files = build_inputs()
    ensure_built(files)
    build_s = time.time() - start
    deadline = start + (RUN_DEADLINE_S if build_s < 5 else build_s + RUN_DEADLINE_S)

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    sid = git_sha() or f"src-{source_id(files)}"
    os.makedirs(BUILD_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=BUILD_DIR)
    out = os.path.join(work, "result.json")
    stamp = time.strftime("%Y%m%dT%H%M%S")
    spans = None
    if args.trace:
        os.makedirs(os.path.join(BUILD_DIR, "traces"), exist_ok=True)
        spans = os.path.join(BUILD_DIR, "traces", f"{args.workload}-seed{args.seed}-{stamp}.jsonl")
    tmp_dir, tmp_before = tmp_entries()
    try:
        rss_mb = run_jvm(args, work, out, spans, cores, deadline)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the system temp directory must not grow
    res["attempted"] += 1
    leaked = sorted(e for e in tmp_entries()[1] - tmp_before if any(m in e.lower() for m in TMP_MARKERS))
    if leaked:
        res["failed"] += 1
        res["correct"] = False
        res["failures"].append(f"left in {tmp_dir}: {leaked}")

    info = dict(res["info"], nproc=cores, jdk=res["info"]["jdk"], source=sid, heap=HEAP,
                python=platform.python_version(), peak_rss_mb=rss_mb)
    log("run: " + json.dumps(info, sort_keys=True))
    for f in res["failures"]:
        log(f"FAILED: {f}")

    results_dir = os.path.join(BUILD_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    record = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}.json")
    with open(record, "w") as fh:
        json.dump({"info": info, "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
                   "failures": res["failures"]}, fh, indent=1, sort_keys=True)

    if args.trace:
        metrics = dict(res["per_layer"])
        metrics["jvm.peak_rss_mb"] = {"value": rss_mb, "unit": "MiB"}
        report_overhead(args, res["end_to_end"], spans)
    else:
        metrics = res["end_to_end"]

    error_rate = res["failed"] / max(1, res["attempted"])
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"source={sid} nproc={cores}")
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value'] if m['value'] is not None else float('nan'):>14.4f} {m['unit']}")
    print(f"  {'error_rate':40s} {error_rate:>14.4f} fraction ({res['failed']}/{res['attempted']})")
    print(f"  correct: {res['correct']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def report_overhead(args, traced, spans):
    """Traced minus untraced end-to-end numbers, same workload and seed."""
    base = os.path.join(BUILD_DIR, "results", f"{args.workload}-seed{args.seed}-trace0-{args.size}.json")
    if not os.path.isfile(base):
        log(f"tracing overhead: no untraced run of {args.workload} seed {args.seed} in this checkout to compare")
        return
    with open(base) as fh:
        untraced = json.load(fh)["end_to_end"]
    rows = {}
    for k, m in traced.items():
        u = untraced.get(k, {}).get("value")
        t = m["value"]
        if u is not None and t is not None:
            rows[k] = {"traced": t, "untraced": u, "delta": t - u, "share": (t - u) / u if u else None}
    log("tracing overhead (traced - untraced):")
    for k, r in rows.items():
        share = f"{r['share']:+.1%}" if r["share"] is not None else "n/a"
        log(f"  {k:28s} {r['traced']:12.4f} - {r['untraced']:12.4f} = {r['delta']:+12.4f} ({share})")
    if spans:
        with open(spans[:-len(".jsonl")] + "-overhead.json", "w") as fh:
            json.dump(rows, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
