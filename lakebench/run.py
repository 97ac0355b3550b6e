#!/usr/bin/env python3
"""Run one lake benchmark workload and print its metrics.

    python3 lakebench/run.py --workload versioned_writes --seed 1 \
        --seconds 15 --trace 0

Builds the engine and the runner if needed (see build.py), runs the
workload in one JVM at local[N] (N = min(2, nproc)), checks its outputs,
prints a human-readable report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the per-layer ones from a traced run. The full result
(every metric, per-operation-kind breakdown, spans, stamps) is written
to .bench_build/results/. Exits non-zero if the build, the run or an
output check fails.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave the checkout as it was
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analyze  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("versioned_writes", "interactive_reads", "batch_pipeline")
RUN_LIMIT_S = 170  # for the run itself; a first run also builds first
# Spark tasks on two cores leave the rest of a small box to the client
# thread, JIT and GC, so that runs measure the engine, not the scheduler
CORES = min(2, os.cpu_count() or 1)

JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
    "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def git_sha(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # an exported checkout: the source hash stands in
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    load_start = os.getloadavg()

    try:
        classes, digest = build.build()
    except build.BuildError as e:
        fail(str(e))
    build_s = time.time() - started
    run_started = time.time()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD_DIR, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + JVM_OPTS
           + ["-cp", f"{classes}:{jars}", "lakebench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(CORES), "--work", work, "--out", record_path])
    log_path = os.path.join(build.BUILD_DIR, "runs", tag + ".log")
    # a terminated run still stops its JVM and waits for it
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S - (time.time() - run_started))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s; log: {log_path}")
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        fail(f"runner exited with {rc}; log: {log_path}\n{tail}")
    with open(record_path) as f:
        record = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    result = analyze.summarize(record, args.trace == 1)
    stamp = {"nproc": os.cpu_count(), "cores": CORES,
             "load_start": load_start, "load_end": os.getloadavg(),
             "git_sha": git_sha(build.ROOT), "source_sha": digest[:16],
             "build_s": round(build_s, 1),
             "wall_s": round(time.time() - started, 1)}
    phase = "untraced_a" if args.trace else "measure"
    e2e, summary = analyze.end_to_end(record, phase)
    report = {"stamp": stamp, "meta": record["meta"],
              "end_to_end": e2e, "op_latency": summary,
              "typed": analyze.typed_metrics(record, phase),
              "per_kind": analyze.per_kind(record, "traced" if args.trace else phase),
              "result": result}
    if args.trace:
        report["per_layer"] = result["metrics"]
    os.makedirs(os.path.join(build.BUILD_DIR, "results"), exist_ok=True)
    out = os.path.join(build.BUILD_DIR, "results", tag + ".json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    # the raw record: every operation, check and (traced) span and job
    with open(os.path.join(build.BUILD_DIR, "results", tag + ".record.json"), "w") as f:
        json.dump(record, f)

    print(f"lakebench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={stamp['nproc']} cores={CORES} "
          f"load={load_start[0]:.2f}->{stamp['load_end'][0]:.2f} "
          f"sha={stamp['git_sha'] or stamp['source_sha']}")
    print(f"  ops: {len(record['ops'])} attempted, {result['failed']} failed; "
          f"tail = p{summary['tail_pct']} of {summary['n']}")
    for name, unit in analyze.END_TO_END + analyze.END_TO_END_UNBOUNDED:
        print(f"  {name:28s} {_fmt(e2e[name])} {unit}")
    for name, s in report["typed"].items():
        if isinstance(s, dict):
            print(f"  {name:28s} {_fmt(s['p50'])} ms  (n={s['n']}, "
                  f"p{s['tail_pct']}={_fmt(s['tail'])} ms)")
        else:
            unit = "rows/s" if name == "rows_per_s" else "ratio"
            print(f"  {name:28s} {_fmt(s)} {unit}")
    print(f"  result file: {os.path.relpath(out, build.ROOT)}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def _fmt(v):
    return "-" if v is None else f"{v:.4f}"


if __name__ == "__main__":
    main()
