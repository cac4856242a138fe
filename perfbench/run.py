#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest --seed N

Builds the program from source when needed (perfbench/build.py), then
runs one JVM: a Spark local[N] session (N = min(4, nproc)) driven by
one closed-loop client thread. Workloads: segment_scan,
druid_interactive, segment_ingest, doc_dedup (see BASELINE.md).

Stdout ends with one JSON line {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The line before it is a report with every
figure under its workload-specific name, sample counts, input sizes
and the run manifest. A traced run also writes its spans to
perfbench/out/spans_<workload>_s<seed>.jsonl (see summarize.py).

Every run works in a fresh perfbench/.work/run-* directory (deep
storage roots, Spark scratch, JVM temp files) and deletes it at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build file, beside this one)

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "out")
WORKLOADS = ["segment_scan", "druid_interactive", "segment_ingest", "doc_dedup"]
RUN_TIMEOUT_S = 170


def commit_id(stamp):
    try:
        r = subprocess.run(["git", "-C", HERE, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"source-{stamp}"


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true",
                   help="check generator determinism and the oracles on a second seed")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    try:
        cp, stamp = build.ensure()
        java = build.java()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    jvm = build.jvm_flags(tmp)
    args = ["--seed", str(a.seed), "--work", work, "--commit", commit_id(stamp)]
    if a.selftest:
        args += ["--selftest"]
        tag = f"selftest_s{a.seed}"
    else:
        args += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.trace:
            args += ["--spans", os.path.join(OUT, f"spans_{a.workload}_s{a.seed}.jsonl")]
        tag = f"{a.workload}_s{a.seed}_t{a.trace}"
    log_path = os.path.join(OUT, f"log_{tag}.txt")
    cmd = [java, *jvm, "-cp", cp, "graft.perfbench.Main", *args]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s; log in {log_path}", file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if proc.returncode == 0 and lines and not a.selftest:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
        if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            result = None
    for l in lines[:-1] if result else lines:
        print(l)
    if proc.returncode != 0 or (result is None and not a.selftest):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(f"perfbench: run failed (exit {proc.returncode}); log tail:\n{tail}", file=sys.stderr)
        return 1
    if result is not None:
        print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
