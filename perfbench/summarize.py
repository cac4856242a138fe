#!/usr/bin/env python3
"""Span summariser for traced benchmark runs.

    python3 perfbench/summarize.py [SPAN_FILE ...]

Reads the span files that `run.py --trace 1` writes (default: every
perfbench/out/spans_*.jsonl) and prints, per workload and run:
  - each per-layer metric with its unit;
  - self time per span name (a span's duration minus the part of it its
    child spans cover), over the timed ops and over the set-up reps;
  - the tracing overhead the run measured (`trace.overhead_s`: median
    traced op minus median untraced op of the workload's main kind).
"""
import collections
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_s is None or a > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """name -> (count, total ms, self ms)."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        row = out[s["name"]]
        row[0] += 1
        row[1] += dur
        row[2] += dur - covered(kids, s["start_ms"], s["end_ms"])
    return out


def load(path):
    recs = collections.defaultdict(list)
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs[r["type"]].append(r)
    return recs


def table(rows, header):
    print(f"  {header[0]:<28} {header[1]:>6} {header[2]:>12} {header[3]:>12}")
    for name, (n, total, self_ms) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"  {name:<28} {n:>6} {total:>12.1f} {self_ms:>12.1f}")


def summarize(path):
    recs = load(path)
    run = recs["run"][0]
    man = run["manifest"]
    print(f"== {run['workload']}  seed {man['seed']}  commit {man['commit'][:12]}  "
          f"cores {man['cores']}/{man['nproc']}  ({os.path.basename(path)})")
    print(f"inputs: {json.dumps(run['inputs'])}")
    if recs["end_to_end"]:
        print("end-to-end (untraced ops of this run):")
        for name, m in recs["end_to_end"][0]["metrics"].items():
            print(f"  {name:<34} {m['value']!s:>22} {m['unit']:<8} n={m['n']}")
    if recs["per_layer"]:
        print("per-layer (means over traced ops):")
        for name, m in recs["per_layer"][0]["metrics"].items():
            v = "n/a" if m["value"] is None else f"{m['value']:.6g}"
            print(f"  {name:<34} {v:>22} {m['unit']}")
    spans = recs["span"]
    for label, pick in (("timed ops", lambda s: s["op"] > 0), ("set-up reps", lambda s: s["op"] < 0)):
        chosen = [s for s in spans if pick(s)]
        if chosen:
            print(f"self time per span name, {label} (ms):")
            table(self_times(chosen), ("span", "count", "total", "self"))
    layer = recs["per_layer"][0]["metrics"] if recs["per_layer"] else {}
    over, frac = (layer.get(k, {}).get("value") for k in ("trace.overhead_s", "trace.overhead_frac"))
    print("tracing overhead: " + ("n/a (needs traced and untraced ops of the main kind)" if over is None
                                  else f"{over:+.4f} s ({frac:+.1%})"))
    print()


def main(paths):
    paths = paths or sorted(glob.glob(os.path.join(HERE, "out", "spans_*.jsonl")))
    if not paths:
        print("no span files: run `python3 perfbench/run.py --workload W --trace 1` first",
              file=sys.stderr)
        return 1
    for p in paths:
        summarize(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
