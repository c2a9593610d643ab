#!/usr/bin/env python3
"""Summarise the result files that perfbench/run.py leaves in .bench_build/results.

    python3 perfbench/report.py [--results DIR] [--size full|tiny]

Reads the result files of the most recent build only. Prints, per workload:
  - each end-to-end metric as the median of untraced and of traced runs,
    and their ratio (the tracing overhead);
  - a per-layer table from the traced runs: calls, wall, self and driver
    time, jobs and tasks per span;
  - the spans whose structural counters (jobs, stages, tasks,
    files_rewritten, bytes_written) differ between traced runs with one seed;
  - whether runs with one seed wrote the same output (curate_corpus's
    training-table hash). Exits 1 if they did not.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STRUCTURAL = ("jobs", "stages", "tasks", "files_rewritten", "bytes_written")


def load(results):
    """The result files of the most recent build, oldest first."""
    runs = []
    for f in sorted(results.glob("*.json"), key=lambda f: f.stat().st_mtime):
        try:
            runs.append(json.loads(f.read_text()))
        except (OSError, ValueError):
            continue
    latest = runs[-1]["provenance"]["source_sha256"] if runs else None
    return [r for r in runs if r["provenance"]["source_sha256"] == latest]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def overhead(runs):
    plain = [r for r in runs if not r["trace"]]
    traced = [r for r in runs if r["trace"]]
    names = list((plain or traced)[0]["end_to_end"])
    print(f"  {'metric':22s} {'untraced':>12s} {'traced':>12s} {'traced/untraced':>16s}"
          f"   (runs: {len(plain)} untraced, {len(traced)} traced)")
    for m in names:
        a = median([r["end_to_end"][m]["value"] for r in plain])
        b = median([r["end_to_end"][m]["value"] for r in traced])
        ratio = b / a if a else float("nan")
        print(f"  {m:22s} {a:12.4g} {b:12.4g} {ratio:16.3f}")


def layers(traced):
    spans = sorted({k.rsplit(".", 1)[0] for r in traced for k in r["per_layer"]
                    if k.endswith(".wall_ms")})
    cols = ("calls", "wall_ms", "self_ms", "driver_ms", "jobs", "tasks")
    print("  " + f"{'span':32s}" + "".join(f"{c:>11s}" for c in cols))
    for s in spans:
        vals = [median([r["per_layer"].get(f"{s}.{c}", 0.0) for r in traced
                        if f"{s}.wall_ms" in r["per_layer"]]) for c in cols]
        print("  " + f"{s:32s}" + "".join(f"{v:11.1f}" for v in vals))
    for k in sorted(k for k in traced[0]["per_layer"] if k.count(".") == 1):
        print(f"  {k:32s}{median([r['per_layer'].get(k, 0.0) for r in traced]):11.1f}")


def repeatability(traced):
    by_seed = defaultdict(list)
    for r in traced:
        by_seed[r["seed"]].append(r["per_layer"])
    differing = set()
    pairs = 0
    for runs in by_seed.values():
        for other in runs[1:]:
            pairs += 1
            for k, v in runs[0].items():
                if k.rsplit(".", 1)[-1] in STRUCTURAL and not k.startswith("spark.") \
                        and other.get(k) != v:
                    differing.add(f"{k} ({v:g} vs {other.get(k, 0):g})")
    if not pairs:
        print("  (needs two traced runs with one seed)")
    elif not differing:
        print(f"  all structural counters repeat ({pairs} pair(s) of runs)")
    else:
        for d in sorted(differing):
            print(f"  differs: {d}")


def same_output(runs):
    """True unless two runs with one seed wrote different outputs."""
    hashes = defaultdict(set)
    for r in runs:
        if "output_hash" in r["details"]:
            hashes[r["seed"]].add(r["details"]["output_hash"])
    if not hashes:
        return True
    bad = {s: h for s, h in hashes.items() if len(h) > 1}
    print(f"  -- output hash: {'DIFFERS for seeds ' + str(sorted(bad)) if bad else 'repeats'}"
          f" ({len(hashes)} seed(s))")
    return not bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--results", type=Path, default=ROOT / ".bench_build" / "results")
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    by_workload = defaultdict(list)
    for r in load(args.results):
        if r.get("size") == args.size:
            by_workload[r["workload"]].append(r)
    if not by_workload:
        print(f"no {args.size}-size results under {args.results}")
        return
    repeats = True
    for w, runs in sorted(by_workload.items()):
        print(f"== {w}")
        overhead(runs)
        traced = [r for r in runs if r["trace"]]
        if traced:
            print(f"  -- per layer (median of {len(traced)} traced runs)")
            layers(traced)
            print("  -- repeatability")
            repeatability(traced)
        repeats &= same_output(runs)
    if not repeats:
        sys.exit(1)


if __name__ == "__main__":
    main()
