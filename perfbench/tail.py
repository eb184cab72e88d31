#!/usr/bin/env python3
"""Pooled figures over a set of benchmark runs, from their artifacts.

    python3 perfbench/tail.py [artifact dir]

The default directory is <build dir>/perfbench/artifacts, where run.py
leaves one artifact per run (build dir: $CARGO_TARGET_DIR or .bench_build).
Per workload it prints, over the untraced runs, the median pass time,
pass_s_tail (the highest percentile of the pooled pass times that still
has at least 10 samples beyond it, with its sample count), failed_frac,
and the runs that started on a loaded box; over the traced runs, the
tracing overhead (traced against untraced passes of the same runs).
"""
import glob
import json
import os
import statistics
import sys


def tail(samples):
    """(value, percentile) of the highest percentile with >= 10 samples beyond it."""
    s = sorted(samples)
    if len(s) < 11:
        return None, None
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def main():
    default = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench", "artifacts")
    art_dir = sys.argv[1] if len(sys.argv) > 1 else default
    runs = {}
    for f in sorted(glob.glob(os.path.join(art_dir, "*.json"))):
        a = json.load(open(f))
        runs.setdefault(a["workload"], []).append(a)
    if not runs:
        print(f"no artifacts in {art_dir}", file=sys.stderr)
        sys.exit(1)
    for wl, arts in sorted(runs.items()):
        plain = [a for a in arts if a["trace"] == 0]
        traced = [a for a in arts if a["trace"] == 1]
        samples = [x for a in plain for x in a["pass_s_samples"]]
        attempted = sum(a["attempted"] for a in arts)
        failed = sum(a["failed"] for a in arts)
        loaded = sum(a["host"]["loaded_at_start"] for a in arts)
        line = f"{wl}: {len(plain)} untraced runs, {len(traced)} traced"
        if samples:
            value, pct = tail(samples)
            line += f"; pass_s median {statistics.median(samples):.3f} s over {len(samples)} passes"
            line += (f"; pass_s_tail p{pct:.1f} = {value:.3f} s ({len(samples)} samples)" if value
                     else f"; pass_s_tail needs 11+ samples, have {len(samples)}")
        line += f"; failed_frac {failed}/{attempted}"
        if loaded:
            line += f"; {loaded} runs started on a loaded box"
        if traced:
            over = [a["result"]["layers"]["trace.overhead_frac"]["value"] for a in traced]
            line += f"; tracing overhead median {100 * statistics.median(over):+.1f} %"
        print(line)


if __name__ == "__main__":
    main()
