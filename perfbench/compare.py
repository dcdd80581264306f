"""Compare two sets of run records, refusing runs whose fixtures differ.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds the JSON records ``run.py`` writes (for instance a
copy of ``perfbench/_work/records`` taken on each commit). Runs pair up
by workload, seed and trace flag. A pair whose fixtures differ in
SHA-256 or size is refused, with a non-zero exit: the inputs changed
(a fixture writer changed, say), so the two runs measured different
things. For each workload and metric the medians of both sides and
their ratio are printed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> dict:
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        runs.setdefault((rec["workload"], rec["seed"], rec["trace"]), []).append(rec)
    return runs


def fixture_mismatches(before: dict, after: dict) -> list[str]:
    out = []
    for key in sorted(set(before) & set(after)):
        fixtures = {json.dumps(r["fixtures"], sort_keys=True) for r in before[key] + after[key]}
        if len(fixtures) > 1:
            out.append("%s seed %s trace %s" % key)
    return out


def metrics_of(rec: dict) -> dict:
    return rec.get("layers") or rec["e2e"]


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    bad = fixture_mismatches(before, after)
    if bad:
        print("refusing to compare: fixtures differ for " + ", ".join(bad), file=sys.stderr)
        return 1
    shared = sorted(set(before) & set(after))
    if not shared:
        print("no runs share a workload, seed and trace flag", file=sys.stderr)
        return 1
    for workload, trace in sorted({(w, t) for w, _, t in shared}):
        keys = [k for k in shared if k[0] == workload and k[2] == trace]
        b = [metrics_of(r) for k in keys for r in before[k]]
        a = [metrics_of(r) for k in keys for r in after[k]]
        print(f"# {workload} trace={trace}: {len(b)} runs before, {len(a)} after, seeds {sorted(k[1] for k in keys)}")
        for name in b[0]:
            mb = statistics.median(m[name] for m in b)
            ma = statistics.median(m[name] for m in a if name in m)
            ratio = f"{ma / mb:.3f}" if mb else "n/a"
            print(f"#   {name:28s} {mb:12.6g} -> {ma:12.6g}  x{ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
