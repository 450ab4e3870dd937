#!/usr/bin/env python3
"""Pin bench/medians.json from ONE clean REPS=3 Bench recording.

Usage: pin_medians.py rec.log [out.json]

Round-11 methodology (replaces round-9/10's min-merge): the per-entry
value of a `SPARK_GRAFT_REPS=3 runMain graft.Bench` run is already the
MEDIAN of three warm reps; one clean recording on a quiet box becomes
the baseline directly. The min-merge of multiple recordings produced a
best-ever-warm anchor this box could not reproduce (round-10 verdict:
txt_bigram_topk sustained 2.7x over its min-merged median) — a median
the instrument cannot re-measure is fiction, and the flags it produces
erode trust in the gate. Cold-pass allowance lives in the gate's
per-family band multipliers (Bench.scala), not in the baseline.

Prints the adjudication diff against the previous medians file so
every entry moving >1.5x is visible (and documentable in BASELINE.md)
at pin time.
"""
import json
import sys
from pathlib import Path


def load(path):
    for ln in open(path, errors="replace"):
        if '"metric"' in ln and '"queries"' in ln:
            rec = json.loads(ln[ln.index('{'):])
            failed = rec.get("failed", {})
            if failed:
                # an entry with no successful rep has no time; pinning the
                # rest would silently drop it from the gate
                raise SystemExit(f"{path}: refusing to pin a recording with "
                                 f"{len(failed)} failed entries: "
                                 f"{', '.join(sorted(failed))}")
            return rec["queries"]
    raise SystemExit(f"no bench JSON line in {path}")


def main():
    rec = load(sys.argv[1])
    out = sys.argv[2] if len(sys.argv) > 2 else "bench/medians.json"
    old = {}
    if Path(out).exists():
        old = json.load(open(out))
    json.dump(dict(sorted(rec.items())), open(out, "w"), indent=1)
    print(f"pinned {len(rec)} entries -> {out}; total={sum(rec.values()):.1f}s"
          f" (was {len(old)} entries, {sum(old.values()):.1f}s)")
    moved = [(k, old[k], rec[k]) for k in rec if k in old
             and max(rec[k], old[k]) / max(min(rec[k], old[k]), 1e-9) > 1.5
             and abs(rec[k] - old[k]) > 0.5]
    print(f"{len(moved)} entries moved >1.5x vs the previous file "
          "(adjudicate in BASELINE.md):")
    for k, o, n in sorted(moved, key=lambda t: -max(t[1], t[2]) / min(t[1], t[2])):
        print(f"  {k:35s} old={o:6.2f} new={n:6.2f} ({n / o:4.2f}x)")
    gone = sorted(set(old) - set(rec))
    new = sorted(set(rec) - set(old))
    if gone:
        print(f"dropped ({len(gone)}): {', '.join(gone)}")
    if new:
        print(f"added ({len(new)}): {', '.join(new)}")


if __name__ == "__main__":
    main()
