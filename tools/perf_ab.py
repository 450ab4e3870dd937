#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload between two checkouts.

    python3 tools/perf_ab.py --parent <dir> --change <dir> \
        --workload <graph_analytics|cypher_wire> --seeds 11-20 \
        --out <dir> [--seconds 10] [--trace 0]

Runs `python3 perfbench/run.py` in each checkout once per seed, the
side that runs first alternating from pair to pair (even pairs: parent
first). Each run's raw stdout is kept as `<out>/<side>-<seed>.out`
(stderr as `.err`); a run whose output file already holds a result
line is not run again, so an interrupted A/B resumes, and
`--summarize-only` only summarizes what `<out>` holds.

For every end-to-end metric of BENCHMARK.json the summary prints each
side's median and quartiles, the pairs the change won (by the metric's
direction), and the gap between the medians next to the parent's
interquartile range. Because `pass_s` is the median of however many
passes a run completed, it also prints the median of each pass index
from the report's `pass_seconds`, so runs of different pass counts can
be compared pass for pass, and both host canary readings.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def parse(path):
    """(report, result) of one run's stdout; None for a missing part."""
    report = result = None
    if not os.path.exists(path):
        return None, None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("report "):
                report = json.loads(line[len("report "):])
            elif line.startswith("{") and '"correct"' in line:
                result = json.loads(line)
    return report, result


def run(checkout, args, seed, out_path):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", args.trace]
    with open(out_path, "w") as out, open(out_path[:-4] + ".err", "w") as err:
        subprocess.run(cmd, cwd=checkout, stdout=out, stderr=err)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return f"{x:.4g}"


def summarize(args, seeds, metrics):
    runs = {s: {} for s in SIDES}
    for side in SIDES:
        for seed in seeds:
            rep, res = parse(os.path.join(args.out, f"{side}-{seed}.out"))
            if rep is not None and res is not None:
                runs[side][seed] = (rep, res)
    paired = [s for s in seeds if all(s in runs[side] for side in SIDES)]
    print(f"{args.workload}: {len(paired)} complete pairs, seeds "
          f"{','.join(map(str, paired))}")
    for side in SIDES:
        bad = [s for s, (_, res) in runs[side].items()
               if res.get("correct") is not True or res.get("failed")]
        if bad:
            print(f"  {side}: incorrect or failed ops on seeds {bad}")
    if not paired:
        return

    def value(side, seed, name):
        return runs[side][seed][0]["metrics"][name]["value"]

    print(f"\n{'metric':<16}{'parent median [q1, q3]':<32}"
          f"{'change median [q1, q3]':<32}{'gap':>9}{'parent IQR':>12}{'won':>7}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        cols = {}
        for side in SIDES:
            q1, q2, q3 = quartiles([value(side, s, name) for s in paired])
            cols[side] = (q1, q2, q3)
        won = sum(1 for s in paired
                  if (value("change", s, name) < value("parent", s, name)) == lower
                  and value("change", s, name) != value("parent", s, name))
        gap = cols["change"][1] - cols["parent"][1]
        iqr = cols["parent"][2] - cols["parent"][0]
        rel = gap / cols["parent"][1] * 100 if cols["parent"][1] else float("nan")
        print(f"{name:<16}"
              + "".join(f"{fmt(c[1]) + ' [' + fmt(c[0]) + ', ' + fmt(c[2]) + ']':<32}"
                        for c in (cols["parent"], cols["change"]))
              + f"{fmt(gap):>9}{fmt(iqr):>12}{str(won) + '/' + str(len(paired)):>7}"
              + f"   ({rel:+.1f} %)")

    print("\npass seconds by pass index: median [q1, q3] (runs)")
    for side in SIDES:
        per = {}
        for s in paired:
            for i, x in enumerate(runs[side][s][0]["pass_seconds"]):
                per.setdefault(i, []).append(x)
        cells = []
        for i in sorted(per):
            q1, q2, q3 = quartiles(per[i])
            cells.append(f"#{i + 1} {fmt(q2)} [{fmt(q1)}, {fmt(q3)}] ({len(per[i])})")
        print(f"  {side:<7} " + "   ".join(cells))

    print("\nhost canary seconds: median [q1, q3]")
    for side in SIDES:
        cells = []
        for name in ("host.canary_before_s", "host.canary_after_s"):
            q1, q2, q3 = quartiles([value(side, s, name) for s in paired])
            cells.append(f"{name.split('.')[1]} {fmt(q2)} [{fmt(q1)}, {fmt(q3)}]")
        print(f"  {side:<7} " + "   ".join(cells))

    print("\nper pair: seed, first side, pass_s parent / change, passes parent / change")
    for s in paired:
        first = SIDES[seeds.index(s) % 2]
        print(f"  {s:>4} {first:<7} {fmt(value('parent', s, 'pass_s'))} / "
              f"{fmt(value('change', s, 'pass_s'))}   "
              f"{len(runs['parent'][s][0]['pass_seconds'])} / "
              f"{len(runs['change'][s][0]['pass_seconds'])}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True,
                    choices=("graph_analytics", "cypher_wire"))
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,3,5-7")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--summarize-only", action="store_true",
                    help="run nothing; summarize the outputs in --out")
    args = ap.parse_args()
    seeds = seeds_of(args.seeds)
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
    if not args.summarize_only:
        for i, seed in enumerate(seeds):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for side in order:
                path = os.path.join(args.out, f"{side}-{seed}.out")
                if parse(path)[1] is None:
                    print(f"perf_ab: {args.workload} seed {seed} {side}",
                          file=sys.stderr, flush=True)
                    run(checkouts[side], args, seed, path)
    summarize(args, seeds, metrics)


if __name__ == "__main__":
    main()
