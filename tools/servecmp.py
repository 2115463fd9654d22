#!/usr/bin/env python3
"""Compare paired parent/change runs of the serving benchmark.

    python3 tools/servecmp.py <runs-dir> [BENCHMARK.json]

<runs-dir> holds the stdout of each `servebench/run.py --trace 0` run as
`<workload>-<pair>-parent.out` and `<workload>-<pair>-change.out`; a
pair is the two runs made back to back on one seed, and the side that
runs first should alternate from pair to pair.  Each file's last line is
the run's JSON object {"correct", "attempted", "failed", "metrics"}, each
metric as {"unit", "value"}; a run without one is reported and left out
with its pair.

For every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the change's wins out of the pairs (ties
count for neither side), the relative move of the median against the
metric's bound, and whether the gain rule holds: the change wins at
least nine tenths of the pairs and the medians differ by more than the
parent's interquartile range.  Failed operations are summed per side.
"""
import json
import re
import statistics
import sys
from pathlib import Path

NAME = re.compile(r"^(?P<workload>.+)-(?P<pair>\d+)-(?P<side>parent|change)\.out$")


def last_json(path):
    """The run's result, or None for a run that printed none."""
    for line in reversed(path.read_text().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load(runs_dir):
    """{workload: {pair: {side: result}}}, complete pairs only."""
    runs = {}
    for p in sorted(Path(runs_dir).iterdir()):
        m = NAME.match(p.name)
        if not m:
            continue
        result = last_json(p)
        if result is None:
            print(f"skipped {p.name}: no result line", file=sys.stderr)
        else:
            runs.setdefault(m["workload"], {}).setdefault(int(m["pair"]), {})[m["side"]] = result
    return {w: {k: v for k, v in pairs.items() if len(v) == 2} for w, pairs in runs.items()}


def compare(pairs, metric, better, bound):
    """One metric's row over complete pairs, or None when no pair has it."""
    rows = [(v["parent"]["metrics"].get(metric), v["change"]["metrics"].get(metric))
            for _, v in sorted(pairs.items())]
    rows = [(p["value"], c["value"]) for p, c in rows if p is not None and c is not None]
    if not rows:
        return None
    par = [p for p, _ in rows]
    chg = [c for _, c in rows]
    sign = -1 if better == "lower" else 1
    wins = sum(1 for p, c in rows if sign * (c - p) > 0)
    pq, cq = quartiles(par), quartiles(chg)
    gap = sign * (cq[1] - pq[1])
    iqr = pq[2] - pq[0]
    move = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    return {
        "metric": metric, "n": len(rows), "parent": pq, "change": cq, "wins": wins,
        "move": move, "worse_than_bound": sign * move < -bound,
        "gain_holds": wins * 10 >= 9 * len(rows) and gap > iqr, "iqr": iqr,
    }


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    bench = Path(argv[2]) if len(argv) > 2 else Path(__file__).resolve().parent.parent / "BENCHMARK.json"
    metrics = json.loads(bench.read_text())["end_to_end"]
    for workload, pairs in sorted(load(argv[1]).items()):
        failed = {s: sum(v[s]["failed"] for v in pairs.values()) for s in ("parent", "change")}
        print(f"{workload}: {len(pairs)} pairs, failed operations "
              f"parent {failed['parent']}, change {failed['change']}")
        print(f"  {'metric':14s} {'parent median [q1, q3]':>28s} {'change median [q1, q3]':>28s}"
              f" {'wins':>6s} {'move':>7s}  gain rule")
        for m in metrics:
            r = compare(pairs, m["name"], m["better"], m["bound"])
            if r is None:
                continue
            fmt = lambda q: f"{q[1]:.2f} [{q[0]:.2f}, {q[2]:.2f}]"
            flag = "  BEYOND BOUND" if r["worse_than_bound"] else ""
            print(f"  {r['metric']:14s} {fmt(r['parent']):>28s} {fmt(r['change']):>28s}"
                  f" {r['wins']:>2d}/{r['n']:<3d} {100 * r['move']:+6.1f}%  "
                  f"{'holds' if r['gain_holds'] else 'no'} (parent IQR {r['iqr']:.2f}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
