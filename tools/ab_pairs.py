#!/usr/bin/env python3
"""Same-hour A/B pairs of the graft benchmark in two checkouts.

    python3 tools/ab_pairs.py --base ../parent --change . \
        --workload table_dml --seeds 501-510 [--seconds 15]

For every seed it runs `python3 graftbench/run.py --trace 0` once in each
checkout, alternating which side runs first (the first seed starts with
the base), so slow drift of the machine lands on both sides alike. Each checkout
builds its own benchmark classes on its first run. It prints one line per
pair as it finishes, then, per metric, each side's median and quartiles,
the ratio of the medians, how many pairs the change won, and whether the
gap between the medians exceeds the base's interquartile range. Which way
is better comes from the change checkout's BENCHMARK.json; a metric it
does not name is summarized without wins.

The summary arithmetic is pure functions, self-tested by
tools/test_ab_pairs.py:

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """`501-510` or `1,4,9` (or a mix) as a list of ints, in order."""
    seeds = []
    for part in text.split(","):
        part = part.strip()
        if not part:
            continue
        if "-" in part:
            lo, hi = (int(x) for x in part.split("-", 1))
            if hi < lo:
                raise ValueError("seed range %s runs backwards" % part)
            seeds.extend(range(lo, hi + 1))
        else:
            seeds.append(int(part))
    if not seeds:
        raise ValueError("no seeds in %r" % text)
    return seeds


def order(i):
    """Sides in run order for the i-th pair (0-based): base first on even
    pairs, change first on odd ones."""
    return ("base", "change") if i % 2 == 0 else ("change", "base")


def directions(benchmark):
    """Metric name -> "higher" or "lower", from a BENCHMARK.json object."""
    out = {}
    for key in ("end_to_end", "per_layer"):
        for m in benchmark.get(key, []):
            if m.get("better") in ("higher", "lower"):
                out[m["name"]] = m["better"]
    return out


def result_line(stdout):
    """The benchmark's result object: the last stdout line that parses as
    JSON with a `metrics` map, or None."""
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and isinstance(obj.get("metrics"), dict):
            return obj
    return None


def values(result):
    """Metric name -> value of one result object ({} for a missing run)."""
    if not result:
        return {}
    return {k: v["value"] for k, v in result["metrics"].items()
            if isinstance(v, dict) and isinstance(v.get("value"), (int, float))}


def quartiles(xs):
    """(q1, median, q3) of a non-empty sample; the inclusive method, so
    one or two values give their own spread."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base, change, better):
    """+1 when `change` beats `base` in direction `better`, -1 when it
    loses, 0 on a tie."""
    if base == change:
        return 0
    won = change > base if better == "higher" else change < base
    return 1 if won else -1


def summarize(pairs, better=None):
    """Summary of one metric over `pairs`, a list of (base, change) values
    of the pairs where both sides ran: each side's quartiles, the ratio of
    the change's median to the base's, and, when `better` is known, the
    wins, losses and ties of the change, the gap between the medians
    (`gap`, positive when the change is better) and whether it exceeds
    the base's interquartile range (`clears`)."""
    if not pairs:
        return None
    b = quartiles([p[0] for p in pairs])
    c = quartiles([p[1] for p in pairs])
    out = {"n": len(pairs), "base": b, "change": c,
           "ratio": (c[1] / b[1]) if b[1] else None}
    if better:
        vs = [verdict(x, y, better) for x, y in pairs]
        gap = c[1] - b[1] if better == "higher" else b[1] - c[1]
        out.update(wins=vs.count(1), losses=vs.count(-1), ties=vs.count(0),
                   better=better, gap=gap, clears=gap > b[2] - b[0])
    return out


def fmt(x):
    return "%.4g" % x


def pair_line(seed, first, base, change, names):
    """One printed line per pair: the seed, which side ran first, and
    base -> change per metric."""
    parts = []
    for n in names:
        bv, cv = base.get(n), change.get(n)
        parts.append("%s %s -> %s" % (n, "-" if bv is None else fmt(bv),
                                      "-" if cv is None else fmt(cv)))
    return "seed %d (%s first): %s" % (seed, first, "; ".join(parts))


def summary_line(name, s):
    """One printed line per metric summary from `summarize`."""
    if s is None:
        return "%s: no pair with both sides" % name
    b, c = s["base"], s["change"]
    line = ("%s: base median %s [q1 %s, q3 %s] change median %s [q1 %s, q3 %s]"
            % (name, fmt(b[1]), fmt(b[0]), fmt(b[2]), fmt(c[1]), fmt(c[0]), fmt(c[2])))
    if s["ratio"] is not None:
        line += " x%.3f" % s["ratio"]
    if "wins" in s:
        line += ("; %s better in %d/%d pairs (%d ties); median %s by %s, base IQR %s%s"
                 % (s["better"], s["wins"], s["n"], s["ties"],
                    "better" if s["gap"] >= 0 else "worse", fmt(abs(s["gap"])),
                    fmt(b[2] - b[0]), " (cleared)" if s["clears"] else ""))
    return line


def run_side(checkout, workload, seed, seconds):
    """Runs the benchmark once, untraced, in `checkout`; returns (result
    or None, exit code)."""
    cmd = [sys.executable, os.path.join("graftbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    return result_line(proc.stdout), proc.returncode


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 501-510 or 1,4,9")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--metrics", help="comma-separated names to report (default: all)")
    args = ap.parse_args(argv)
    seeds = parse_seeds(args.seeds)
    bench = os.path.join(args.change, "BENCHMARK.json")
    better = {}
    if os.path.exists(bench):
        with open(bench) as fh:
            better = directions(json.load(fh))
    dirs = {"base": args.base, "change": args.change}
    rows = []
    for i, seed in enumerate(seeds):
        got = {}
        for side in order(i):
            res, code = run_side(dirs[side], args.workload, seed, args.seconds)
            got[side] = values(res)
            if code != 0 or res is None or not res.get("correct", False):
                print("seed %d %s: exit %d, %s" % (seed, side, code,
                      "no result line" if res is None else
                      "correct=%s failed=%s" % (res.get("correct"), res.get("failed"))))
        names = (args.metrics.split(",") if args.metrics
                 else sorted(set(got["base"]) | set(got["change"])))
        rows.append((seed, got))
        print(pair_line(seed, order(i)[0], got["base"], got["change"], names), flush=True)
    names = (args.metrics.split(",") if args.metrics
             else sorted({n for _, g in rows for side in g.values() for n in side}))
    print("== %s, %d pairs" % (args.workload, len(rows)))
    for n in names:
        pairs = [(g["base"][n], g["change"][n]) for _, g in rows
                 if n in g["base"] and n in g["change"]]
        print(summary_line(n, summarize(pairs, better.get(n))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
