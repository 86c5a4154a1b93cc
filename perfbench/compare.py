#!/usr/bin/env python3
"""Compare benchmark result sets, or report one set's spread.

    python3 perfbench/compare.py BASE CHANGE   # per (metric, workload) verdicts
    python3 perfbench/compare.py BASE          # spread of one set only

BASE and CHANGE are results files written by perfbench/run.py (JSON lines,
one per run) or directories holding such files. Only untraced runs count;
metrics, directions and bounds come from BENCHMARK.json. Each workload's
failures (the result lines' failed / attempted) are printed per side.

For each (metric, workload): sample count, median and quartiles
(statistics.quantiles, n=4) of each side, the spread (quartile distance
over median), the share of pairs the change won (runs paired by seed, else
by order; ties count for neither) and a verdict:

  better      the change won at least 9/10 of the pairs and the medians
              differ by more than BASE's quartile distance
  worse       the change's median is worse than BASE's by more than the bound
  unresolved  not worse by the bound, but a side's spread exceeds the bound
              and not every change run beats every base run
  unchanged   otherwise

With one set, each spread is marked against the bound and a third of it
(the steadiness target). A workload whose CHANGE runs fail a larger share
of their operations than BASE's is worse on every metric, whatever the
timings say. Exit status: 1 if any verdict is worse or unresolved, or
(one set) any spread exceeds its bound or any operation failed.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def load(path):
    """({(metric, workload): [(seed, value)]}, {workload: [failed, attempted]})"""
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    runs, fails = {}, {}
    for fn in files:
        with open(fn) as f:
            for line in f:
                r = json.loads(line)
                if "result" not in r or r.get("trace") != 0:
                    continue
                res = r["result"]
                fa = fails.setdefault(r["workload"], [0, 0])
                fa[0] += res["failed"]
                fa[1] += res["attempted"]
                for name, m in res["metrics"].items():
                    runs.setdefault((name, r["workload"]), []).append((r["seed"], m["value"]))
    return runs, fails


def summary(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
    med = statistics.median(vals)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def pairs(a, b):
    sa, sb = dict(a), dict(b)
    common = sorted(set(sa) & set(sb))
    if common:
        return [(sa[s], sb[s]) for s in common]
    return list(zip([v for _, v in a], [v for _, v in b]))


def verdict(m, a, b):
    sign = 1 if m["better"] == "higher" else -1
    va, vb = [v for _, v in a], [v for _, v in b]
    ma, qa1, qa3, spa = summary(va)
    mb, _, _, spb = summary(vb)
    ps = pairs(a, b)
    won = sum(1 for x, y in ps if (y - x) * sign > 0) / len(ps)
    gain = (mb - ma) / ma * sign
    if won >= 0.9 and gain > 0 and abs(mb - ma) > qa3 - qa1:
        v = "better"
    elif -gain > m["bound"]:
        v = "worse"
    elif (spa > m["bound"] or spb > m["bound"]) and not all((y - x) * sign > 0 for x in va for y in vb):
        v = "unresolved"
    else:
        v = "unchanged"
    return won, gain, v


def main(argv):
    if len(argv) not in (1, 2):
        sys.exit(__doc__)
    metrics = spec()["end_to_end"]
    loaded = [load(p) for p in argv]
    sets = [runs for runs, _ in loaded]
    fails = [f for _, f in loaded]
    bad = False
    more_failures = set()
    for wl in sorted(fails[0]):
        ratios = [f.get(wl, [0, 0]) for f in fails]
        print(f"failures {wl:16s} " + " | ".join(f"{x}/{n}" for x, n in ratios))
        if len(fails) == 1:
            bad |= ratios[0][0] > 0
        elif ratios[1][1] and ratios[1][0] / ratios[1][1] > ratios[0][0] / ratios[0][1]:
            more_failures.add(wl)
    for m in metrics:
        for wl in sorted({w for (n, w) in sets[0] if n == m["name"]}):
            key = (m["name"], wl)
            a = sets[0][key]
            med, q1, q3, sp = summary([v for _, v in a])
            row = (f"{m['name']:16s} {wl:16s} n={len(a):2d} median={med:<10.5g} q1={q1:<10.5g} "
                   f"q3={q3:<10.5g} spread={sp:6.3f} bound={m['bound']}")
            if len(sets) == 1:
                flag = "ok" if sp < m["bound"] / 3 else ("within bound" if sp <= m["bound"] else "TOO WIDE")
                bad |= sp > m["bound"]
                print(f"{row}  {flag}")
                continue
            b = sets[1].get(key)
            if not b:
                print(f"{row}  missing in change set")
                bad = True
                continue
            mb, qb1, qb3, spb = summary([v for _, v in b])
            won, gain, v = verdict(m, a, b)
            if wl in more_failures:
                v = "worse (more failures)"
            bad |= v != "better" and v != "unchanged"
            print(f"{row} | change n={len(b):2d} median={mb:<10.5g} q1={qb1:<10.5g} q3={qb3:<10.5g} "
                  f"spread={spb:6.3f} | gain={gain:+.3f} won={won:.2f} -> {v}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
