#!/usr/bin/env python3
"""Per-query diff of two graft.obs.QueryReport runs.

For every query in either report it prints the warm median wall time of
each side (with that side's warm spread), the relative change, the job
count, the driver gap, the median warm rep's Janino compiles ("-" for a
report written before QueryReport recorded them), and whether the two cold-rep plans
(`<stem>.plans/<query>.txt` next to each JSONL) are equal once the ids
that differ between two runs of identical code are masked: expression ids
(`#123`, `#123L`), `plan_id=123` and generated lambda names. RDD ids
(`RDD[123]`, set by how many RDDs the session made before) and source
call-site lines (`Staging.scala:28`) of a scanned checkpoint are masked too,
so an edit elsewhere in a file does not read as a plan change, and so are
the identity hashes of objects printed by their default `toString`
(`VecOps$VecAvg@1a2b3c`), which differ between any two JVMs.

Usage: python3 tools/report_diff.py A.jsonl B.jsonl
       e.g. A = perf/local4_before.jsonl, B = a fresh QueryReport run.
"""
import json
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"Lambda[^,]*"), "Lambda_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"\.scala:\d+"), ".scala:_"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]+\b"), "@_"),
]


def mask(text):
    for pat, repl in MASKS:
        text = pat.sub(repl, text)
    return text


def load(path):
    recs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                recs[r["query"]] = r
    return recs


def plan_text(jsonl, query):
    """Masked plan of `query`, or None. QueryReport writes it under the
    report's stem: `<stem>.jsonl` -> `<stem>.plans/<query>.txt`."""
    stem = jsonl[: -len(".jsonl")] if jsonl.endswith(".jsonl") else jsonl
    path = os.path.join(stem + ".plans", query + ".txt")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return mask(f.read())


def status(rec):
    return "absent" if not rec else rec.get("error", "ok")


def main(argv):
    if len(argv) != 3:
        print("usage: report_diff.py A.jsonl B.jsonl", file=sys.stderr)
        return 2
    a_path, b_path = argv[1], argv[2]
    a, b = load(a_path), load(b_path)
    hdr = (f"{'query':<28} {'A warm_s (spread)':>18} {'B warm_s (spread)':>18} {'delta':>7}"
           f" {'jobs A>B':>9} {'gap_s A>B':>12} {'compiles A>B':>13}  plan")
    print(hdr)
    n_plan_diff = 0
    for q in sorted(set(a) | set(b)):
        ra, rb = a.get(q, {}), b.get(q, {})
        if not ra or not rb or "error" in ra or "error" in rb:
            print(f"{q:<28} A: {status(ra)}  B: {status(rb)}")
            continue
        ma, mb = ra["warm_median_s"], rb["warm_median_s"]
        delta = f"{(mb - ma) / ma:+.0%}" if ma else "-"
        pa, pb = plan_text(a_path, q), plan_text(b_path, q)
        if pa is None or pb is None:
            plan = "absent"
        elif pa == pb:
            plan = "same"
        else:
            plan = "DIFF"
            n_plan_diff += 1
        print(f"{q:<28} {ma:>7.3f} ({ra['warm_spread']:>5.2f})    "
              f"{mb:>7.3f} ({rb['warm_spread']:>5.2f})    {delta:>7}"
              f" {ra['jobs']:>4}>{rb['jobs']:<4} {ra['driver_gap_s']:>5.2f}>"
              f"{rb['driver_gap_s']:<6.2f} {ra.get('compiles', '-'):>6}>{rb.get('compiles', '-'):<6}  {plan}")
    print(f"{n_plan_diff} plan(s) differ after masking")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
