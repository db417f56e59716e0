#!/usr/bin/env python3
"""Compare two sets of benchmark run records.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl   # parent vs change
    python3 perfbench/compare.py --self RUNS.jsonl      # self-agreement

Each file holds the records `perfbench/run.py` appends to
`.bench_build/records/<workload>.jsonl` (several files may be joined with
commas).  Untraced records give the end-to-end metrics; for each
workload and metric the command prints n, median and quartiles of both
sides, the pairs the new side won (runs paired by seed) and a verdict
with the bound from BENCHMARK.json:

- worse (failures): the new side failed a larger share of its
  operations; a faster side that fails more is never a gain;
- improved: the new side wins at least 9/10 of the pairs and the
  medians differ by more than the base's interquartile distance;
- no worse: the new median is within the bound of the base median;
- worse: it is not, and the spread is within the bound;
- unresolved: either side's quartile spread exceeds the bound and the
  new side does not read better on every run.

`--self` splits one set into its first and second half, in record order,
and compares them: two halves of the same code should read "no worse"
everywhere, and every spread (except setup_s's) should sit inside its
bound.  Runs flagged for starting on a busy box (`env.above_load_limit`)
are listed and left out of both sides.
`--traced` prints the tracing overhead of the given records: the
traced median minus the untraced median of each end-to-end metric.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(spec, traced):
    recs = []
    for path in spec.split(","):
        with open(path) as f:
            recs.extend(json.loads(line) for line in f if line.strip())
    return [r for r in recs if bool(r.get("trace")) == traced]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def failure_share(recs):
    return sum(r["failed"] for r in recs) / max(1, sum(r["attempted"] for r in recs))


def verdict(base, new, bound, lower_better):
    """base, new: lists of (record, value)."""
    b1, bm, b3 = quartiles([v for _, v in base])
    n1, nm, n3 = quartiles([v for _, v in new])
    sign = 1 if lower_better else -1
    by_seed_b = {r["env"]["seed"]: v for r, v in base}
    pairs = [(by_seed_b[r["env"]["seed"]], v) for r, v in new if r["env"]["seed"] in by_seed_b]
    won = sum(1 for b, n in pairs if sign * (b - n) > 0)
    spread = max((b3 - b1) / bm, (n3 - n1) / nm) if bm and nm else 0.0
    worse_by = sign * (nm - bm) / bm if bm else 0.0
    all_better = all(sign * (bv - nv) > 0 for _, nv in new for _, bv in base)
    if failure_share([r for r, _ in new]) > failure_share([r for r, _ in base]):
        v = "worse (failures)"
    elif pairs and won >= 0.9 * len(pairs) and sign * (bm - nm) > (b3 - b1):
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by <= bound:
        v = "no worse"
    else:
        v = "worse"
    return v, won, len(pairs), spread, worse_by


def drop_flagged(side, recs):
    """Runs that started on a busy box, listed and left out."""
    kept = []
    for r in recs:
        if r["env"].get("above_load_limit"):
            print(f"{side}: left out {r['workload']} seed {r['env']['seed']}: started with "
                  f"{r['env'].get('runnable_pre')} other runnable processes "
                  f"(load1 {r['env'].get('load1_pre')})")
        else:
            kept.append(r)
    return kept


def report(base, new, bench):
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = sorted({r["workload"] for r in base + new})
    ok = True
    print(f"{'workload':12s} {'metric':18s} {'n':>5s} {'base median [q1,q3]':>30s} "
          f"{'new median [q1,q3]':>30s} {'won':>6s} {'spread':>7s} {'bound':>6s} verdict")
    for w in workloads:
        for name, m in bounds.items():
            b = [(r, r["e2e"][name]) for r in base if r["workload"] == w and name in r["e2e"]]
            n = [(r, r["e2e"][name]) for r in new if r["workload"] == w and name in r["e2e"]]
            if not b or not n:
                continue
            v, won, npairs, spread, _ = verdict(b, n, m["bound"], m["better"] == "lower")
            bq, nq = quartiles([x for _, x in b]), quartiles([x for _, x in n])
            print(f"{w:12s} {name:18s} {len(b):2d}/{len(n):<2d} "
                  f"{bq[1]:12.5g} [{bq[0]:.4g},{bq[2]:.4g}]".ljust(62) +
                  f"{nq[1]:12.5g} [{nq[0]:.4g},{nq[2]:.4g}]".ljust(31) +
                  f" {won:2d}/{npairs:<3d} {spread:7.3f} {m['bound']:6.3f} {v}")
            ok &= v in ("improved", "no worse") and (name == "setup_s" or spread <= m["bound"])
    return ok


def overhead(specs, bench):
    """Tracing overhead: traced median minus untraced median per metric."""
    traced = [r for spec in specs for r in load(spec, True)]
    plain = [r for spec in specs for r in load(spec, False)]
    print("tracing overhead (traced median - untraced median):")
    for w in sorted({r["workload"] for r in traced}):
        for m in bench["end_to_end"]:
            t = [r["e2e"][m["name"]] for r in traced if r["workload"] == w]
            u = [r["e2e"][m["name"]] for r in plain if r["workload"] == w]
            if t and u:
                d = statistics.median(t) - statistics.median(u)
                print(f"  {w:12s} {m['name']:18s} {d:+.4g} {m['unit']} "
                      f"({d / statistics.median(u):+.1%}, n={len(t)}/{len(u)})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--self", dest="self_check", action="store_true")
    ap.add_argument("--traced", action="store_true",
                    help="print the tracing overhead of the given records")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.traced:
        overhead([s for s in (args.base, args.new) if s], bench)
        return
    if args.self_check:
        recs = load(args.base, False)
        base, new = [], []
        for w in sorted({r["workload"] for r in recs}):
            mine = [r for r in recs if r["workload"] == w]
            base += mine[:len(mine) // 2]
            new += mine[len(mine) // 2:]
    elif args.new:
        base, new = load(args.base, False), load(args.new, False)
    else:
        ap.error("give two record sets, or --self, or --traced")
    base, new = drop_flagged("base", base), drop_flagged("new", new)
    sys.exit(0 if report(base, new, bench) else 1)


if __name__ == "__main__":
    main()
