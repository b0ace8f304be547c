"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/run.py --workload clf_batch --seed 1 --trace 0 --out base.jsonl
    ...                                                       --out change.jsonl
    python3 perfbench/compare.py base.jsonl change.jsonl

For each end-to-end metric it prints both sides' median and quartiles,
their spread (quartile distance over the median) and the change of the
median. A metric whose spread on either side exceeds its bound is
reported as unresolved, unless every run of one side beats every run
of the other. For each per-layer metric (from ``--trace 1`` runs) it
prints both medians and their difference.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summary(values: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def verdict(a: list[float], b: list[float], bound: float, better: str) -> str:
    sign = 1.0 if better == "lower" else -1.0
    (ma, qa1, qa3), (mb, qb1, qb3) = summary(a), summary(b)
    worse = sign * (mb - ma) / ma
    # Signed so that smaller is better on both kinds of metric.
    sa, sb = [sign * x for x in a], [sign * x for x in b]
    if max(sb) < min(sa):
        return "better in every run"
    if min(sb) > max(sa) and worse > bound:
        return "REGRESSED in every run"
    if (qa3 - qa1) / ma > bound or (qb3 - qb1) / mb > bound:
        return "unresolved (spread above bound)"
    if worse > bound:
        return "REGRESSED"
    return "within bound"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(args.base), load(args.change)
    regressed = False
    for w in (w["name"] for w in spec["workloads"]):
        a = [r for r in base if r["workload"] == w]
        b = [r for r in change if r["workload"] == w]
        if not a or not b:
            continue
        print(f"== {w}")
        for side, runs in (("base", a), ("change", b)):
            print(f"   {side}: {len(runs)} runs, "
                  f"{sum(r['failed'] for r in runs)} of "
                  f"{sum(r['attempted'] for r in runs)} operations failed")
        ea = [r["e2e"] for r in a if not r["trace"]]
        eb = [r["e2e"] for r in b if not r["trace"]]
        for m in spec["end_to_end"] if ea and eb else ():
            va = [e[m["name"]] for e in ea]
            vb = [e[m["name"]] for e in eb]
            (ma, qa1, qa3), (mb, qb1, qb3) = summary(va), summary(vb)
            v = verdict(va, vb, m["bound"], m["better"])
            regressed |= v.startswith("REGRESSED")
            print(f"   {m['name']:<12} base {ma:.4g} [{qa1:.4g}, {qa3:.4g}]"
                  f"  change {mb:.4g} [{qb1:.4g}, {qb3:.4g}] {m['unit']}"
                  f"  {100 * (mb - ma) / ma:+.1f}%  bound {m['bound']:.0%}: {v}")
        la = [r["layer"] for r in a if r["trace"]]
        lb = [r["layer"] for r in b if r["trace"]]
        for m in spec["per_layer"] if la and lb else ():
            ma = statistics.median(d.get(m["name"], 0.0) for d in la)
            mb = statistics.median(d.get(m["name"], 0.0) for d in lb)
            rel = f"{100 * (mb - ma) / ma:+.1f}%" if ma else ""
            print(f"   {m['name']:<32} {ma:12.4g} -> {mb:12.4g} {m['unit']:<6}"
                  f" {mb - ma:+.4g} {rel}")
    return 1 if regressed else 0


if __name__ == "__main__":
    raise SystemExit(main())
