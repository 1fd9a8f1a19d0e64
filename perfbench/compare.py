"""Compare two sets of benchmark results against the benchmark's bounds.

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are directories (or single files) of run records as
run.py writes them (``--result``, or ``.perfbench_run/results/``);
only untraced records are read. For every workload x end-to-end
metric of BENCHMARK.json it prints each side's median and quartiles
(``statistics.quantiles(n=4)``), the change of the median, the wider
of the two relative spreads (quartile distance over median) and a
verdict:

  unresolved  a side's spread exceeds the metric's bound, and not
              every AFTER run reads better than every BEFORE run
  regressed   the median got worse by more than the bound
  improved    every AFTER run reads better than every BEFORE run
  ok          otherwise

Each side's failure share (failed / attempted operations) is printed
with it. Exit code 0 when no verdict is ``regressed`` or
``unresolved`` and no operation failed: the A/A check of two sets of
runs of one commit is ``compare.py A B`` exiting 0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".json")] if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            rec = json.load(fh)
        if "context" in rec and rec["context"]["trace"] == 0:
            out.append(rec)
    return out


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) > 1:
        q1, _q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def verdict(metric: dict, a: list[float], b: list[float]) -> dict:
    sa, sb = summary(a), summary(b)
    lower = metric["better"] == "lower"
    change = (sb["median"] - sa["median"]) / sa["median"]
    worse = change if lower else -change
    all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
    spread = max(sa["spread"], sb["spread"])
    if all_better:
        v = "improved"
    elif spread > metric["bound"]:
        v = "unresolved"
    elif worse > metric["bound"]:
        v = "regressed"
    else:
        v = "ok"
    return {"before": sa, "after": sb, "change": change, "spread": spread,
            "bound": metric["bound"], "verdict": v}


def compare(before: list[dict], after: list[dict], bench: dict) -> dict:
    rows: dict = {}
    for w in (w["name"] for w in bench["workloads"]):
        ra = [r for r in before if r["context"]["workload"] == w]
        rb = [r for r in after if r["context"]["workload"] == w]
        if not ra or not rb:
            continue
        rows[w] = {"failure_share": [
            sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
            for rs in (ra, rb)]}
        for m in bench["end_to_end"]:
            rows[w][m["name"]] = verdict(
                m, [r["metrics"][m["name"]]["value"] for r in ra],
                [r["metrics"][m["name"]]["value"] for r in rb])
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    rows = compare(load(args.before), load(args.after), bench)
    bad = False
    for w, ms in rows.items():
        fa, fb = ms["failure_share"]
        print(f"{w}: failure share {fa:.3f} -> {fb:.3f}")
        bad |= fa > 0 or fb > 0
        for name, r in ms.items():
            if name == "failure_share":
                continue
            a, b = r["before"], r["after"]
            print(f"  {name:16s} {a['median']:12.4f} [{a['q1']:.4f}, {a['q3']:.4f}] n={a['n']}"
                  f"  ->  {b['median']:12.4f} [{b['q1']:.4f}, {b['q3']:.4f}] n={b['n']}"
                  f"  change {100 * r['change']:+6.2f}%  spread {100 * r['spread']:5.2f}%"
                  f"  bound {100 * r['bound']:.0f}%  {r['verdict']}")
            bad |= r["verdict"] in ("regressed", "unresolved")
    if not rows:
        print("no workload has results on both sides", file=sys.stderr)
        return 2
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
