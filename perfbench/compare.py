"""Compare the run records of two commits.

    python3 perfbench/compare.py BASE_RECORDS NEW_RECORDS

Each argument is a directory of records (``perfbench/.work/records`` of a
checkout) or a list of record files separated by commas.  For every workload
and every end-to-end and workload-named metric it prints each side's median
and quartiles, the fraction of pairs the new side won (runs paired in the
order they were made; run the two sides alternately), and a verdict by the
choosing-metrics rule: a gain needs at least 9/10 of pairs won and a median
difference larger than the base side's quartile spread; a loss larger than
the metric's bound in BENCHMARK.json is a regression.  From traced records it
prints per-layer medians and deltas, and the tracing overhead (traced minus
untraced end-to-end figures) of each side.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(arg: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(arg, "*.json"))) if os.path.isdir(arg) else arg.split(",")
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return sorted(recs, key=lambda r: r["env"].get("unix_time", 0))


def directions() -> tuple[dict, dict]:
    """better ("lower"/"higher") and bound of each end-to-end metric."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    return better, bound


def values(recs: list[dict], section: str, name: str) -> list[float]:
    return [r[section][name]["value"] for r in recs if name in r.get(section, {})]


def quart(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, lower_better: bool, bound: float | None) -> tuple[float, str]:
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if (y < x if lower_better else y > x))
    frac = wins / len(pairs) if pairs else 0.0
    qa, qb = quart(a), quart(b)
    diff = qb[1] - qa[1]
    worse = diff > 0 if lower_better else diff < 0
    if frac >= 0.9 and abs(diff) > qa[2] - qa[0] and not worse:
        v = "gain"
    elif bound is not None and worse and abs(diff) > bound * abs(qa[1]):
        v = "REGRESSION"
    elif bound is not None and qa[2] - qa[0] > bound * abs(qa[1]):
        v = "unresolved (base spread above bound)"
    else:
        v = "within bound" if bound is not None else ""
    return frac, v


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    better, bound = directions()
    for wl in sorted({r["workload"] for r in base + new}):
        print(f"\n== {wl}")
        ua = [r for r in base if r["workload"] == wl and not r["env"]["trace"]]
        ub = [r for r in new if r["workload"] == wl and not r["env"]["trace"]]
        ta = [r for r in base if r["workload"] == wl and r["env"]["trace"]]
        tb = [r for r in new if r["workload"] == wl and r["env"]["trace"]]
        print(f"untraced runs: base {len(ua)}, new {len(ub)}; traced runs: base {len(ta)}, new {len(tb)}")
        hdr = f"{'metric':40s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} {'won':>5s}  verdict"
        print(hdr)
        for section in ("end_to_end", "named"):
            names = sorted({k for r in ua + ub for k in r.get(section, {})})
            for n in names:
                a, b = values(ua, section, n), values(ub, section, n)
                if not a or not b:
                    continue
                lower = better.get(n, "higher" if n.endswith("_per_s") else "lower") == "lower"
                frac, v = verdict(a, b, lower, bound.get(n) if section == "end_to_end" else None)
                fa = "/".join(f"{x:.4g}" for x in quart(a))
                fb = "/".join(f"{x:.4g}" for x in quart(b))
                print(f"{n:40s} {fa:>32s} {fb:>32s} {frac:5.2f}  {v}")
        if ta and tb:
            print(f"\nper-layer medians (traced): {'base':>14s} {'new':>14s} {'delta':>14s}")
            for n in ta[0].get("per_layer", {}):
                a, b = statistics.median(values(ta, "per_layer", n)), statistics.median(values(tb, "per_layer", n))
                if a or b:
                    print(f"  {n:40s} {a:14.6g} {b:14.6g} {b - a:+14.6g}")
        for side, u, t in (("base", ua, ta), ("new", ub, tb)):
            if u and t:
                parts = []
                for n in ("op_p50_ms", "throughput_per_s"):
                    um = statistics.median(values(u, "end_to_end", n))
                    tm = statistics.median(values(t, "end_to_end", n))
                    parts.append(f"{n} {tm:.4g} traced vs {um:.4g} untraced ({tm - um:+.4g})")
                print(f"tracing overhead, {side}: " + "; ".join(parts))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
