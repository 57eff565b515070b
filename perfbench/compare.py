"""Summarize and compare benchmark result sets.

    python3 perfbench/compare.py spread DIR
    python3 perfbench/compare.py compare PARENT_DIR CHANGE_DIR

A result set is a directory of result-*-trace0.json files written by
run.py (one per run). `spread` prints, per workload and end-to-end
metric, the median, quartiles and inter-quartile range as a share of the
median, next to the metric's bound from BENCHMARK.json. `compare` pairs
the runs of two sets by seed (by order when the seeds differ) and
applies the rule of the choosing-metrics guide, section 8: a gain needs
the change to win at least 9/10 of the pairs, ties counting for
neither, and medians that differ by more than the parent's
inter-quartile range. A metric whose change median is worse than the
parent's by more than its bound is flagged WORSE, or UNRESOLVED when
either side's spread is wider than the bound, unless every change run
beats every parent run. Host-noise labels are counted, never used to
drop a run. The exit code is 1 when any metric is WORSE.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from typing import Dict, List

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GAIN_SHARE = 0.9


def load_bench() -> Dict[str, dict]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def load_set(d: str) -> Dict[str, List[dict]]:
    """workload -> untraced results sorted by seed."""
    out: Dict[str, List[dict]] = {}
    for p in glob.glob(os.path.join(d, "result-*-trace0.json")):
        with open(p) as f:
            r = json.load(f)
        out.setdefault(r["workload"], []).append(r)
    for rs in out.values():
        rs.sort(key=lambda r: r["seed"])
    return out


def stats(values: List[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr": q3 - q1, "spread": (q3 - q1) / med if med else 0.0}


def values(rs: List[dict], metric: str) -> List[float]:
    return [r["metrics"][metric]["value"] for r in rs
            if metric in r["metrics"]]


def spread(d: str) -> int:
    bench = load_bench()
    for wl, rs in sorted(load_set(d).items()):
        noisy = sum(r.get("host_noisy", False) for r in rs)
        failed = sum(r["failed"] for r in rs)
        print(f"{wl}: {len(rs)} runs, {noisy} host-noisy, "
              f"{failed} failed ops")
        for name, m in bench.items():
            s = stats(values(rs, name))
            ok = "exempt" if name == "setup_s" else (
                "steady" if s["spread"] < m["bound"] / 3 else
                "within" if s["spread"] <= m["bound"] else "TOO WIDE")
            print(f"  {name:14s} median {s['median']:11.4f} q1 {s['q1']:11.4f}"
                  f" q3 {s['q3']:11.4f} spread {s['spread']:7.4f}"
                  f" bound {m['bound']:.3f} {ok}")
    return 0


def _better(a: float, b: float, lower: bool) -> bool:
    return a < b if lower else a > b


def compare_metric(parent: List[float], change: List[float], bound: float,
                   lower: bool) -> dict:
    pairs = list(zip(parent, change))
    won = sum(_better(c, p, lower) for p, c in pairs)
    lost = sum(_better(p, c, lower) for p, c in pairs)
    sp, sc = stats(parent), stats(change)
    delta = sc["median"] - sp["median"]
    worse_share = (delta if lower else -delta) / sp["median"]
    all_better = all(_better(c, p, lower) for p in parent for c in change)
    if won >= GAIN_SHARE * len(pairs) and abs(delta) > sp["iqr"] \
            and _better(sc["median"], sp["median"], lower):
        verdict = "GAIN"
    elif max(sp["spread"], sc["spread"]) > bound and not all_better:
        verdict = "UNRESOLVED"
    elif worse_share > bound:
        verdict = "WORSE"
    else:
        verdict = "no regression"
    return {"pairs": len(pairs), "change_won": won, "parent_won": lost,
            "parent": sp, "change": sc, "worse_share": worse_share,
            "verdict": verdict}


def compare(parent_dir: str, change_dir: str) -> int:
    bench = load_bench()
    a, b = load_set(parent_dir), load_set(change_dir)
    worse = 0
    for wl in sorted(set(a) & set(b)):
        pa, ch = a[wl], b[wl]
        seeds = sorted({r["seed"] for r in pa} & {r["seed"] for r in ch})
        if seeds:
            pa = [r for r in pa if r["seed"] in seeds]
            ch = [r for r in ch if r["seed"] in seeds]
        print(f"{wl}: {min(len(pa), len(ch))} pairs "
              f"({'by seed' if seeds else 'by order'}); host-noisy runs "
              f"parent {sum(r.get('host_noisy', False) for r in pa)}, "
              f"change {sum(r.get('host_noisy', False) for r in ch)}")
        for name, m in bench.items():
            c = compare_metric(values(pa, name), values(ch, name),
                               m["bound"], m["better"] == "lower")
            worse += c["verdict"] == "WORSE"
            p, q = c["parent"], c["change"]
            print(f"  {name:14s} parent {p['median']:11.4f} [{p['q1']:.4f},"
                  f" {p['q3']:.4f}]  change {q['median']:11.4f} "
                  f"[{q['q1']:.4f}, {q['q3']:.4f}]  won {c['change_won']}/"
                  f"{c['pairs']} vs {c['parent_won']}/{c['pairs']}  "
                  f"{c['verdict']}")
    return 1 if worse else 0


def main(argv: List[str]) -> int:
    if len(argv) == 2 and argv[0] == "spread":
        return spread(argv[1])
    if len(argv) == 3 and argv[0] == "compare":
        return compare(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
