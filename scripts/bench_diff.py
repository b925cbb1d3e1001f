#!/usr/bin/env python
"""Per-query drift table between two bench.py records.

Compares each query's comparator time: ``min`` (the lower of the two warm
passes) for the headline set, the single ``cold`` time for the tail. Prints
the top regressions and the top improvements with ratios, the median
``min`` ratio over the headline queries both records share, plus the names
explained by registry growth or retirement. Reads the two records only; it
measures nothing.

Usage: python scripts/bench_diff.py PREV.json CUR.json [N]
(default N=5 top regressions and improvements)
"""

from __future__ import annotations

import json
import statistics
import sys


def _times(rec: dict) -> dict[str, float]:
    # A recorded query has a warm min, a cold time, or both.
    return {n: q.get("min", q.get("cold")) for n, q in rec["queries"].items()}


def _label(rec: dict) -> str:
    sha = (rec["head_sha"] or "?")[:7]
    t = rec["totals"]
    return f"{sha} {rec['master']} sf{rec['sf']} {t['full']:.1f}s/{t['n']}q"


def diff_table(prev: dict, cur: dict, top_n: int = 5) -> str:
    pq, cq = _times(prev), _times(cur)
    shared = set(pq) & set(cq)
    added = sorted(set(cq) - set(pq))
    removed = sorted(set(pq) - set(cq))
    # Rank by ratio among shared queries costing >=0.2s in either record —
    # sub-200ms entries flip 2x on scheduler noise alone and would bury
    # the real signal.
    ranked = sorted(
        (n for n in shared if max(pq[n], cq[n]) >= 0.2),
        key=lambda n: cq[n] / pq[n] if pq[n] else float("inf"),
        reverse=True,
    )
    lines = [
        f"full sweep {_label(prev)} -> {_label(cur)}",
        f"added ({len(added)}): {', '.join(added) or '-'}",
        f"removed ({len(removed)}): {', '.join(removed) or '-'}",
        f"top {top_n} per-query regressions (shared, >=0.2s):",
    ]
    def ratio(n: str) -> str:
        # pq can be 0.0 (values are 3-decimal-rounded): sorted first via
        # the inf guard above, printed as inf rather than crashing.
        return f"{cq[n] / pq[n]:.2f}" if pq[n] else "inf"

    def row(n: str) -> str:
        return f"  {n:40s} {pq[n]:7.3f} -> {cq[n]:7.3f}  x{ratio(n)}"

    lines += [row(n) for n in ranked[:top_n]]
    faster = [n for n in reversed(ranked) if cq[n] < pq[n]]
    lines.append(f"top {top_n} per-query improvements (shared, >=0.2s):")
    lines += [row(n) for n in faster[:top_n]] or ["  none"]
    # A speedup spread thin over the headline set shows in no top-N row;
    # its median min ratio says how the set moved as a whole.
    heads = [
        cur["queries"][n]["min"] / prev["queries"][n]["min"]
        for n in sorted(shared)
        if prev["queries"][n].get("min") and "min" in cur["queries"][n]
    ]
    lines.append(
        f"headline min ratio, median over {len(heads)} shared: "
        + (f"x{statistics.median(heads):.2f}" if heads else "-")
    )
    # BASELINE.md §r13 sampling floor: single-sample ratios below x1.8 are
    # within the observed same-code spread; flag only what clears it.
    hot = [n for n in ranked if not pq[n] or cq[n] / pq[n] >= 1.8]
    lines.append(
        f"above the x1.8 single-sample significance floor: "
        f"{', '.join(hot) or 'none'}"
    )
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) < 3:
        raise SystemExit("usage: python scripts/bench_diff.py PREV.json CUR.json [N]")
    records = []
    for path in sys.argv[1:3]:
        with open(path) as fh:
            records.append(json.load(fh))
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    print(diff_table(*records, top))
