"""Cross-round bench comparison: BENCH_DETAIL.json (the current full
run) vs a prior snapshot, by default the newest BENCH_DETAIL_r*.json.

Usage: python tools/bench_compare.py [PREV.json]

Prints the shared-query subset totals (HEADLINE is append-only, so the
intersection is the prior snapshot's query set), the 46-query anchor
subset, and per-query movers beyond the noise policy (>1.4x on >=1s
queries, >2x either way on anything). Each mover is labelled by its
plan fingerprint: ``code`` when it changed, ``environment`` when it did
not, ``unknown`` when a snapshot has none for the query (every
snapshot up to r16).
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from bench import FAST_TIER_N, HEADLINE, newest_snapshot  # noqa: E402


def is_mover(cur: float, prev: float) -> bool:
    r = cur / max(prev, 1e-9)
    return (r > 1.4 and cur >= 1.0) or r > 2.0 or 1 / r > 2.0


def cause(query: str, cur: dict, prev: dict) -> str:
    a = cur.get("fingerprints", {}).get(query)
    b = prev.get("fingerprints", {}).get(query)
    if a is None or b is None:
        return "unknown"
    return "code" if a != b else "environment"


def compare(cur: dict, prev: dict) -> dict:
    """Compare two BENCH_DETAIL records (pure: no file or Spark access)."""
    cq, pq = cur["queries"], prev["queries"]
    shared = [q for q in pq if q in cq]
    anchor = [q for q in HEADLINE[:FAST_TIER_N] if q in shared]

    def subset(names: list[str]) -> dict:
        return {
            "n": len(names),
            "cur": round(sum(cq[q] for q in names), 3),
            "prev": round(sum(pq[q] for q in names), 3),
        }

    movers = {
        q: {
            "prev": pq[q],
            "cur": cq[q],
            "ratio": round(cq[q] / max(pq[q], 1e-9), 3),
            "cause": cause(q, cur, prev),
        }
        for q in sorted(shared, key=lambda q: -cq[q] / max(pq[q], 1e-9))
        if is_mover(cq[q], pq[q])
    }
    return {
        "shared": subset(shared),
        "anchor": subset(anchor),
        "movers": movers,
        "new": sorted((q for q in cq if q not in pq), key=lambda q: -cq[q]),
        "total": round(sum(cq.values()), 3),
        "n_queries": len(cq),
    }


def main() -> int:
    prev_path = sys.argv[1] if len(sys.argv) > 1 else newest_snapshot()
    if prev_path is None:
        print("no BENCH_DETAIL_r*.json snapshot to compare against", file=sys.stderr)
        return 1
    with open(os.path.join(_REPO, "BENCH_DETAIL.json")) as f:
        cur = json.load(f)
    with open(prev_path) as f:
        prev = json.load(f)
    c = compare(cur, prev)

    print(f"vs {os.path.basename(prev_path)}")
    for label in ("shared", "anchor"):
        s = c[label]
        ratio = s["cur"] / s["prev"] if s["prev"] else float("nan")
        print(
            f"{label} {s['n']}-query subset: cur {s['cur']:.1f}s vs"
            f" prev {s['prev']:.1f}s = {ratio:.2f}x"
        )
    print("\nmovers (vs prev):")
    for q, m in c["movers"].items():
        print(
            f"  {q}: {m['prev']:.2f}s -> {m['cur']:.2f}s"
            f" ({m['ratio']:.2f}x, {m['cause']})"
        )
    print("\nnew queries:")
    for q in c["new"]:
        print(f"  {cur['queries'][q]:6.2f}s  {q}")
    print(f"\ncurrent total: {c['total']:.1f}s over {c['n_queries']} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
