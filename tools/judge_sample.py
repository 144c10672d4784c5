"""Rotating per-round judge sample (round-11 ritual addition).

The driver's correctness window is structurally frozen at the first 50
registered queries, so the other ~275 are verified only by the
builder-run gate. This tool gives the judge an independent,
REPRODUCIBLE spot-check: a deterministic 25-query sample seeded by the
round number (md5 of ``r{N}|{name}``, smallest digests win — no RNG
state, so the judge can recompute the exact sample from the committed
registry), drawn from everything OUTSIDE the frozen window, run
through the same check the gate uses
(``football_etl_pipeline_spark.oracle.check``), written to
``JUDGE_SAMPLE_r{N}.json``.

Different rounds sample different queries (the seed rotates), so over
rounds the whole registry accumulates independent re-verification
without re-paying the full-sweep cost each time.

Usage::

    python tools/judge_sample.py 11                       # sf0.01, K=25
    python tools/judge_sample.py 11 /root/testdata/sf0.01 40
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_K = 25


def sample_names(round_n: int, names: list[str], k: int = DEFAULT_K) -> list[str]:
    """Deterministic k-subset: order candidates by md5('r{N}|{name}')
    and take the smallest k. Pure function of (round, registry)."""
    keyed = sorted(
        names,
        key=lambda n: hashlib.md5(f"r{round_n}|{n}".encode()).hexdigest(),
    )
    return sorted(keyed[:k])


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    round_n = int(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else DEFAULT_K

    from football_etl_pipeline_spark.session import get_spark
    from football_etl_pipeline_spark.operators.registry import (
        DRIVER_WINDOW_R04,
    )
    from football_etl_pipeline_spark.oracle import check, make_duck
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    pool = [n for n in qs if n not in DRIVER_WINDOW_R04]
    chosen = sample_names(round_n, pool, k)

    spark = get_spark("judge_sample")
    con = make_duck(sf_dir)
    results: dict[str, dict] = {}
    for name in chosen:
        rec = check(spark, con, lambda: qs[name](spark, sf_dir), oracles[name])
        results[name] = rec
        marker = {"ok": "ok  ", "fail": "FAIL"}[rec["status"]]
        print(f"{marker} {name} ({rec['secs']}s, rows={rec['rows']})"
              + (f": {rec['err']}" if rec["err"] else ""))
    con.close()

    summary = {
        "ok": sum(1 for r in results.values() if r["status"] == "ok"),
        "fail": sum(1 for r in results.values() if r["status"] == "fail"),
        "total": len(results),
    }
    out = {
        "round": round_n,
        "sf_dir": sf_dir,
        "k": k,
        "pool_size": len(pool),
        "seed_rule": "md5('r{N}|{name}') ascending, smallest k",
        "generated_unix": int(time.time()),
        "summary": summary,
        "queries": results,
    }
    path = os.path.join(REPO, f"JUDGE_SAMPLE_r{round_n}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"\nwrote {path}: {summary['ok']} ok, {summary['fail']} FAIL "
          f"of {summary['total']}")
    return 1 if summary["fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
