"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir through
``football_etl_pipeline_spark.oracle.check`` (canonical outputs,
column names, row count, exact string-normalized values, pandas
dtype classes — stricter than the driver, so passing here means the
driver's value-hash should match too).

Usage: python tools/verify_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def sweep(
    spark, sf_dir: str, name_filter=(), verbose: bool = True, exact: bool = False
) -> dict:
    """Run every registered query against its oracle at ``sf_dir``.
    Returns ``{name: record}`` (see ``oracle.check``). ``name_filter``
    entries match by substring (the CLI convenience) unless ``exact``
    (the incremental gate passes exact names)."""
    import __spark_entry__ as e
    from football_etl_pipeline_spark.oracle import check, make_duck

    con = make_duck(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    if exact:
        names = [n for n in qs if n in set(name_filter)]
    else:
        names = [n for n in qs if not name_filter or any(f in n for f in name_filter)]
    results = {}
    for name in names:
        rec = check(spark, con, lambda: qs[name](spark, sf_dir), oracles[name])
        results[name] = rec
        if verbose:
            if rec["status"] == "fail":
                print(f"FAIL  {name} ({rec['secs']}s): {rec['err']}")
            else:
                print(f"ok    {name} ({rec['secs']}s, {rec['rows']} rows)")
    con.close()
    if len(names) >= 50:
        # A full (or near-full) sweep is a heavy run: leave the
        # cool-down stamp bench.py's contamination protocol reads.
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo, ".sweep_stamp"), "w") as f:
            f.write(f"{time.time():.0f} verify_oracle sweep n={len(names)}\n")
    return results


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]

    from football_etl_pipeline_spark.session import get_spark

    spark = get_spark("verify_oracle")
    results = sweep(spark, sf_dir, name_filter)
    n_fail = sum(1 for r in results.values() if r["status"] == "fail")
    print(f"\n{len(results) - n_fail} ok, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
