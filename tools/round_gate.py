"""Round-start gate: make the full 125+-query registry durable
evidence, not a README sentence.

The driver's CORRECTNESS window is frozen at the first 50 registered
queries, so 60% of the registry has no driver-recorded correctness
row. This gate runs, in order:

1. the testdata drift canary (``tests/test_testdata_schema.py``) —
   round 4 was lost to a silent testdata regeneration, so nothing else
   runs until the on-disk physical types are the ones the loaders were
   verified against;
2. the complete oracle sweep (``tools/verify_oracle.sweep``) at every
   requested scale factor (default sf0.01 AND sf0.1);

and writes ``GATE_r{N}.json`` at the repo root with per-query
status/timings plus a summary, exiting non-zero on any failure.

Usage::

    python tools/round_gate.py 6                # writes GATE_r6.json
    python tools/round_gate.py 6 /root/testdata/sf0.01   # one SF only
    python tools/round_gate.py 6 --changed-since HEAD~3  # incremental

``--changed-since <git-ref>`` is the MID-ROUND mode (round-11 ritual
addition): it sweeps only queries whose defining module changed
between <ref> and the working tree, so the per-commit check stays
O(changes) while the registry grows. Safety valve: if anything
OUTSIDE the operator modules changed (sources/, functions/, session,
registry, the entry file — infrastructure every query rides on), it
falls back to the FULL sweep, loudly. Incremental runs write
GATE_INCR.json (never a round-stamped GATE_r{N}.json — round
open/close always record two full sweeps).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF_DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def run_canary() -> dict:
    """The schema-drift canary, via pytest so the gate exercises the
    exact assertions the suite runs."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_testdata_schema.py", "-q"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    return {
        "passed": proc.returncode == 0,
        "secs": round(time.time() - t0, 1),
        "tail": proc.stdout.strip().splitlines()[-1] if proc.stdout else "",
    }


def summarize(results: dict) -> dict:
    return {
        "ok": sum(1 for r in results.values() if r["status"] == "ok"),
        "fail": sum(1 for r in results.values() if r["status"] == "fail"),
        "total": len(results),
        "secs": round(sum(r["secs"] for r in results.values()), 1),
    }


def changed_query_filter(ref: str) -> tuple[list[str] | None, list[str]]:
    """Names of registered queries whose defining module changed
    between git ``ref`` and the working tree, or ``None`` for "must
    run the full sweep" (infrastructure outside the operator modules
    changed). Second element: the changed-file list, for the record."""
    proc = subprocess.run(
        ["git", "diff", "--name-only", ref, "--"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    changed = [p for p in proc.stdout.splitlines() if p.endswith(".py")]
    relevant = [
        p
        for p in changed
        if p.startswith("football_etl_pipeline_spark/")
        or p == "__spark_entry__.py"
    ]
    if not relevant:
        return [], changed
    import __spark_entry__ as e  # noqa: F401 — populates the registry
    from football_etl_pipeline_spark.operators import QUERIES

    module_to_names: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        mod = sys.modules[fn.__module__]
        rel = os.path.relpath(mod.__file__, REPO)
        module_to_names.setdefault(rel, []).append(name)
    infra = [p for p in relevant if p not in module_to_names]
    if infra:
        print(f"# infrastructure changed ({infra}); falling back to FULL sweep")
        return None, changed
    names: list[str] = []
    for p in relevant:
        names.extend(module_to_names[p])
    return names, changed


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    round_n = int(sys.argv[1])
    args = sys.argv[2:]
    since = None
    if "--changed-since" in args:
        i = args.index("--changed-since")
        since = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dirs = args or DEFAULT_SF_DIRS

    gate: dict = {"round": round_n, "sf_dirs": sf_dirs}
    names: list[str] | None = None  # None = full sweep
    if since:
        names, changed = changed_query_filter(since)
        gate["changed_since"] = since
        gate["changed_files"] = changed
        if names == []:
            print(f"no operator modules changed since {since}; nothing to sweep")
            return 0
        if names is not None:
            print(f"incremental sweep: {len(names)} queries from changed modules")

    print("== drift canary ==")
    gate["canary"] = run_canary()
    print(f"canary: {'pass' if gate['canary']['passed'] else 'FAIL'} "
          f"({gate['canary']['tail']})")
    failed = not gate["canary"]["passed"]

    if not failed:
        from football_etl_pipeline_spark.session import get_spark
        from tools.verify_oracle import sweep

        spark = get_spark("round_gate")
        gate["sweeps"] = {}
        for sf_dir in sf_dirs:
            print(f"== oracle sweep @ {sf_dir} ==")
            if names is not None:
                results = sweep(spark, sf_dir, names, verbose=True, exact=True)
            else:
                results = sweep(spark, sf_dir, verbose=True)
            summary = summarize(results)
            gate["sweeps"][sf_dir] = {"summary": summary, "queries": results}
            print(f"{sf_dir}: {summary['ok']} ok, {summary['fail']} FAIL "
                  f"in {summary['secs']}s")
            failed = failed or summary["fail"] > 0

    gate["passed"] = not failed
    out = os.path.join(
        REPO, "GATE_INCR.json" if since else f"GATE_r{round_n}.json"
    )
    with open(out, "w") as f:
        json.dump(gate, f, indent=1)
    print(f"\nwrote {out}; gate {'PASSED' if not failed else 'FAILED'}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
