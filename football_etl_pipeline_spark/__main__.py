"""CLI entry point — the operational surface a reference user drives:

    python -m football_etl_pipeline_spark ingest    --api apifootball --leagues 153 --landing DIR
    python -m football_etl_pipeline_spark transform --api apifootball --files F [F ...] --out DIR
    python -m football_etl_pipeline_spark pipeline  --api apifootball --landing DIR --out DIR
    python -m football_etl_pipeline_spark stream    --api apifootball --landing DIR --out DIR --checkpoint DIR
    python -m football_etl_pipeline_spark query     --name q1_pricing_summary --sf-dir /root/testdata/sf0.01

The reference splits these across Cloud Functions entry points and a
Dataflow Flex launcher (``ingestion/main.py``, ``dataflow-flex/
main.py``); here they are subcommands of one module, all running
in-process on Spark. ``ingest`` requires real API keys via the
``APIFOOTBALL_KEY`` / ``APISPORTS_KEY`` environment variables
(reference: ``ingestion/config.py``) — everything else runs offline.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys


def _spark(name: str):
    from .session import get_spark

    return get_spark(name)


def cmd_ingest(args: argparse.Namespace) -> int:
    from .plans.http_fetch import make_http_fetcher
    from .plans.ingest import get_current_season, ingest

    env_keys = {"apifootball": "APIFOOTBALL_KEY", "apisports": "APISPORTS_KEY"}
    key = os.environ.get(env_keys[args.api], "")
    if not key:
        print(f"error: set {env_keys[args.api]} to ingest from {args.api}", file=sys.stderr)
        return 2
    fetcher = make_http_fetcher({args.api: key})
    res = ingest(
        args.api,
        args.leagues,
        fetcher,
        args.landing,
        season=args.season if args.season >= 0 else get_current_season(),
    )
    if res.error:
        print(f"ingest failed (rolled back): {res.error}", file=sys.stderr)
        return 1
    for p in res.uploaded_files:
        print(p)
    return 0


def _run_transform(spark, api: str, files: list[str], out: str, dead: str | None) -> int:
    from .plans.pipeline import run_transform, write_dead_letter, write_unified

    res = run_transform(spark, api, files)
    metrics = write_unified(res.good, out)
    if dead:
        write_dead_letter(res.dead_letter, dead)
    res.release()
    # counts observed during the write and held by the driver: no re-scan
    record = res.log_run(metrics, api)
    n_good, n_dead = record["rows_loaded"], len(res.verdicts)
    print(f"loaded {n_good} rows to {out}; {n_dead} dead-letter group(s)"
          + (f" -> {dead}" if dead else ""))
    return 0


def cmd_transform(args: argparse.Namespace) -> int:
    return _run_transform(
        _spark("cli_transform"), args.api, args.files, args.out, args.dead_letter
    )


def cmd_pipeline(args: argparse.Namespace) -> int:
    files = sorted(
        glob.glob(os.path.join(args.landing, args.api, "**", "*.json"), recursive=True)
    )
    if not files:
        print(f"no landing files under {args.landing}/{args.api}", file=sys.stderr)
        return 1
    return _run_transform(
        _spark("cli_pipeline"), args.api, files, args.out, args.dead_letter
    )


def cmd_stream(args: argparse.Namespace) -> int:
    from .streaming.football_stream import run_streaming_transform

    q = run_streaming_transform(
        _spark("cli_stream"),
        args.api,
        args.landing,
        args.out,
        args.dead_letter or os.path.join(args.out, "_dead_letter"),
        args.checkpoint,
    )
    q.awaitTermination()
    print(f"stream drained into {args.out}")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from .operators import QUERIES

    fn = QUERIES.get(args.name)
    if fn is None:
        close = [n for n in sorted(QUERIES) if args.name in n]
        print(
            f"unknown query {args.name!r}"
            + (f"; did you mean: {', '.join(close[:5])}" if close else ""),
            file=sys.stderr,
        )
        return 2
    df = fn(_spark("cli_query"), args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    from .operators import QUERIES

    for name in sorted(QUERIES):
        print(f"{name}\toracled")  # finalize_order requires an oracle per query
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="football_etl_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def api_arg(sp):
        sp.add_argument("--api", choices=("apifootball", "apisports"), required=True)

    sp = sub.add_parser("ingest", help="fetch + stage raw JSON into the landing layout")
    api_arg(sp)
    sp.add_argument("--leagues", type=int, nargs="+", required=True)
    sp.add_argument("--landing", required=True)
    sp.add_argument("--season", type=int, default=-1)
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser("transform", help="run the batch transform on explicit files")
    api_arg(sp)
    sp.add_argument("--files", nargs="+", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--dead-letter")
    sp.set_defaults(fn=cmd_transform)

    sp = sub.add_parser("pipeline", help="transform everything under the landing dir")
    api_arg(sp)
    sp.add_argument("--landing", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--dead-letter")
    sp.set_defaults(fn=cmd_pipeline)

    sp = sub.add_parser("stream", help="drain the landing dir via the streaming pipeline")
    api_arg(sp)
    sp.add_argument("--landing", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--dead-letter")
    sp.set_defaults(fn=cmd_stream)

    sp = sub.add_parser("query", help="run a registered query and print rows")
    sp.add_argument("--name", required=True)
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("list", help="list registered queries")
    sp.set_defaults(fn=cmd_list)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
