"""End-to-end benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one client, a closed loop:
each op starts when the previous one has finished. Workloads:

- ``tail``: registered queries that run in under half a second on an
  sf0.1-shaped corpus; one op is ``QUERIES[name](spark, dir).count()``.
- ``heavy``: compute-bound queries on a corpus of several key-shifted
  copies of that shape; same op.
- ``etl``: one op loads a fresh landing batch, either by the reference
  batch run (ingest, ``run_transform``, ``write_unified``, dead-letter
  count and write) or by one ``availableNow`` drain of the streaming
  landing transform, whose checkpoint is kept across ops.

The loop runs whole passes (every query, or every ETL path and API
shape, once per pass in seeded order) until ``--seconds`` have passed
and at least the workload's minimum number of passes has run, so every
run measures the same mix of ops.

Inputs are synthesized from ``--seed`` in a scratch directory of the
checkout (``.perfbench_work``), removed at exit. Every op's output is
checked: against DuckDB oracle row counts for queries, against the
generator's manifest for ETL. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.

``--trace 1`` traces half of each pass's op kinds, the other half in the
next pass, in one session with Spark's event log on; see ``layers.py``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"

# One query per operator module whose fastest oracled query runs in
# under half a second at sf0.1 on 4 cores: the module's fastest, except
# ``text_curation_report``, whose wall time is mostly DataFrame
# construction on the driver. ``graph``, ``maintenance``, ``linkage``,
# ``tpch_adapted`` and ``streaming_query`` have none; a slower query
# per module would lengthen every pass and the warm pass past the run
# budget.
TAIL_QUERIES = (
    "agg_stats_by_segment",         # relational
    "join_asof_last_purchase",      # joins
    "window_rank_family",           # windows
    "grouping_sets_custom",         # setops
    "scalar_string_funcs",          # scalar
    "events_sessionize",            # events
    "text_curation_report",         # textops
    "dedup_exact",                  # dedup
    "similarity_ndcg_label_eval",   # similarity
    "multimodal_shard_manifest",    # multimodal
    "correlated_max_per_group",     # subqueries
    "pandas_udaf_rms_by_segment",   # pandas_udfs
    "skew_salted_agg",              # skew
    "lineitem_price_elasticity",    # tpch_more
    "customer_k_anonymity",         # profiling
    "stats_anova_priority_price",   # stattests
)
# Queries whose executor work dominates their wall time at 4 copies.
HEAVY_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "similarity_ann_ivf",
    "text_cooccurrence_lift",
)
HEAVY_COPIES = 4
ETL_LEAGUES = 8
WORKLOADS = ("tail", "heavy", "etl")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile_tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic with at least
    ten samples above it; the maximum when there are fewer than eleven."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MB."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    me = os.getpid()
    total = hwm(me)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            comm_end = stat.rindex(")")
            if int(stat[comm_end + 2:].split()[1]) == me and "java" in stat[:comm_end]:
                total += hwm(entry)
        except (OSError, ValueError):
            continue
    return total / 1024.0


class Context:
    """Run-wide state the workloads share."""

    def __init__(self, args, work: str):
        from tracing import Tracer

        self.seed = args.seed
        self.trace_mode = bool(args.trace)
        self.corrupt = args.corrupt_expectation
        self.work = work
        self.cores = nproc()
        self.tracer = Tracer(self.trace_mode)
        self.spark = None
        self.phases: dict[int, dict[str, float]] = {}  # op -> SQL / streaming phase ms
        self.stream_runs: dict[str, int] = {}  # streaming runId -> op

    def start_spark(self) -> None:
        from football_etl_pipeline_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
        }
        if self.trace_mode:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=conf)

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def job_group(self, op: int, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"op{op}:{phase}", phase)

    def release(self) -> int:
        """Release cached data between ops; returns RDDs released."""
        from football_etl_pipeline_spark.operators.registry import (
            release_checkpoints,
            release_persists,
        )

        with self.tracer.span("registry.release"):
            n = release_persists() + release_checkpoints(self.spark)
            self.spark.catalog.clearCache()
        return n


# ---- query workloads ---------------------------------------------------


class QueryWorkload:
    """``tail`` and ``heavy``: one op is one registered query's count."""

    min_passes = 2

    def __init__(self, ctx: Context, names: tuple[str, ...], copies: int):
        self.ctx = ctx
        self.names = names
        self.kinds = names
        self.copies = copies
        self.data = os.path.join(ctx.work, "data")
        self.expected: dict[str, int] = {}
        self.inputs: dict = {}

    def setup(self) -> None:
        import duckdb

        import corpus
        from football_etl_pipeline_spark.operators import ORACLES

        self.inputs = corpus.write_corpus(self.data, self.ctx.seed, self.copies)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {self.ctx.cores}")
            for t in corpus.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name in self.names:
                sql = f"SELECT count(*) FROM ({ORACLES[name]})"
                self.expected[name] = con.execute(sql).fetchone()[0]
        finally:
            con.close()
        if self.ctx.corrupt:
            self.expected[self.names[0]] += 1

    def prepare(self, op: int, name: str) -> str:
        return name

    def op(self, op: int, name: str, traced: bool):
        from football_etl_pipeline_spark.operators import QUERIES

        ctx, tr = self.ctx, self.ctx.tracer
        ctx.job_group(op, "build")
        if not traced:
            df = QUERIES[name](ctx.spark, self.data)
            ctx.job_group(op, "exec")
            n = df.count()
            return lambda: n == self.expected[name]
        with tr.span("operators.build"):
            df = QUERIES[name](ctx.spark, self.data)
        ctx.job_group(op, "exec")
        # What DataFrame.count() runs, split so planning is timed on the
        # action's own QueryExecution.
        with tr.span("sql.plan"):
            cdf = df.groupBy().count()
            qe = cdf._jdf.queryExecution()
            qe.executedPlan()
        with tr.span("exec.action"):
            n = cdf.collect()[0][0]

        def check() -> bool:
            phases = qe.tracker().phases()
            ctx.phases[op] = {
                k: float(phases.apply(k).durationMs())
                for k in ("analysis", "optimization", "planning")
                if phases.contains(k)
            }
            return n == self.expected[name]

        return check

    def after_op(self) -> None:
        pass

    def finish(self) -> bool:
        return True

    def instrument(self) -> None:
        from tracing import instrument

        mods = [m for k, m in list(sys.modules.items())
                if k.startswith("football_etl_pipeline_spark.operators")]
        instrument(self.ctx.tracer, mods, "load_table", "sources.load")
        instrument(self.ctx.tracer, mods, "load_tables", "sources.load")

    def describe(self) -> dict:
        return {
            "queries": len(self.names),
            "corpus_copies": self.copies,
            "input_rows": sum(t["rows"] for t in self.inputs.values()),
            "input_mb": round(sum(t["bytes"] for t in self.inputs.values()) / 1e6, 2),
            "input_files": len(self.inputs),
        }


# ---- ETL workload ------------------------------------------------------

_PK_RE = re.compile(r"season_(\d+)/league_(\d+)/")


class EtlWorkload:
    """``etl``: a pass is four ops, one per (path, API shape), in seeded
    order. A ``batch`` op is one reference batch run over a fresh
    landing batch; a ``stream`` op is one ``availableNow`` drain of a
    fresh landing batch, with one stream and checkpoint per API kept
    across ops."""

    min_passes = 1

    def __init__(self, ctx: Context, leagues: int):
        import landing

        a, b = landing.APIS
        self.ctx = ctx
        self.leagues = leagues
        # Ordered so that the traced half of a pass (every other kind)
        # holds one batch and one stream op.
        self.kinds = (("batch", a), ("stream", b), ("batch", b), ("stream", a))
        self.landing = os.path.join(ctx.work, "landing")
        self.out = os.path.join(ctx.work, "out")
        self.io: dict[int, tuple[int, int, int]] = {}  # op -> files, bytes in, bytes out
        # stream: per API, pending orphan pk -> (batch id it arrived in, league dir)
        self.pending: dict[str, dict[str, tuple[int, str]]] = {}
        self.last_batch: dict[str, int] = {}

    def setup(self) -> None:
        os.makedirs(self.landing, exist_ok=True)

    def prepare(self, op: int, item):
        import landing

        path, api = item
        batch = landing.make_batch(self.ctx.seed, op, self.leagues, api)
        if self.ctx.corrupt and op == 0:
            batch.manifest.good_rows += 1
        return path, batch

    def op(self, op: int, item, traced: bool):
        path, batch = item
        if path == "stream":
            return self._stream_op(op, batch)
        return self._batch_op(op, batch)

    def _batch_op(self, op: int, batch):
        import landing
        from football_etl_pipeline_spark.plans.pipeline import (
            run_transform,
            write_dead_letter,
            write_unified,
        )

        ctx, tr = self.ctx, self.ctx.tracer
        root = os.path.join(self.landing, "batch", f"op{op}")
        out = os.path.join(self.out, "batch", f"op{op}")
        with tr.span("plans.ingest"):
            files = landing.stage(batch, root, run_id=f"op{op}")
        ctx.job_group(op, "transform")
        with tr.span("plans.transform_build"):
            res = run_transform(ctx.spark, batch.api, files)
        ctx.job_group(op, "load")
        with tr.span("plans.load"):
            metrics = write_unified(res.good, os.path.join(out, "unified"))
        ctx.job_group(op, "dead_letter")
        with tr.span("plans.dead_letter"):
            n_dead = res.dead_letter.count()
            write_dead_letter(res.dead_letter, os.path.join(out, "dead_letter"))

        def check() -> bool:
            self.io[op] = (len(files), sum(map(os.path.getsize, files)), _dir_bytes(out))
            got = _read_dead_letter(os.path.join(out, "dead_letter"))
            want = batch.manifest.dead_letter
            return metrics["n_rows"] == batch.manifest.good_rows and n_dead == len(want) and got == want

        return check

    def _stream_op(self, op: int, batch):
        import landing
        from football_etl_pipeline_spark.streaming.football_stream import (
            PENDING_FLUSH_BATCHES,
            run_streaming_transform,
        )

        ctx, tr = self.ctx, self.ctx.tracer
        base = os.path.join(self.out, "stream", batch.api)
        warehouse = os.path.join(base, "warehouse")
        dead = os.path.join(base, "dead_letter")
        root = os.path.join(self.landing, "stream")
        with tr.span("plans.ingest"):
            files = landing.stage(batch, root, run_id=f"op{op}")
        with tr.span("streaming.start"):
            q = run_streaming_transform(
                ctx.spark, batch.api, root, warehouse, dead, os.path.join(base, "checkpoint")
            )
        ctx.stream_runs[str(q.runId)] = op
        with tr.span("streaming.run"):
            q.awaitTermination()
        if tr.enabled:
            ctx.phases[op] = _stream_progress(q.recentProgress)

        def check() -> bool:
            api = batch.api
            new = [int(d.split("=")[1]) for d in os.listdir(warehouse) if d.startswith("batch_id=")]
            new = sorted(b for b in new if b > self.last_batch.get(api, -1))
            if len(new) != 1:
                return False
            b = self.last_batch[api] = new[0]
            rows = _parquet_rows(os.path.join(warehouse, f"batch_id={b}"))
            got = _read_dead_letter(os.path.join(dead, f"batch_id={b}"))
            pend = self.pending.setdefault(api, {})
            flushed = [pk for pk, (first, _) in pend.items() if b - first >= PENDING_FLUSH_BATCHES]
            want = {**batch.manifest.stream_dead_letter(), **{pk: "guard" for pk in flushed}}
            written = sum(_dir_bytes(os.path.join(d, f"batch_id={b}")) for d in (warehouse, dead))
            self.io[op] = (len(files), sum(map(os.path.getsize, files)), written)
            # Archive loaded groups so the watched tree stays small;
            # orphans stay until the stream flushes them.
            for pk in flushed:
                shutil.rmtree(pend.pop(pk)[1], ignore_errors=True)
            for pk in batch.manifest.orphans:
                pend[pk] = (b, _league_dir(root, api, pk.split("-")[1]))
            for league in batch.leagues:
                if f"{landing.SEASON}-{league}" not in pend:
                    shutil.rmtree(_league_dir(root, api, str(league)), ignore_errors=True)
            return rows == batch.manifest.good_rows and got == want

        return check

    def after_op(self) -> None:
        shutil.rmtree(os.path.join(self.landing, "batch"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.out, "batch"), ignore_errors=True)

    def finish(self) -> bool:
        """The orphans the benchmark expects to be pending are exactly
        those in each stream's pending-group state."""
        for api, pend in self.pending.items():
            state = os.path.join(self.out, "stream", api, "checkpoint", "pending_groups")
            latest = max(
                (f for f in os.listdir(state) if f.endswith(".json")),
                key=lambda f: int(re.findall(r"\d+", f)[0]),
            )
            with open(os.path.join(state, latest)) as f:
                held = {"-".join(_PK_RE.search(p).groups()) for p in json.load(f)}
            if held != set(pend):
                return False
        return True

    def instrument(self) -> None:
        """Span the stream's calls into ``run_transform`` (they run on
        the stream's thread) and give their jobs the op's group."""
        from football_etl_pipeline_spark.streaming import football_stream

        inner = football_stream.run_transform
        ctx = self.ctx

        def run_transform(spark, *args, **kwargs):
            op = ctx.tracer.op
            ctx.job_group(op, "transform")
            with ctx.tracer.span("plans.transform_build"):
                res = inner(spark, *args, **kwargs)
            ctx.job_group(op, "stream")
            return res

        football_stream.run_transform = run_transform

    def describe(self) -> dict:
        n = max(1, len(self.io))
        return {
            "leagues_per_op": self.leagues,
            "input_files_per_op": round(sum(v[0] for v in self.io.values()) / n, 1),
            "input_kb_per_op": round(sum(v[1] for v in self.io.values()) / n / 1e3, 1),
        }


def _league_dir(root: str, api: str, league: str) -> str:
    import landing

    return os.path.join(root, api, f"season_{landing.SEASON}", f"league_{league}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _read_dead_letter(path: str) -> dict[str, str]:
    """{PK: error class} from a dead-letter JSON-lines directory."""
    import landing

    out: dict[str, str] = {}
    if not os.path.isdir(path):
        return out
    for f in sorted(os.listdir(path)):
        if f.startswith("part-") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                for line in fh:
                    rec = json.loads(line)
                    out[rec["PK"]] = landing.error_class(rec["error"])
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )


def _stream_progress(progress) -> dict[str, float]:
    keys = ("triggerExecution", "addBatch", "latestOffset", "walCommit")
    out = {k: float(sum(p.durationMs.get(k, 0) for p in progress)) for k in keys}
    out["batches"] = float(len(progress))
    return out


# ---- run loop ------------------------------------------------------------


def make_workload(name: str, ctx: Context):
    if name == "tail":
        return QueryWorkload(ctx, TAIL_QUERIES, 1)
    if name == "heavy":
        return QueryWorkload(ctx, HEAVY_QUERIES, HEAVY_COPIES)
    return EtlWorkload(ctx, ETL_LEAGUES)


def _shuffled(kinds: tuple, rng: random.Random) -> list:
    """One pass: every op kind once, in seeded order. The first pass of
    a run is the warm pass, so the first op of each kind, which compiles
    its plans' generated code, stays out of the timed passes."""
    order = list(kinds)
    rng.shuffle(order)
    return order


def run(args, work: str) -> dict:
    ctx = Context(args, work)
    wl = make_workload(args.workload, ctx)
    ctx.start_spark()
    wl.setup()
    if ctx.trace_mode:
        wl.instrument()
    rng = random.Random(args.seed)
    tr = ctx.tracer
    records: list[dict] = []
    attempted = failed = 0

    def one(op: int, item, traced: bool) -> None:
        nonlocal attempted, failed
        item = wl.prepare(op, item)
        tr.enabled, tr.op = traced, op
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                check = wl.op(op, item, traced)
            lat = time.perf_counter() - t0
            ok = check()
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, the run goes on
            print(f"op {op} failed: {type(ex).__name__}: {str(ex)[:300]}", file=sys.stderr)
            lat, ok = time.perf_counter() - t0, False
        released = ctx.release()
        tr.enabled = False
        wl.after_op()
        attempted += 1
        failed += not ok
        records.append({"op": op, "lat": lat, "ok": ok, "traced": traced, "released": released})

    # Warm pass, checked but untimed.
    for item in _shuffled(wl.kinds, rng):
        one(len(records), item, False)
    warm = len(records)
    setup_s = time.perf_counter() - T_START

    # A traced run traces every other op kind, the other half in the
    # next pass, and ends after an even number of passes: traced and
    # untraced ops are then the same mix, spread alike over the run.
    min_passes = max(2, wl.min_passes) if ctx.trace_mode else wl.min_passes
    loop_start = time.perf_counter()
    pass_no = 0
    while (pass_no < min_passes or time.perf_counter() - loop_start < args.seconds
           or (ctx.trace_mode and pass_no % 2)):
        for item in _shuffled(wl.kinds, rng):
            traced = ctx.trace_mode and (wl.kinds.index(item) + pass_no) % 2 == 0
            one(len(records), item, traced)
        pass_no += 1
    loop_s = time.perf_counter() - loop_start
    if not wl.finish():
        failed += 1
    rss = peak_rss_mb()

    timed = records[warm:]
    lats = [r["lat"] for r in timed if not r["traced"]]
    tail, pct = quantile_tail(lats)
    result = {
        "cores": ctx.cores,
        "ops": len(timed),
        "tail_percentile": pct,
        "inputs": wl.describe(),
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lats), "s"),
            "op_tail_s": (tail, "s"),
            "ops_per_s": (len(timed) / loop_s, "1/s"),
            "failed_frac": (failed / attempted, "ratio"),
            "peak_rss_mb": (rss, "MB"),
        },
        "attempted": attempted,
        "failed": failed,
    }
    if ctx.trace_mode:
        import layers

        ctx.spark.stop()
        result["per_layer"] = layers.per_layer(ctx, wl, timed)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tr.dump(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    return result


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-expectation", action="store_true",
                   help="make the first op's expectation wrong, to show it counts as a failed op")
    args = p.parse_args(argv)

    # On SIGTERM, unwind through the finally blocks that stop the JVM
    # and remove the scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # Spark's Python workers import the package's UDFs from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    try:
        try:
            import football_etl_pipeline_spark.operators  # noqa: F401
        except ImportError as ex:
            print(f"cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
            return 2
        try:
            result = run(args, work)
        finally:
            stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    w = args.workload
    for name, (value, unit) in result["end_to_end"].items():
        print(f"{w:>10}  {name:<34} {value:14.4f} {unit}")
    print(f"{w:>10}  ops={result['ops']} cores={result['cores']} closed loop, 1 client, "
          f"op_tail_s=p{result['tail_percentile']:.1f} inputs={json.dumps(result['inputs'])}")
    if args.trace:
        metrics = result["per_layer"]
        for name, m in metrics.items():
            print(f"{w:>10}  {name:<34} {m['value']:14.4f} {m['unit']}")
    else:
        # failed_frac is reported above and as failed/attempted below;
        # it is 0 on a correct run, so it is not a bounded metric.
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["end_to_end"].items()
                   if k != "failed_frac"}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
