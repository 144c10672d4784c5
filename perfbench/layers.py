"""Per-layer metrics of a traced run.

Each traced op's wall time is split into the self times of the spans
the benchmark put around its calls into the package's modules:

====================  =================================================
span                  call
====================  =================================================
session.start         ``session.get_spark``
sources.load          ``sources.testdata.load_table(s)``, as called by
                      the operator modules
operators.build       ``QUERIES[name](spark, dir)`` (self time)
sql.plan              ``executedPlan()`` of the count's QueryExecution
exec.action           the count's ``collect()``
registry.release      ``release_persists()`` + ``clearCache()`` +
                      ``release_checkpoints(spark)``, between ops
plans.ingest          ``plans.ingest.ingest`` (plus fault injection)
plans.transform_build ``plans.pipeline.run_transform``
plans.load            ``write_unified``
plans.dead_letter     dead-letter ``count()`` + ``write_dead_letter``
streaming.start       ``run_streaming_transform`` until it returns
streaming.run         ``awaitTermination()`` of the drain
====================  =================================================

Job, stage and task figures come from Spark's event log, folded per
job group (``op<N>:<phase>``, or the streaming query's run id).

Values are means per traced op. The spans on the benchmark's thread
nest inside the op span, so their self times add up to the op's wall
time; the part no layer span covers is ``trace.unattributed_frac``
(worst op), which must stay under ``RECONCILE_TOL``. A stream op's
``run_transform`` runs on the stream's own thread inside
``streaming.run``, so its ``plans.transform_build`` time is part of
``streaming.run_s``, not added to it. A traced run traces every other
op kind of a pass and the other half in the next pass, so over each two
passes traced and untraced ops are the same mix, spread alike over the
run; ``trace.overhead_ms`` is the median traced op latency minus the
median untraced one. The event log is on for both, so its own cost shows only
against a ``--trace 0`` run.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import event_log_files, fold_event_log

RECONCILE_TOL = 0.05

TIME_LAYERS = {
    "sources.load_s": "sources.load",
    "operators.build_s": "operators.build",
    "sql.plan_s": "sql.plan",
    "exec.action_s": "exec.action",
    "registry.release_s": "registry.release",
    "plans.ingest_s": "plans.ingest",
    "plans.transform_build_s": "plans.transform_build",
    "plans.load_s": "plans.load",
    "plans.dead_letter_s": "plans.dead_letter",
    "streaming.start_s": "streaming.start",
    "streaming.run_s": "streaming.run",
}
PHASES_MS = {
    "sql.analysis_ms": "analysis",
    "sql.optimization_ms": "optimization",
    "sql.planning_ms": "planning",
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.batches": "batches",
}
EXEC = {
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.executor_run_ms": ("executor_run_ms", "ms"),
    "exec.executor_cpu_ms": ("executor_cpu_ms", "ms"),
    "exec.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "exec.spill_bytes": ("spill_bytes", "bytes"),
    "exec.gc_ms": ("gc_ms", "ms"),
}

# Every per-layer metric and its unit, in report order.
METRICS = {
    "session.start_s": "s",
    **{name: "s" for name in TIME_LAYERS},
    "operators.build_jobs": "count",
    "plans.transform_jobs": "count",
    **{name: "count" if key == "batches" else "ms" for name, key in PHASES_MS.items()},
    **{name: unit for name, (_, unit) in EXEC.items()},
    "exec.cpu_share": "ratio",
    "registry.released_rdds": "count",
    "plans.input_files": "count",
    "plans.input_bytes": "bytes",
    "plans.bytes_written_per_input_byte": "ratio",
    "trace.unattributed_frac": "ratio",
    "trace.unreconciled_ops": "count",
    "trace.overhead_ms": "ms",
}


def _op_of_group(group: str, stream_runs: dict[str, int]) -> tuple[int, str] | None:
    if group.startswith("op") and ":" in group:
        op, phase = group[2:].split(":", 1)
        return int(op), phase
    if group in stream_runs:
        return stream_runs[group], "stream"
    return None


def per_layer(ctx, wl, records: list[dict]) -> dict[str, dict]:
    tr = ctx.tracer
    traced = [r for r in records if r["traced"]]
    ops = {r["op"] for r in traced}
    n = max(1, len(ops))
    own = tr.self_times()

    layer = defaultdict(lambda: defaultdict(float))  # op -> span name -> self s
    wall: dict[int, float] = {}
    session_start = 0.0
    for span, self_s in zip(tr.spans, own):
        if span.name == "session.start":
            session_start = span.dur
        elif span.op in ops:
            layer[span.op][span.name] += self_s
            if span.name == "op":
                wall[span.op] = span.dur

    groups = defaultdict(lambda: defaultdict(float))  # op -> phase -> {metric}
    per_op = defaultdict(lambda: defaultdict(float))
    for group, g in fold_event_log(event_log_files(ctx.event_log_dir)).items():
        hit = _op_of_group(group, ctx.stream_runs)
        if hit is None or hit[0] not in ops:
            continue
        op, phase = hit
        groups[op][phase] += g.get("jobs", 0)
        for key, value in g.items():
            per_op[op][key] += value

    def mean(values) -> float:
        return sum(values) / n

    out: dict[str, float] = {"session.start_s": session_start}
    for metric, name in TIME_LAYERS.items():
        out[metric] = mean(layer[o][name] for o in ops)
    out["operators.build_jobs"] = mean(groups[o]["build"] for o in ops)
    out["plans.transform_jobs"] = mean(groups[o]["transform"] for o in ops)
    for metric, key in PHASES_MS.items():
        out[metric] = mean(ctx.phases.get(o, {}).get(key, 0.0) for o in ops)
    for metric, (key, _) in EXEC.items():
        out[metric] = mean(per_op[o][key] for o in ops)
    cpu_share = [
        per_op[o]["executor_cpu_ms"] / (wall[o] * 1000.0 * ctx.cores) for o in ops if wall.get(o)
    ]
    out["exec.cpu_share"] = statistics.median(cpu_share) if cpu_share else 0.0
    out["registry.released_rdds"] = mean(r["released"] for r in traced)

    io = [wl.io[o] for o in ops if o in getattr(wl, "io", {})]
    in_bytes = sum(v[1] for v in io)
    out["plans.input_files"] = mean(v[0] for v in io)
    out["plans.input_bytes"] = mean(v[1] for v in io)
    out["plans.bytes_written_per_input_byte"] = sum(v[2] for v in io) / in_bytes if in_bytes else 0.0

    # Reconciliation: the op span's own self time is the part of its
    # wall no layer span covers.
    unattributed = [layer[o]["op"] / wall[o] for o in ops if wall.get(o)]
    out["trace.unattributed_frac"] = max(unattributed) if unattributed else 0.0
    out["trace.unreconciled_ops"] = float(sum(u > RECONCILE_TOL for u in unattributed))
    traced_lat = [r["lat"] for r in traced]
    plain_lat = [r["lat"] for r in records if not r["traced"]]
    out["trace.overhead_ms"] = (statistics.median(traced_lat) - statistics.median(plain_lat)) * 1000.0
    return {k: {"value": out[k], "unit": unit} for k, unit in METRICS.items()}

