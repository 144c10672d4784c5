"""Streaming ingestion of the football LANDING DIRECTORY itself —
SURVEY §7 Stage 4's optional last piece: instead of a launcher
passing a literal file list per run (the reference's Dataflow-Flex
hop, ``/root/reference/dataflow-flex/main.py:37``), a file-source
stream watches the reference landing layout
``{api}/season_{s}/league_{l}/{endpoint}/*.json`` and every newly
arrived file flows through the SAME batch transform
(``plans/pipeline.run_transform`` — enforcement, group-level
dead-letter and all) via ``foreachBatch``.

Why foreachBatch and not a fully-streaming plan: the football
transform joins teams⋈standings per group. Landing files carry NO
event time, and Spark (correctly) refuses unbounded stream-stream
joins without watermarks — but per micro-batch the file set is
complete per arrival, so handing each batch's file list to the batch
transform gives the reference's exact group semantics with streaming
arrival, checkpointed exactly-once file tracking, and zero duplicated
transform logic. This is the canonical Spark shape for
"complex batch logic, incremental arrival".

Delivery semantics: the file source checkpoint guarantees each landing
file is delivered to exactly one micro-batch; outputs are keyed by
``batch_id`` directory and written with overwrite, so a replayed batch
(driver crash between write and commit) OVERWRITES its own prior
output instead of duplicating rows — effectively-once at the row
level, the per-batch analog of the reference's WRITE_TRUNCATE
idempotency (pipeline.py:53). Batches are additionally GROUP-ATOMIC:
files whose (season, league) group is missing a required endpoint are
held in a tiny per-batch pending state and processed by the batch that
completes the group (see the pending-state block below) — without
this, maxFilesPerTrigger boundaries falling inside a group would
wrongly dead-letter both halves as join misses. An orphan whose
sibling never arrives flushes after ``PENDING_FLUSH_BATCHES`` further
batches (requires later arrivals to trigger those batches — true
under continuous ingest; an idle stream holds orphans pending). The replay is not byte-identical: the
``update_timestamp`` column is stamped at write time (matching the
reference's CURRENT_TIMESTAMP() column), so only that column differs
across a replay.

Scale note: the watch uses ``binaryFile`` because it emits exactly
one row per file (a ``text`` watch never surfaces zero-row files) —
at 100 TB/day of landings you would flip to file-notification mode
(cloud-native file queues) and pass ``content``-free metadata;
the foreachBatch contract is unchanged.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import run_transform, write_unified

_FILE_PREFIX = "file:"


# Per-micro-batch file cap. Bounds BOTH the source's trigger size and
# the driver-side path list foreachBatch collects (one short string per
# file), so a backlog of a million landings drains in bounded batches
# instead of one unbounded collect.
DEFAULT_MAX_FILES_PER_TRIGGER = 256

# --- group-atomic batching -------------------------------------------
#
# The transform joins teams⋈standings per (season, league) group, so a
# group whose two files land in DIFFERENT micro-batches would wrongly
# dead-letter as a join miss — and maxFilesPerTrigger gives NO group
# guarantee (file order ties on same-millisecond mtimes break
# arbitrarily; measured: 6 simultaneously staged files split their
# groups). _process therefore holds back files whose group is
# incomplete and folds them into the batch that completes the group.
# A group overdue for PENDING_FLUSH_BATCHES micro-batches flushes
# anyway — at that point the sibling genuinely didn't arrive and the
# dead-letter is CORRECT, not an artifact of batch boundaries.
#
# The pending set is tiny driver state ({path: first_seen_batch});
# it is persisted per batch_id (overwrite) so an at-least-once replay
# of batch N rebuilds its decisions from batch N-1's state and reaches
# the same result — the same determinism-by-construction as the
# batch_id-keyed output overwrite.
_ENDPOINT_RE = re.compile(r"season_(\d+)/league_(\d+)/([^/]+)/[^/]+$")
REQUIRED_ENDPOINTS = frozenset({"teams", "standings"})
PENDING_FLUSH_BATCHES = 8


def _group_of(path: str):
    """(season, league, endpoint) parsed from the landing layout, or
    None for paths outside it (those process immediately — the batch
    transform's unknown-key dead-letter path owns them)."""
    m = _ENDPOINT_RE.search(path.replace(os.sep, "/"))
    if not m:
        return None
    return (m.group(1), m.group(2)), m.group(3)


def _read_pending(pending_dir: str, batch_id: int) -> dict[str, int]:
    """Pending state as of the latest committed batch BEFORE this one
    (so a replay of batch N recomputes from N-1's state)."""
    if not os.path.isdir(pending_dir):
        return {}
    best = -1
    for f in os.listdir(pending_dir):
        m = re.fullmatch(r"batch_(\d+)\.json", f)
        if m and int(m.group(1)) < batch_id:
            best = max(best, int(m.group(1)))
    if best < 0:
        return {}
    with open(os.path.join(pending_dir, f"batch_{best}.json")) as fh:
        return json.load(fh)


def _write_pending(pending_dir: str, batch_id: int, pending: dict[str, int]) -> None:
    os.makedirs(pending_dir, exist_ok=True)
    tmp = os.path.join(pending_dir, f"batch_{batch_id}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(pending, fh)
    os.replace(tmp, os.path.join(pending_dir, f"batch_{batch_id}.json"))


def _split_ready(
    files: list[str],
    pending: dict[str, int],
    batch_id: int,
    flush_after: int = PENDING_FLUSH_BATCHES,
) -> tuple[list[str], dict[str, int]]:
    """Partition pending ∪ arriving into (ready-to-process, still
    pending): a file is ready when its group has every REQUIRED
    endpoint, when it is overdue, or when it has no parseable group."""
    candidates: dict[str, int] = dict(pending)
    for p in files:
        candidates.setdefault(p, batch_id)
    groups: dict[tuple, set] = {}
    for p in candidates:
        g = _group_of(p)
        if g is not None:
            groups.setdefault(g[0], set()).add(g[1])
    ready, still = [], {}
    for p, first_seen in candidates.items():
        g = _group_of(p)
        complete = g is None or REQUIRED_ENDPOINTS <= groups[g[0]]
        overdue = batch_id - first_seen >= flush_after
        if complete or overdue:
            ready.append(p)
        else:
            still[p] = first_seen
    return sorted(ready), still


def read_landing_stream(
    spark: SparkSession,
    landing_root: str,
    api_name: str,
    max_files_per_trigger: int = DEFAULT_MAX_FILES_PER_TRIGGER,
) -> DataFrame:
    """One row per newly arrived landing file under the api subtree
    (any season/league/endpoint), tracked by the streaming
    checkpoint."""
    return (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed, but streaming sources must
        # declare one explicitly (no inference pass on a stream).
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(os.path.join(landing_root, api_name))
    )


def _local_path(uri: str) -> str:
    """binaryFile yields file: URIs; run_transform wants plain paths
    (both satisfy PK_REGEX, but staged-file lists should round-trip)."""
    if uri.startswith(_FILE_PREFIX):
        path = uri[len(_FILE_PREFIX):]
        while path.startswith("//"):
            path = path[1:]
        return path
    return uri


def run_streaming_transform(
    spark: SparkSession,
    api_name: str,
    landing_root: str,
    warehouse_path: str,
    dead_letter_path: str,
    checkpoint_dir: str,
    schema_data: dict | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = DEFAULT_MAX_FILES_PER_TRIGGER,
    pending_flush_batches: int = PENDING_FLUSH_BATCHES,
):
    """Start the landing-dir stream: every micro-batch's new files run
    through the batch ``run_transform`` and land under
    ``{warehouse,dead_letter}/batch_id=N``. Returns the streaming
    query (availableNow drains the current backlog then stops)."""

    pending_dir = os.path.join(checkpoint_dir, "pending_groups")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # binaryFile emits one row per file: a set, not a Spark distinct
        # (whose shuffle would cost a job per micro-batch)
        arrived = sorted(
            {_local_path(r.path) for r in batch_df.select("path").collect()}
        )
        pending = _read_pending(pending_dir, batch_id)
        files, still_pending = _split_ready(
            arrived, pending, batch_id, pending_flush_batches
        )
        _write_pending(pending_dir, batch_id, still_pending)
        if not files:
            return
        res = run_transform(spark, api_name, files, schema_data)
        metrics = write_unified(
            res.good, os.path.join(warehouse_path, f"batch_id={batch_id}")
        )
        (
            res.dead_letter.coalesce(1)
            .write.mode("overwrite")
            .json(os.path.join(dead_letter_path, f"batch_id={batch_id}"))
        )
        res.release()
        res.log_run(metrics, api_name, run_id=f"batch_id={batch_id}")

    writer = (
        read_landing_stream(spark, landing_root, api_name, max_files_per_trigger)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
