"""Manifest-based versioned parquet tables: snapshot isolation, time
travel, optimistic concurrency, and vacuum — the lakehouse-format core
(what Delta/Iceberg provide) re-expressed with stdlib + parquet, for
environments without a table-format runtime (installs are prohibited
in this container; the reference's warehouse is WRITE_TRUNCATE
BigQuery with none of this).

Layout::

    <root>/data/<commit-uuid>/part-*.parquet   -- immutable data files
    <root>/_manifests/v000001.json             -- one manifest per version

A manifest lists the data files that ARE the table at that version,
plus lineage metadata. The commit point is a single atomic
``os.link``-free O_EXCL manifest CREATE: writers stage data files
first (invisible until referenced), then claim the next version number
by exclusively creating its manifest — two writers racing from the
same base version cannot both win, which is the whole of optimistic
concurrency control. A crash before the manifest create leaves only
unreferenced data files, removable by ``vacuum``; readers always see
a complete version because they resolve a manifest FIRST and read
exactly its files.

Scale notes: manifests carry file paths + per-file row counts (cheap
stats a planner can prune on); data files are never rewritten on
append — an append commit reuses the previous manifest's file list.
At 100 TB the same design holds with manifest pagination (Iceberg's
manifest-list layer); one JSON per version is the honest small-scale
cut and the seam is documented here rather than faked.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


class VersionConflict(RuntimeError):
    """Another writer committed the version this writer raced for."""


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version:06d}.json")


def versions(root: str) -> list[int]:
    """All committed versions, ascending."""
    mdir = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def _read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as fh:
        return json.load(fh)


def _int_meta(meta: dict | None) -> dict:
    """Integer-valued meta entries — the ones that act as watermarks
    (bools excluded: they are ints in Python but not watermarks)."""
    return {
        k: v
        for k, v in (meta or {}).items()
        if isinstance(v, int) and not isinstance(v, bool)
    }


def _carried_watermarks(root: str, vs: list[int]) -> dict:
    """The running-max watermark dict to carry into the NEXT manifest,
    derived from the current latest manifest. Every commit carries it
    forward (``vacuum``-proof: dropping old manifests can no longer
    lose the max ``batch_id`` behind a window of non-batch commits).
    Legacy manifests without a ``watermarks`` key are backfilled by a
    one-time scan of the surviving history."""
    if not vs:
        return {}
    m = _read_manifest(root, vs[-1])
    wm = m.get("watermarks")
    if wm is not None:
        return dict(wm)
    # legacy table: reconstruct from whatever manifests still exist
    out: dict = {}
    for v in vs:
        for k, val in _int_meta(_read_manifest(root, v).get("meta")).items():
            out[k] = val if k not in out else max(out[k], val)
    return out


class SchemaConflict(ValueError):
    """An append redefines an existing column with a different type."""


def _merge_schemas(prior_json: str, new_schema) -> str:
    """Schema evolution for append commits, Delta-style: the committed
    schema is prior fields (in their order) plus any NEW fields the
    incoming frame adds (in its order). A same-name field whose
    dataType differs raises ``SchemaConflict`` — silent type drift is
    the lake corruption no later read can undo. Returns the merged
    schema as JSON (the manifest's storage form). Readers resolve old
    files against the merged schema, NULL-filling absent columns
    (``read_version``), which is what makes add-column evolution a
    metadata-only operation — no data file is ever rewritten."""
    from pyspark.sql.types import StructType

    prior = StructType.fromJson(json.loads(prior_json))
    by_name = {f.name: f for f in prior.fields}
    merged = list(prior.fields)
    for f in new_schema.fields:
        old = by_name.get(f.name)
        if old is None:
            merged.append(f)
        elif old.dataType != f.dataType:
            raise SchemaConflict(
                f"column {f.name!r}: committed type {old.dataType} "
                f"!= incoming {f.dataType}"
            )
    return StructType(merged).json()


def commit_version(
    df: DataFrame,
    root: str,
    mode: str = "append",
    expected_base: int | None = None,
    meta: dict | None = None,
) -> int:
    """Stage ``df`` as new immutable data files, then atomically
    publish the next version. ``mode``: ``append`` keeps the previous
    version's files, ``overwrite`` replaces them (old files stay on
    disk for time travel until ``vacuum``). ``expected_base`` makes
    the optimistic-concurrency check EXPLICIT: if another writer
    committed since the caller read that version, raise
    ``VersionConflict`` instead of silently racing for version
    numbers. An append whose frame ADDS columns evolves the committed
    schema (``_merge_schemas``); one that re-types an existing column
    raises ``SchemaConflict``. Returns the committed version."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    vs = versions(root)
    base = vs[-1] if vs else 0
    if expected_base is not None and base != expected_base:
        raise VersionConflict(
            f"expected base version {expected_base}, found {base}"
        )
    carried: list[str] = []
    prior_stats: dict = {}
    schema_json = df.schema.json()
    if mode == "append" and vs:
        pm = _read_manifest(root, base)
        carried = pm["files"]
        prior_stats = pm.get("stats", {})
        # validate/evolve BEFORE staging: a SchemaConflict must not
        # leave orphaned (if vacuumable) data files behind
        schema_json = _merge_schemas(pm["schema"], df.schema)
    # 1. stage: write data files under a commit-unique dir — invisible
    #    to every reader until a manifest references them
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(root, _DATA_DIR, commit_id)
    df.write.mode("error").parquet(data_dir)
    new_files = sorted(
        os.path.join(_DATA_DIR, commit_id, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    stats = dict(prior_stats)
    stats.update(_file_stats(root, new_files))
    wm = _carried_watermarks(root, vs)
    for k, v in _int_meta(meta).items():
        wm[k] = v if k not in wm else max(wm[k], v)
    manifest = {
        "version": base + 1,
        "base": base,
        "mode": mode,
        "commit_id": commit_id,
        "files": carried + new_files,
        "schema": schema_json,
        "meta": meta or {},
        "watermarks": wm,
        "stats": stats,
    }
    # 2. publish: O_EXCL create IS the commit point — losing a race
    #    raises here, and the staged files stay orphaned (vacuumable),
    #    never half-visible
    target = _manifest_path(root, base + 1)
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise VersionConflict(
            f"version {base + 1} was committed concurrently"
        ) from e
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    return base + 1


def _file_stats(root: str, rel_files: list[str]) -> dict:
    """Per-file footer statistics (row count + min/max per leaf
    column), read from parquet metadata with pyarrow — no Spark job.
    These are what make copy-on-write deletes and future scan-pruning
    cheap: the manifest answers \"which files can contain key K\"
    without opening data pages (Iceberg/Delta keep exactly this).

    String caveat: parquet writers may TRUNCATE long string min/max
    stats (a truncated max can sit below the file's true max), which
    would let ``delete_where`` carry a file by reference while rows
    matching the predicate survive inside it. So string-typed stats
    are recorded ONLY when the writer's exactness flags
    (``is_min_value_exact``/``is_max_value_exact``, parquet-format
    ColumnOrder-era fields surfaced by pyarrow) are present and true;
    otherwise the column gets no stats for that file — no stats means
    "always scan/rewrite", which is conservative and correct. Binary
    physical stats are skipped outright."""
    import pyarrow.parquet as pq

    out: dict = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        cols: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                st = c.statistics
                if st is None or not st.has_min_max:
                    continue
                name = c.path_in_schema
                mn, mx = st.min, st.max
                if isinstance(mn, bytes) or isinstance(mx, bytes):
                    continue  # physical byte stats don't compare portably
                if isinstance(mn, str) or isinstance(mx, str):
                    if not (
                        getattr(st, "is_min_value_exact", False)
                        and getattr(st, "is_max_value_exact", False)
                    ):
                        continue  # possibly truncated → treat as no-stats
                if hasattr(mn, "isoformat"):
                    mn, mx = mn.isoformat(), mx.isoformat()
                if name in cols:
                    cols[name] = [min(cols[name][0], mn), max(cols[name][1], mx)]
                else:
                    cols[name] = [mn, mx]
        out[rel] = {"rows": md.num_rows, "minmax": cols}
    return out


def delete_where(
    spark: SparkSession, root: str, col: str, lo, hi
) -> tuple[int, dict]:
    """Copy-on-write row-level delete of ``col BETWEEN lo AND hi``:
    files whose footer [min, max] range cannot contain the predicate
    are CARRIED BY REFERENCE into the new version; only intersecting
    files are read, filtered, and rewritten. Returns (new_version,
    {"carried": [...], "rewritten": [...]}). Time travel keeps the
    pre-delete version readable until ``vacuum``.

    This is the Delta/Iceberg delete path in miniature: the manifest's
    per-file stats bound the rewrite set, so deleting one day from a
    date-clustered 100 TB table rewrites one day's files, not the
    table."""
    from pyspark.sql import functions as F

    vs = versions(root)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {root}")
    base = vs[-1]
    m = _read_manifest(root, base)
    stats = m.get("stats", {})
    carried, touched = [], []
    for rel in m["files"]:
        mm = stats.get(rel, {}).get("minmax", {}).get(col)
        if mm is not None and (mm[1] < lo or mm[0] > hi):
            carried.append(rel)
        else:
            touched.append(rel)
    survivors_files: list[str] = []
    commit_id = uuid.uuid4().hex[:12]
    if touched:
        surv = spark.read.parquet(
            *[os.path.join(root, f) for f in touched]
        ).filter(~F.col(col).between(lo, hi))
        data_dir = os.path.join(root, _DATA_DIR, commit_id)
        surv.write.mode("error").parquet(data_dir)
        survivors_files = sorted(
            os.path.join(_DATA_DIR, commit_id, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
    new_stats = {rel: stats[rel] for rel in carried if rel in stats}
    new_stats.update(_file_stats(root, survivors_files))
    manifest = {
        "version": base + 1,
        "base": base,
        "mode": "delete",
        "commit_id": commit_id,
        "files": carried + survivors_files,
        "schema": m.get("schema"),
        "meta": {"delete": {"col": col, "lo": str(lo), "hi": str(hi)}},
        "watermarks": _carried_watermarks(root, vs),
        "stats": new_stats,
    }
    target = _manifest_path(root, base + 1)
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise VersionConflict(
            f"version {base + 1} was committed concurrently"
        ) from e
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    return base + 1, {"carried": carried, "rewritten": touched}


def last_committed_meta(root: str, key: str) -> int | None:
    """Max integer ``meta[key]`` ever committed — the
    replay-idempotence watermark a streaming sink checks before
    committing a re-delivered micro-batch (the manifest records the
    batch WITH the data it published, so the guard can't desync from
    the table the way a sidecar marker could).

    Reads the LATEST manifest's carried ``watermarks`` (every commit
    copies the running max forward), so the answer survives ``vacuum``
    even when non-batch commits (delete_where/overwrite/compaction)
    fill the whole keep window. Legacy tables without the carried key
    fall back to scanning surviving manifests."""
    return last_committed_meta_at(root, key, versions(root))


def last_committed_meta_at(
    root: str, key: str, vs: list[int]
) -> int | None:
    """``last_committed_meta`` against an explicit version-list
    SNAPSHOT — lets a writer derive its replay guard and its
    optimistic-concurrency base from ONE ``versions()`` read, so the
    guard and the commit race the same state (see
    ``streaming.versioned_sink.commit_batch``)."""
    return _carried_watermarks(root, vs).get(key)


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    prune: tuple | None = None,
) -> DataFrame:
    """Read the table at ``version`` (default: latest). Resolving the
    manifest FIRST and reading exactly its files is what makes every
    read a consistent snapshot — a concurrent commit changes which
    manifest is latest, never the contents of a resolved one.

    ``prune=(col, lo, hi)`` applies MANIFEST-level data skipping: files
    whose footer [min, max] for ``col`` cannot intersect [lo, hi] are
    dropped from the listing before Spark ever opens them (the same
    stats ``delete_where`` uses to bound rewrites — Iceberg/Delta's
    scan-planning step), and the residual row filter is applied on
    top so the result is exact even for files without stats.

    Every read resolves against the MANIFEST's committed schema, not
    footer inference: after an add-column append (``_merge_schemas``),
    the file list is heterogeneous and inference would return
    whichever file's schema Spark sampled first — the manifest schema
    makes old files NULL-fill evolved columns deterministically, and
    time travel to a pre-evolution version sees that version's
    narrower schema (Delta's reader semantics)."""
    vs = versions(root)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {root}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs}")
    m = _read_manifest(root, v)
    files = m["files"]
    if prune is not None:
        col, lo, hi = prune
        stats = m.get("stats", {})
        kept = []
        for rel in files:
            mm = stats.get(rel, {}).get("minmax", {}).get(col)
            if mm is not None and (mm[1] < lo or mm[0] > hi):
                continue
            kept.append(rel)
        files = kept
    from pyspark.sql.types import StructField, StructType

    committed = StructType.fromJson(json.loads(m["schema"]))
    if not files:
        # zero referenced files (a pruned-out read, or an overwrite
        # commit of an empty frame whose writer emitted no parts):
        # an empty frame with the committed schema, not a read error
        return local_frame(spark, [], committed)
    paths = [os.path.join(root, f) for f in files]
    # nullable-relaxed: files predating an evolved column have no
    # values for it, so the reader must be allowed to emit NULLs
    # regardless of the committed nullability flag
    read_schema = StructType(
        [StructField(f.name, f.dataType, True, f.metadata)
         for f in committed.fields]
    )
    df = spark.read.schema(read_schema).parquet(*paths)
    if prune is not None:
        from pyspark.sql import functions as F

        col, lo, hi = prune
        df = df.filter(F.col(col).between(lo, hi))
    return df


def snapshot_diff(
    spark: SparkSession,
    root: str,
    old: int,
    new: int,
    key: str,
) -> DataFrame:
    """Row-level change feed between two committed versions keyed by
    ``key``: emits (change, key) rows with change ∈ insert/delete —
    the version-aware face of ``operators.maintenance.cdc_snapshot_diff``."""
    from pyspark.sql import functions as F

    a = read_version(spark, root, old).select(key).withColumn(
        "_old", F.lit(1)
    )
    b = read_version(spark, root, new).select(key).withColumn(
        "_new", F.lit(1)
    )
    j = a.join(b, key, "full")
    return j.select(
        F.when(F.col("_old").isNull(), "insert")
        .when(F.col("_new").isNull(), "delete")
        .alias("change"),
        key,
    ).filter(F.col("change").isNotNull())


def vacuum(root: str, keep: int = 2) -> list[str]:
    """Drop manifests older than the newest ``keep`` versions and
    delete data files no retained manifest references (orphans from
    crashed commits included). Returns the deleted file paths.
    Irreversible by design — time travel reaches only kept versions
    afterward."""
    vs = versions(root)
    kept = set(vs[-keep:]) if keep > 0 else set()
    live: set[str] = set()
    for v in kept:
        live.update(_read_manifest(root, v)["files"])
    deleted: list[str] = []
    for v in vs:
        if v not in kept:
            os.remove(_manifest_path(root, v))
    data_root = os.path.join(root, _DATA_DIR)
    if os.path.isdir(data_root):
        for commit_id in list(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit_id)
            for f in list(os.listdir(cdir)):
                rel = os.path.join(_DATA_DIR, commit_id, f)
                if f.endswith(".parquet") and rel not in live:
                    os.remove(os.path.join(cdir, f))
                    deleted.append(rel)
            if not any(
                x.endswith(".parquet") for x in os.listdir(cdir)
            ):
                import shutil

                shutil.rmtree(cdir, ignore_errors=True)
    return deleted
