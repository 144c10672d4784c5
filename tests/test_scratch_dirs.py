"""Operators whose returned frame reads files they wrote keep those
files in ``registry.run_scratch_dir``'s per-process root (removed at
exit, dead owners' dirs swept), never as a new entry directly under
the system temp dir, where nothing would ever remove them."""

from __future__ import annotations

import os
import tempfile

from football_etl_pipeline_spark.operators import QUERIES
from football_etl_pipeline_spark.operators.registry import release_checkpoints

_LEAK_PREFIXES = ("qsm_", "ahash_fp_store_")


def _temp_entries(prefixes) -> set[str]:
    return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith(prefixes)}


def _scratch_entries(kind: str) -> set[str]:
    base = os.path.join(tempfile.gettempdir(), "spark_graft_scratch")
    if not os.path.isdir(base):
        return set()
    mine = f"-{os.getpid()}-"
    return {e for e in os.listdir(base) if e.startswith(f"{kind}-") and mine in e}


def test_state_dirs_live_under_the_scratch_root(spark, sf_dir):
    before = _temp_entries(_LEAK_PREFIXES)
    owned = {k: _scratch_entries(k) for k in ("qsm", "ahash_fp_store")}
    for name in (
        "streaming_quantile_sketch_maintenance",
        "multimodal_ahash_incremental",
    ):
        assert QUERIES[name](spark, sf_dir).count() > 0, name
        release_checkpoints(spark)
    assert _temp_entries(_LEAK_PREFIXES) - before == set()
    for kind, prior in owned.items():
        assert _scratch_entries(kind) - prior, kind
