"""Query-operator library.

Each operator is a named (spark, sf_dir) -> DataFrame callable
registered in ``registry.QUERIES`` with a DuckDB oracle twin in
``registry.ORACLES``. Importing this package imports every operator
module so the registry is fully populated.
"""

from . import registry
from .registry import ORACLES, QUERIES

# Import for registration side effects — order groups the inventory.
from . import relational  # noqa: E402,F401

__all__ = ["registry", "QUERIES", "ORACLES"]


def _load_all() -> None:
    """Import every operator module (idempotent)."""
    from . import joins, windows, setops, scalar, events, dedup, similarity, textops, multimodal, subqueries, pandas_udfs, graph, skew, tpch_more, tpch_adapted, profiling, maintenance, linkage, stattests, streaming_query  # noqa: F401

    registry.finalize_order()


_load_all()
