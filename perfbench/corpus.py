"""Seeded synthetic corpus in the shape of the sf0.1 testdata tables.

The benchmark may read only inside its own checkout, so it cannot use a
pre-generated testdata directory: it writes the ten tables itself from
``--seed``, with the schemas, physical parquet types, row counts and
value domains of sf0.1 (TPC-H-ish star schema plus events, documents
and embeddings).

``copies > 1`` builds the larger corpus of the ``heavy`` workload: the
union of ``copies`` key-shifted, content-disjoint copies of one sf0.1
base.

- Copy k adds ``k * OFFSET`` to every surrogate key, so no join or
  group crosses copies and each copy repeats the base's key structure.
  ``nation`` and ``region`` are fixed-size and shared.
- Documents prefix every token with ``c<k>`` and embeddings are rolled
  by k positions, so near-duplicate and nearest-neighbour structure
  stays within a copy.
- Events are also shifted in time by k times their span plus one day,
  so sessions and time windows stay within a copy. Order and ship
  dates are not shifted: the TPC-H date predicates then keep their
  selectivity in every copy and per-copy work stays equal.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
SHARED = ("region", "nation")

# sf0.1 row counts of the scalable tables.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
OFFSET = 10_000_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.0004

_US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def base_tables(seed: int) -> dict[str, pa.Table]:
    """One sf0.1-shaped copy of every table, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": _pick(rng, STATUSES, n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", 2404, rng, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days("1995-01-02", 2499, rng, n),
    })
    n = ROWS["events"]
    offs = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    vec = rng.standard_normal((n, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.astype(np.float32).ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents of 10-100 words; a few exact copies and a
    share of near-duplicates (another document plus the token ``dup``)."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), lengths.sum())]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    n_near = int(n * NEAR_DUP_FRAC)
    n_exact = int(n * EXACT_DUP_FRAC)
    picked = rng.choice(n, n_near + n_exact, replace=False)
    for j, i in enumerate(picked):
        src = texts[(i + 1 + int(rng.integers(0, n - 1))) % n]
        texts[i] = f"{src} dup" if j < n_near else src
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _add(col: pa.ChunkedArray, k: int) -> pa.Array:
    return pa.array(col.to_numpy() + np.int64(k * OFFSET))


def shifted_copy(base: dict[str, pa.Table], k: int) -> dict[str, pa.Table]:
    """Copy ``k`` of the scalable tables (copy 0 is ``base`` itself)."""
    if k == 0:
        return {name: tbl for name, tbl in base.items() if name not in SHARED}
    out: dict[str, pa.Table] = {}

    def shift(name: str, keys: tuple[str, ...], names: dict[str, str] | None = None) -> None:
        tbl = base[name]
        for col in keys:
            tbl = tbl.set_column(tbl.schema.get_field_index(col), col, _add(tbl[col], k))
        for col, fmt in (names or {}).items():
            key = tbl[keys[0]].to_numpy()
            tbl = tbl.set_column(
                tbl.schema.get_field_index(col), col, pa.array([fmt.format(v) for v in key])
            )
        out[name] = tbl

    shift("customer", ("c_custkey",), {"c_name": "Customer#{:09d}"})
    shift("supplier", ("s_suppkey",), {"s_name": "Supplier#{:09d}"})
    shift("part", ("p_partkey",))
    shift("orders", ("o_orderkey", "o_custkey"))
    shift("lineitem", ("l_orderkey", "l_partkey", "l_suppkey"))
    shift("events", ("event_id", "user_id"))

    ev = out["events"]
    ts = ev["ts"].to_numpy()
    span = (ts.max() - ts.min()) + np.timedelta64(1, "D")
    out["events"] = ev.set_column(
        ev.schema.get_field_index("ts"), "ts", pa.array(ts + k * span)
    )

    docs = base["documents"]
    texts = [" ".join(f"c{k}{w}" for w in s.split(" ")) for s in docs["text"].to_pylist()]
    docs = docs.set_column(0, "doc_id", _add(docs["doc_id"], k))
    docs = docs.set_column(1, "text", pa.array(texts))
    out["documents"] = docs.set_column(
        4, "n_chars", pa.array([len(s) for s in texts], pa.int64())
    )

    emb = base["embeddings"]
    mat = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    rolled = np.roll(mat, -(k % EMBED_DIM), axis=1)
    out["embeddings"] = pa.table({
        "vec_id": _add(emb["vec_id"], k),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(rolled.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": emb["label"],
    })
    return out


def write_corpus(out_dir: str, seed: int, copies: int = 1) -> dict[str, dict[str, int]]:
    """Write the ten tables as ``<out_dir>/<table>.parquet`` and return
    ``{table: {"rows", "bytes"}}``. Same seed and copies, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    base = base_tables(seed)
    parts = [shifted_copy(base, k) for k in range(copies)]
    stats: dict[str, dict[str, int]] = {}
    for name in TABLES:
        if name in SHARED:
            tbl = base[name]
        else:
            tbl = pa.concat_tables([p[name] for p in parts])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        stats[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return stats
