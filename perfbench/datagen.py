"""Seeded inputs for the benchmark: the fixture star schema the queries read,
and the (query x hint) latency matrix the simulation track explores.

Everything here is a pure function of its arguments: the same seed gives
the same bytes, so a run's inputs can be regenerated from its record. The
table shapes follow the repository's fixture schema (TESTDATA.md): the same
ten tables, column names, types and value domains, with row counts scaled
by ``sf``. Nothing here imports Spark or the engine.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
#: share of documents planted as a copy of an earlier document plus a
#: ``dup`` marker: the near-duplicate load the dedup operators look for
_DUP_SHARE = 0.05
_EMBED_DIM = 64
_N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (lineitem has
    6e6 * sf rows), drawn from ``seed``."""
    rng = np.random.default_rng([seed, 0x5EED])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = max(int(6_000_000 * sf), 800)
    n_events = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_EPOCH_1995, (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
        }
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            # strictly increasing microsecond stamps over 30 days
            "ts": _ts(
                _EPOCH_2024,
                np.sort(rng.integers(0, 30 * _DAY_US - n_events, n_events))
                + np.arange(n_events),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    planted = np.flatnonzero(rng.random(n) < _DUP_SHARE)
    for i in planted[planted > 0]:
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, _N_LABELS, n)
    centers = rng.standard_normal((_N_LABELS, _EMBED_DIM)) * 0.5
    x = rng.standard_normal((n, _EMBED_DIM)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def tables_digest(tables: dict[str, pa.Table]) -> str:
    """SHA-256 over every table's Arrow IPC stream, in table-name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table: ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# --- simulation matrix -------------------------------------------------------

#: CEB-shaped: queries x hint sets of the reference's CEB matrix
SIM_SHAPE = (3133, 49)
#: plan classes drawn per row; with 49 draws about 17 distinct classes occur
_SIM_CLASSES = 18
_SIM_RANK = 4
_SIM_DENSITY = 0.10


def sim_matrix(seed: int, shape: tuple[int, int] = SIM_SHAPE) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A ground-truth latency matrix, its initial observation mask and the
    per-cell plan-class labels.

    Log-latencies are low rank: a per-query base (hint 0, the default plan)
    plus a rank-4 query x hint interaction. Hints of one row that share a
    plan class carry the byte-identical latency of the class's first hint,
    the invariant ``SimState.reveal_or_censor`` groups cells by. The mask
    observes hint 0 everywhere plus about 10% of the other cells.
    """
    n, m = shape
    rng = np.random.default_rng([seed, 0x51A])
    base = rng.normal(0.3, 1.2, n)
    u = rng.normal(0.0, 0.45, (n, _SIM_RANK))
    v = rng.normal(0.0, 1.0, (m, _SIM_RANK))
    v[0] = 0.0  # hint 0 is the default plan: its latency is the base
    log_lat = base[:, None] + u @ v.T
    classes = rng.integers(0, _SIM_CLASSES, (n, m))
    classes[:, 0] = 0
    # each cell takes the value of the first hint of its row's class
    first = np.empty((n, m), dtype=np.int64)
    for i in range(n):
        seen: dict[int, int] = {}
        for j in range(m):
            first[i, j] = seen.setdefault(int(classes[i, j]), j)
    latency = np.exp(np.take_along_axis(log_lat, first, axis=1))
    mask = (rng.random((n, m)) < _SIM_DENSITY).astype(np.float64)
    mask[:, 0] = 1.0
    return latency, mask, classes
