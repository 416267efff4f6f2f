"""Seeded input generators for the benchmark.

Batch tables follow the schemas of the engine's TPC-H-style fixtures
(region ... lineitem, events, documents, embeddings) at a chosen scale
factor; the same seed always writes the same bytes. The stream input is
the events table replayed as a list of files, which the load generator
later writes into a watched directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def epoch_us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every fixture table at scale factor ``sf`` (0.01 = 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(300, int(30_000 * sf))
    day = 86_400_000_000

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
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
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{c} {n}" for c in P_COLORS for n in P_NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(epoch_us("1995-01-01") + rng.integers(0, 2404, n_ord) * day),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(epoch_us("1995-01-02") + rng.integers(0, 2499, n_li) * day),
        }
    )
    out["events"] = events_table(sf, seed)
    out["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; one in twenty is an earlier document plus a
    trailing ``dup`` token, so the near-duplicate operators find pairs."""
    vocab = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    lang_p = [0.41, 0.15, 0.15, 0.15, 0.14]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def table_rows(data_dir: str) -> dict[str, int]:
    """Row count of every table written by ``write_tables``."""
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    }


def events_table(sf: float, seed: int) -> pa.Table:
    """The ``events`` table at scale factor ``sf``: 1M rows and 15k users
    per unit of ``sf`` over 30 days, sorted by event time (at sf 0.1:
    100k rows, 1500 users, about 26 s between events)."""
    rng = np.random.default_rng([seed, 1])
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    day = 86_400_000_000
    ev_ts = np.sort(epoch_us("2024-01-01") + rng.integers(0, 30 * day, n_ev))
    return pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(0.01 + rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )


def event_replay(
    events: pa.Table,
    seed: int,
    sizes: list[int],
    disorder_share: float,
    disorder_us: int,
    late_n: int,
    late_pool: tuple[int, int],
    late_after: int,
    window_us: int,
) -> tuple[list[np.ndarray], np.ndarray]:
    """Replay the first ``sum(sizes)`` events in event-time order as stream
    files of the given sizes, rows ``(event_id, ts_us, user_id)``.

    A ``disorder_share`` of the rows arrives as if its timestamp were up to
    ``disorder_us`` later: out of order, but on time while ``disorder_us``
    is below the watermark delay (every row that arrives before it is at
    most ``disorder_us`` newer). ``late_n`` rows drawn from arrival
    positions ``late_pool`` are taken out and delivered at random positions
    from ``late_after`` on, far behind the watermark by then. No two late
    rows share a user and a ``window_us`` window: the engine counts late
    rows after partial aggregation, so two such rows would count as one.
    Returns the files and the event ids of the late rows.
    """
    rng = np.random.default_rng([seed, 2])
    n = sum(sizes)
    if events.num_rows < n:
        raise ValueError(f"events holds {events.num_rows} rows, the replay needs {n}")
    ts = events.column("ts").cast(pa.int64()).to_numpy()[:n]
    rows = np.stack(
        [events.column("event_id").to_numpy()[:n], ts,
         events.column("user_id").to_numpy()[:n]], axis=1,
    ).astype(np.int64)
    key = ts + (rng.random(n) < disorder_share) * rng.integers(0, disorder_us, n)
    rows = rows[np.argsort(key, kind="stable")]
    cand = rng.permutation(np.arange(*late_pool))
    _, first = np.unique(rows[cand, 2] * (1 << 32) + rows[cand, 1] // window_us,
                         return_index=True)
    late_idx = np.sort(cand[np.sort(first)][:late_n])
    late = rows[late_idx]
    rows = np.delete(rows, late_idx, axis=0)
    at = np.sort(rng.integers(late_after, len(rows) + 1, late_n))
    rows = np.insert(rows, at, late, axis=0)
    bounds = np.cumsum([0] + sizes)
    files = [rows[bounds[i] : bounds[i + 1]] for i in range(len(sizes))]
    return files, late[:, 0]
