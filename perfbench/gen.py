"""Seeded input generator for the benchmark.

Writes the engine's ten input tables (the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names, types and value domains of the repository's
test data (``TESTDATA.md``). Every value derives from ``numpy.random.default_rng(seed)``, so
the same seed and scale give byte-identical files and a different seed
gives different ones.

``orders_snapshot`` derives the next source snapshot of ``orders`` for
the SCD2 workload: a seeded share of updated, deleted and inserted rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_EPOCH = np.datetime64("1970-01-01", "D")


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts at ``scale`` (1.0 = TPC-H sf1 for the star schema)."""
    return {
        "customer": int(150_000 * scale),
        "supplier": max(int(10_000 * scale), 25),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "users": max(int(15_000 * scale), 10),
    }


def _days(lo: str, hi: str, n: int, rng) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(int)
    d = rng.integers(a, b + 1, n)
    return (d.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(choices: list[str], n: int, rng, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def orders_table(n: int, n_cust: int, rng, key0: int = 0) -> pa.Table:
    keys = np.arange(key0, key0 + n, dtype="int64")
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
            "o_orderstatus": _pick(STATUSES, n, rng),
            "o_totalprice": _money(1000.0, 500_000.0, n, rng),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n, rng),
            "o_orderpriority": _pick(PRIORITIES, n, rng),
        }
    )


def _documents(n_docs: int, rng) -> pa.Table:
    """Random-word texts; about 6% are near-duplicates of an earlier
    document with one or two ``dup`` tokens appended, so the near-dup
    index finds real pairs."""
    lengths = rng.integers(10, 100, n_docs)
    vocab = np.array(WORDS)
    texts: list[str] = []
    dup_of = rng.random(n_docs) < 0.06
    for i in range(n_docs):
        if dup_of[i] and i > 0:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": pa.array(texts),
            "lang": _pick(LANGS, n_docs, rng, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(n_vec: int, rng) -> pa.Table:
    """Unit vectors around ten label centroids."""
    labels = rng.integers(0, 10, n_vec).astype("int32")
    centroids = rng.normal(0.0, 0.15, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n_vec, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    return pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_vec * EMBED_DIM + 1, EMBED_DIM, dtype="int32")),
                flat,
            ),
            "label": labels,
        }
    )


def generate(out_dir: str, seed: int, scale: float, n_docs: int, n_vec: int) -> dict:
    """Write every input table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n["customer"], dtype="int64")
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _names("Customer", ck),
            "c_nationkey": rng.integers(0, 25, len(ck)).astype("int32"),
            "c_acctbal": _money(-999.99, 9999.99, len(ck), rng),
            "c_mktsegment": _pick(SEGMENTS, len(ck), rng),
        }
    )
    sk = np.arange(n["supplier"], dtype="int64")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _names("Supplier", sk),
            "s_nationkey": rng.integers(0, 25, len(sk)).astype("int32"),
            "s_acctbal": _money(-999.99, 9999.99, len(sk), rng),
        }
    )
    pk = np.arange(n["part"], dtype="int64")
    adj = rng.integers(0, len(PART_ADJ), len(pk))
    noun = rng.integers(0, len(PART_NOUN), len(pk))
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj.tolist(), noun.tolist())]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(pk)).tolist()]),
            "p_type": _pick(PART_TYPES, len(pk), rng),
            "p_size": rng.integers(1, 51, len(pk)).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    tables["orders"] = orders_table(n["orders"], n["customer"], rng)
    m = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype("int64"),
            "l_partkey": rng.integers(0, n["part"], m).astype("int64"),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype("int64"),
            "l_linenumber": rng.integers(1, 8, m).astype("int32"),
            "l_quantity": rng.integers(1, 51, m).astype("float64"),
            "l_extendedprice": _money(900.0, 105_000.0, m, rng),
            "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
            "l_returnflag": _pick(["A", "N", "R"], m, rng),
            "l_linestatus": _pick(["F", "O"], m, rng),
            "l_shipdate": _days("1995-01-02", "2001-11-04", m, rng),
        }
    )
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, e))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype="int64"),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n["users"], e).astype("int64"),
            "event_type": _pick(EVENT_TYPES, e, rng),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e).tolist()]),
        }
    )
    tables["documents"] = _documents(n_docs, rng)
    tables["embeddings"] = _embeddings(n_vec, rng)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def orders_snapshot(prev: pa.Table, rng, n_cust: int, key0: int):
    """Next source snapshot of ``orders``: about 2% of the rows get a
    new price and status, 0.5% are deleted and 0.5% new keys are
    inserted (keys from ``key0`` up). Returns the snapshot and the sets
    of updated, deleted and inserted keys."""
    n = prev.num_rows
    keys = prev.column("o_orderkey").to_numpy()
    roll = rng.random(n)
    deleted = roll < 0.005
    updated = (roll >= 0.005) & (roll < 0.025)
    keep = prev.filter(pa.array(~deleted))
    upd_mask = updated[~deleted]
    price = keep.column("o_totalprice").to_numpy().copy()
    price[upd_mask] = np.round(price[upd_mask] + rng.uniform(1.0, 1000.0, int(upd_mask.sum())), 2)
    status = np.array(keep.column("o_orderstatus").to_pylist(), dtype=object)
    status[upd_mask] = rng.choice(STATUSES, int(upd_mask.sum()))
    keep = keep.set_column(
        keep.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price)
    ).set_column(
        keep.schema.get_field_index("o_orderstatus"),
        "o_orderstatus",
        pa.array(status.tolist(), pa.string()),
    )
    n_ins = max(1, int(round(n * 0.005)))
    ins = orders_table(n_ins, n_cust, rng, key0=key0)
    snap = pa.concat_tables([keep, ins])
    return snap, set(keys[updated].tolist()), set(keys[deleted].tolist()), set(
        ins.column("o_orderkey").to_pylist()
    )
