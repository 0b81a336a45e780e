"""Seeded generator for the query_mix input tables.

Writes the ten tables the engine's batch queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
with the column names, types and value domains of the engine's
TPC-H-style test tables, at ``SCALE`` of their 0.01 scale factor.
Documents include near-duplicates (a copy of an earlier text plus one
token) so the dedup queries find pairs; embeddings cluster by label.

Tables are cached per variant under ``.perfbench/tables/`` in the
checkout; generation is never timed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.5
N_VARIANTS = 4
FORMAT = 1  # bump when the generated data changes; invalidates the cache and the pinned digests

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
_NOUN = ["widget", "gizmo", "gear", "bolt", "anvil", "plate", "ring", "rod"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a the join hash row batch scan column customer filter small slow merge order vector "
          "line table data agg value key stream window spark part group big sort query fast").split()
_LANGS = ["en", "zh", "es", "de", "fr"]


def sizes(scale: float) -> dict[str, int]:
    base = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
            "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
    return {k: max(20, int(v * scale)) for k, v in base.items()}


def _ts(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, k: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, k), 2)

    write("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": _REGIONS})
    write("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c = n["customer"]
    write("customer", {"c_custkey": np.arange(c, dtype=np.int64),
                       "c_name": [f"Customer#{i:09d}" for i in range(c)],
                       "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
                       "c_acctbal": money(-999.99, 9999.99, c),
                       "c_mktsegment": list(rng.choice(_SEGMENTS, c))})
    s = n["supplier"]
    write("supplier", {"s_suppkey": np.arange(s, dtype=np.int64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(s)],
                       "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
                       "s_acctbal": money(-999.99, 9999.99, s)})
    p = n["part"]
    write("part", {"p_partkey": np.arange(p, dtype=np.int64),
                   "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
                   "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
                   "p_type": list(rng.choice(_TYPES, p)),
                   "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
                   "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    write("orders", {"o_orderkey": np.arange(o, dtype=np.int64),
                     "o_custkey": rng.integers(0, c, o),
                     "o_orderstatus": list(rng.choice(["F", "O", "P"], o)),
                     "o_totalprice": money(1000, 500000, o),
                     "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, o) * 86_400_000_000),
                     "o_orderpriority": list(rng.choice(_PRIORITIES, o))})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    write("lineitem", {"l_orderkey": rng.integers(0, o, li),
                       "l_partkey": rng.integers(0, p, li),
                       "l_suppkey": rng.integers(0, s, li),
                       "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
                       "l_discount": rng.integers(0, 11, li) / 100.0,
                       "l_tax": rng.integers(0, 9, li) / 100.0,
                       "l_returnflag": list(rng.choice(["A", "N", "R"], li)),
                       "l_linestatus": list(rng.choice(["F", "O"], li)),
                       "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, li) * 86_400_000_000)})
    e = n["events"]
    write("events", {"event_id": np.arange(e, dtype=np.int64),
                     "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86_400_000_000, e))),
                     "user_id": rng.integers(0, 150, e),
                     "event_type": list(rng.choice(_EVENT_TYPES, e)),
                     "value": np.maximum(0.01, np.round(rng.exponential(50, e), 2)),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 90)))))
    write("documents", {"doc_id": np.arange(d, dtype=np.int64), "text": texts,
                        "lang": list(rng.choice(_LANGS, d, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
                        "source": [f"src{i % 20}" for i in range(d)],
                        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(v, dtype=np.int64),
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                         "label": pa.array(labels, pa.int32())})


def ensure(cache_root: str, variant: int, tiny: bool) -> str:
    """Path of the variant's tables, generating them on first use."""
    name = f"f{FORMAT}-v{variant}{'-tiny' if tiny else ''}"
    out = os.path.join(cache_root, name)
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, 1000 + variant, 0.05 if tiny else SCALE)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out
