"""Seeded synthetic catalog for the benchmark.

Writes the ten catalog tables the package reads (``catalog.TABLES``)
as one-row-group parquet files under ``<out_dir>/sf<sf>/``, with the
same schemas, value domains and row counts per scale factor as the
project's reference test data (TPC-H-ish star schema, an ``events``
log over 30 days of January 2024, near-duplicate ``documents`` marked
with a trailing ``dup`` token, unit-norm 64-d ``embeddings``).  The
same ``(seed, sf)`` always produces byte-identical values, so two runs
with one seed see the same inputs and a different seed sees others.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (reference data sizes)."""
    return {
        "region": 5, "nation": 25,
        "customer": round(150_000 * sf), "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf), "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf), "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def n_users(sf: float) -> int:
    """Distinct ``events.user_id`` values at scale factor ``sf``."""
    return max(15, round(15_000 * sf))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _documents(rng, n):
    lang = rng.choice(LANGS, n, p=LANG_P)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup families'
            # positive pairs): same tokens plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All catalog tables for one (seed, scale factor)."""
    n = row_counts(sf)
    # one independent stream per table, so a table's values do not
    # depend on how many draws another table made
    rngs = dict(zip(n, np.random.default_rng(seed).spawn(len(n))))
    out = {}
    out["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": REGIONS}
    out["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    r, k = rngs["customer"], n["customer"]
    out["customer"] = {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(r, 0, 10_000, k),
        "c_mktsegment": r.choice(SEGMENTS, k)}
    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(r, 0, 10_000, k)}
    r, k = rngs["part"], n["part"]
    out["part"] = {
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, k), r.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": r.choice(PART_TYPES, k),
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 2)}
    r, k = rngs["orders"], n["orders"]
    out["orders"] = {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], k),
        "o_totalprice": _money(r, 1_000, 500_000, k),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": r.choice(PRIORITIES, k)}
    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], k),
        "l_linestatus": r.choice(["F", "O"], k),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", k)}
    r, k = rngs["events"], n["events"]
    offs = np.sort(r.integers(0, 30 * _DAY_US, k))
    out["events"] = {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _EPOCH_2024 + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users(sf), k).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, k),
        "value": np.maximum(np.round(r.exponential(50.0, k), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]}
    out["documents"] = _documents(rngs["documents"], n["documents"])
    r, k = rngs["embeddings"], n["embeddings"]
    m = r.standard_normal((k, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, k).astype(np.int32)}
    return {name: pa.table(cols) for name, cols in out.items()}


def write_catalog(out_dir: str, seed: int, sf: float) -> str:
    """Write the catalog for (seed, sf) and return its directory."""
    sf_dir = os.path.join(out_dir, f"sf{sf:g}")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return sf_dir


if __name__ == "__main__":
    import sys
    print(write_catalog(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
