"""Seeded generator for the registry's input tables.

The registry queries (`__spark_entry__.queries()`) read ten parquet tables
of a TPC-H-like star schema plus `events`, `documents` and `embeddings`
(see TESTDATA.md for the layout). This module writes tables with the same
names, columns and types, with row counts proportional to a scale factor,
drawn from one numpy generator seeded by the caller. The genomic queries
derive their variants/calls/samples from `part`, `lineitem` and
`supplier`, so those three set the genomic input size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark dup value customer agg row group query "
    "line vector data filter record"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = "cold small large blue red hot old new green tiny shiny".split()
NOUN = "widget bolt rod anvil ring gear plate gizmo".split()
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at `scale` (1.0 = the TPC-H unit the testdata uses)."""
    def n(per_unit: int, floor: int = 1) -> int:
        return max(floor, int(round(per_unit * scale)))

    return {
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "users": n(15_000),
        "documents": n(50_000, floor=500),
        "embeddings": n(20_000, floor=500),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(8, 90, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # a few exact and one-word-edited copies, so the dedup operators find
    # duplicate groups rather than scanning an all-distinct corpus
    n_dup = max(2, n // 50)
    src = rng.choice(n, size=2 * n_dup, replace=False)
    for i in range(n_dup):
        texts[src[2 * i + 1]] = texts[src[2 * i]]
    for i in range(n_dup):
        toks = texts[src[i]].split()
        toks[rng.integers(0, len(toks))] = WORDS[rng.integers(0, len(WORDS))]
        texts[rng.integers(0, n)] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centres = rng.standard_normal((10, EMB_DIM))
    x = centres[labels] + 1.5 * rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32()),
        pa.array(x.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All registry tables at `scale`, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    c = row_counts(scale)
    i32 = pa.int32()
    i64 = pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array(_keyed_names("Customer", n)),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array(_keyed_names("Supplier", n)),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })
    n = c["part"]
    names = np.char.add(np.char.add(rng.choice(ADJ, n), " "), rng.choice(NOUN, n))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array(names.tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 10_000) / 10, 2)),
    })
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), i64),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })
    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": _days(rng, "1995-01-02", 2497, n),
    })
    n = c["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, c["users"], n), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


def write_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet` (one row group
    each, like the testdata); returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows

