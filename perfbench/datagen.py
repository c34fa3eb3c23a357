"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the package's queries read (``catalog.TABLES``) with
the column names and Arrow types of the fixture schemas described in
FIXTURES.md, scaled by a TPC-H-style scale factor. Everything is drawn
from one ``numpy.random.Generator(seed)``: the same seed and scale give
byte-identical tables, and no input is read from outside the run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents vocabulary: the fixture texts are word salad over these.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``. Documents and
    embeddings have floors, as the fixtures do, so that the vector queries
    keep a useful corpus at the smallest scales."""
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def word_salad(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    """``n`` texts of ``lo``..``hi - 1`` words drawn from ``WORDS``."""
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in picks[at : at + ln]))
        at += ln
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``(doc_id, text, lang, source, n_chars)``; one doc in twenty is a
    near-duplicate: an earlier doc's text with `` dup`` appended."""
    texts = word_salad(rng, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d float32 vectors around ``N_LABELS`` weak centroids."""
    centers = rng.normal(0.0, 0.35, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels}
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """30 days of events from 2024-01-01, nearly (not fully) time-ordered."""
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n)) + rng.integers(
        -600_000_000, 600_000_000, n
    )
    offs = np.clip(offs, 0, 30 * _DAY_US - 1)
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(15, n // 66), n).astype(np.int64),
            "event_type": kinds[rng.integers(0, len(kinds), n)],
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def relational(rng: np.random.Generator, sz: dict[str, int]) -> dict[str, pa.Table]:
    """The TPC-H-style star schema: region, nation, customer, supplier,
    part, orders, lineitem (about four lines per order)."""
    i32, i64 = np.int32, np.int64
    nc, ns, npart, no = sz["customer"], sz["supplier"], sz["part"], sz["orders"]
    out = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(nc, dtype=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, 25, nc).astype(i32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
                "c_mktsegment": np.array(
                    ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
                )[rng.integers(0, 5, nc)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(ns, dtype=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, 25, ns).astype(i32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
            }
        ),
    }
    adj = ["small", "red", "blue", "hot", "big", "green", "cold", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
    pk = np.arange(npart, dtype=i64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
            )[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(i32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    odays = rng.integers(0, 2400, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=i64),
            "o_custkey": rng.integers(0, nc, no).astype(i64),
            "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": pa.array(_EPOCH_1995 + (odays * _DAY_US).astype("timedelta64[us]")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, no)],
        }
    )
    per = rng.integers(1, 8, no)
    nl = int(per.sum())
    okey = np.repeat(np.arange(no, dtype=i64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, npart, nl).astype(i64),
            "l_suppkey": rng.integers(0, ns, nl).astype(i64),
            "l_linenumber": (np.arange(nl) - starts + 1).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                _EPOCH_1995
                + ((odays[okey] + rng.integers(1, 122, nl)) * _DAY_US).astype(
                    "timedelta64[us]"
                )
            ),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    sz = sizes(sf)
    tables = relational(rng, sz)
    tables["events"] = events(rng, sz["events"])
    tables["documents"] = documents(rng, sz["documents"])
    tables["embeddings"] = embeddings(rng, sz["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
