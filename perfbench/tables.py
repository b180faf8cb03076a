"""Seeded generator for the tables the registry batch suite reads.

The batch queries expect a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` tables. The benchmark may read nothing
outside its checkout, so it writes its own copy from ``--seed``, with
the schemas and value ranges of the repository's reference data set.
Only the seven tables the suite reads are written.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["nation", "customer", "orders", "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    return (rng.integers(a, b + 1, size=n).astype("datetime64[D]")).astype("datetime64[us]")


def _write(pdf: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every table at ``scale`` (1.0 ~ 6M lineitem rows) into
    ``out_dir`` as ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_line = max(10, int(6_000_000 * scale))
    n_ev = max(10, int(1_000_000 * scale))
    n_doc = max(20, int(50_000 * scale))
    n_emb = max(20, int(50_000 * scale))

    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    _write(
        nation,
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
        f"{out_dir}/nation.parquet",
    )

    ck = np.arange(n_cust, dtype="int64")
    customer = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    _write(
        customer,
        pa.schema(
            [
                ("c_custkey", pa.int64()),
                ("c_name", pa.string()),
                ("c_nationkey", pa.int32()),
                ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
        f"{out_dir}/customer.parquet",
    )

    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    _write(
        orders,
        pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", pa.timestamp("us")),
                ("o_orderpriority", pa.string()),
            ]
        ),
        f"{out_dir}/orders.parquet",
    )

    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, max(1, int(200_000 * scale)), n_line).astype("int64"),
            "l_suppkey": rng.integers(0, max(1, int(10_000 * scale)), n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    _write(
        lineitem,
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", pa.timestamp("us")),
            ]
        ),
        f"{out_dir}/lineitem.parquet",
    )

    # events: monotone timestamps over 30 days, exponential values
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, span_us, n_ev))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": (np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(10, int(15_000 * scale)), n_ev).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    _write(
        events,
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
        f"{out_dir}/events.parquet",
    )

    # documents: 10-100 words over a 30-word vocabulary; ~5% carry a
    # trailing "dup" marker and a few texts repeat verbatim, so the
    # dedup queries have work to do
    lengths = rng.integers(10, 101, n_doc)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] += " dup"
    n_copy = max(1, n_doc // 600)
    src = rng.choice(n_doc, size=n_copy, replace=False)
    dst = rng.choice(n_doc, size=n_copy, replace=False)
    for s, d in zip(src, dst):
        texts[d] = texts[s]
    doc_id = np.arange(n_doc, dtype="int64")
    documents = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, size=n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    _write(
        documents,
        pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
        f"{out_dir}/documents.parquet",
    )

    vec = rng.normal(0.0, 1.0, (n_emb, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_emb).astype("int32"),
        }
    )
    _write(
        embeddings,
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
        f"{out_dir}/embeddings.parquet",
    )
