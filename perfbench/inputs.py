"""Seeded inputs, written as parquet into the benchmark's work directory.

The engine only ever sees these files. Everything derives from the
workload seed, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Inputs are split into a fixed number of files so the scan layout the
# engine sees does not depend on the host the benchmark runs on.
INPUT_FILES = 8

_DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)


def _write_split(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(INPUT_FILES):
        lo, hi = i * n // INPUT_FILES, (i + 1) * n // INPUT_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def docs_list(n_docs: int, params) -> list[dict]:
    """Interleaved OSM documents from the engine's own seeded generator."""
    from osmwaterwayextractor_spark.sources.docsgen import generate_doc

    return [generate_doc(i, params) for i in range(n_docs)]


def write_docs(path: str, docs: list[dict]) -> int:
    """Write documents from ``docs_list``; returns the number of way-node
    refs (the vertex stream's length)."""
    import json

    table = pa.Table.from_pylist(docs, schema=_DOC_SCHEMA)
    _write_split(table, path)
    return sum(
        len(json.loads(s["text"])["refs"]) for d in docs for s in d["spans"] if s["kind"] == "osm_way"
    )


# --------------------------------------------------------------------------
# relational + text + vector tables read by the benchmarked entry queries

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "vector window agg"
).split()
_MARKERS = ["the", "and", "of", "der", "die", "und", "le", "la", "et", "el", "los", "que"]
_LANGS = ["en", "de", "fr", "es", "zh"]
# the tables the benchmarked entry queries read
TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")
_EMB_DIM = 64
_EMB_CLUSTERS = 10


def write_tables(root: str, scale: float, seed: int) -> dict[str, int]:
    """TPC-H-shaped tables plus ``documents`` and ``embeddings``, sized by
    ``scale`` (1.0 = 6M lineitems). Returns row counts per table."""
    rng = np.random.default_rng([seed, 2024])
    n_cust = max(50, int(150_000 * scale))
    n_orders = max(100, int(1_500_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_emb = max(40, int(20_000 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": custkey,
            "c_name": [f"Customer#{k:09d}" for k in custkey],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    odate = np.datetime64("1992-01-01") + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    tables["orders"] = pa.table(
        {
            "o_orderkey": orderkey,
            "o_custkey": rng.integers(1, n_cust + 1, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n_orders), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(orderkey, lines)
    li_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": li_order,
            "l_partkey": rng.integers(1, max(2, int(200_000 * scale)), n_li),
            "l_suppkey": rng.integers(1, max(2, int(10_000 * scale)), n_li),
            "l_linenumber": pa.array(li_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": (
                np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_emb)

    for name in TABLES:
        pq.write_table(tables[name], os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts; about a fifth are light edits of an earlier text
    (near-duplicates for MinHash) and a few are exact copies."""
    vocab = np.array(_WORDS + _MARKERS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 80)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around a few cluster centres."""
    centres = rng.normal(size=(_EMB_CLUSTERS, _EMB_DIM))
    label = rng.integers(0, _EMB_CLUSTERS, n)
    vecs = centres[label] + 0.6 * rng.normal(size=(n, _EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
