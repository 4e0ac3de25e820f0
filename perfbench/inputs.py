"""Seeded inputs: the web corpus, the serve query stream and the contract tables.

The same seed gives the same inputs on every commit.  Each generator returns
a digest of what it made, which the benchmark prints next to its metrics so
two runs can be shown to have read identical inputs.  Nothing here calls
Spark: inputs are written with pyarrow, and only generated inputs are ever
written (engine output is never reused across runs).
"""

from __future__ import annotations

import hashlib
import json
import random
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from modernsearchengines_spark.sources.docs import (
    REFERENCE_QUERIES,
    generate_docs,
    write_docs_parquet,
)

_WORD = re.compile(r"[0-9a-zäöüß]+")


def _digest(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, default=str).encode("utf-8")
    return hashlib.sha256(blob).hexdigest()[:16]


# --------------------------------------------------------------------------
# web corpus (build, serve)
# --------------------------------------------------------------------------
def web_corpus(n_docs: int, seed: int, path: str) -> tuple[list[dict], str]:
    """``sources.docs`` corpus of ``n_docs`` pages written to ``path``."""
    rows = generate_docs(n_docs, seed=seed)
    write_docs_parquet(rows, path)
    digest = _digest(
        [(r["url"], str(r["warc_ts"]), r["lang"], r["text"]) for r in rows]
    )
    return rows, digest


def query_stream(
    rows: list[dict], n_queries: int, seed: int
) -> tuple[list[tuple[int, str]], list[str], str]:
    """``n_queries`` (qnum, text) pairs: the two reference queries, then
    1-4 words each, every word drawn with the probability it has among the
    corpus's word occurrences (the generator's Zipf distribution as the
    corpus realises it).  Returns the queries, the corpus's head words (the
    most frequent words that together make up half of all occurrences) and
    a digest."""
    freq = Counter(w for r in rows for w in _WORD.findall(r["text"].lower()))
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    words = [w for w, _ in ranked]
    counts = [c for _, c in ranked]
    half, covered, head = sum(counts) / 2, 0, []
    for word, count in ranked:
        if covered >= half:
            break
        head.append(word)
        covered += count
    rng = random.Random(seed * 7919 + 1)
    texts = [text for _, text in REFERENCE_QUERIES]
    while len(texts) < n_queries:
        texts.append(" ".join(rng.choices(words, weights=counts, k=rng.randint(1, 4))))
    queries = [(i + 1, t) for i, t in enumerate(texts[:n_queries])]
    return queries, head, _digest(queries)


# --------------------------------------------------------------------------
# contract tables (the __spark_entry__ schemas, TPC-H-like shapes)
# --------------------------------------------------------------------------
DOC_WORDS = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = [
    "documents", "embeddings", "events", "lineitem", "orders", "customer",
    "nation", "region",
]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), size) / 100.0


def contract_tables(sf: float, seed: int, out_dir: str) -> str:
    """Write the tables the contract entries read, at scale factor ``sf``
    (row counts follow the sf0.1 test data: 5k documents, 100k events,
    600k lineitem rows at sf=0.1), one parquet file and one row group per
    table.  Returns a digest over every table's content."""
    rng = np.random.default_rng(seed)
    n_docs = int(50_000 * sf)
    n_cust = int(150_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_lines = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_vecs = max(500, int(20_000 * sf))

    words = np.array(DOC_WORDS)
    lengths = rng.integers(10, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, int(200_000 * sf), n_lines),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": pa.array(
            _days(rng, "1992-01-01", 3600, n_lines), pa.timestamp("us")
        ),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _cents(rng, 800.0, 500_000.0, n_orders),
        "o_orderdate": pa.array(
            _days(rng, "1992-01-01", 3500, n_orders), pa.timestamp("us")
        ),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })

    tables = {
        "documents": docs, "embeddings": emb, "events": events,
        "lineitem": lineitem, "orders": orders, "customer": customer,
        "nation": nation, "region": region,
    }
    h = hashlib.sha256()
    for name in TABLES:
        table = tables[name]
        pq.write_table(
            table, f"{out_dir}/{name}.parquet", row_group_size=table.num_rows
        )
        h.update(name.encode())
        for column in table.columns:
            for chunk in column.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()[:16]

