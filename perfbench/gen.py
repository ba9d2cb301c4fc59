"""Seeded input generators. The same seed gives byte-identical files.

Everything here is plain numpy/pandas/pyarrow; nothing reads the clock,
the environment or any file outside the output directory.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
])
WORDS = VOCAB[VOCAB != "dup"]  # "dup" only marks near duplicates
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


# -- upload workload: CSV files ---------------------------------------

@dataclass
class CsvFile:
    """One upload: the bytes sent and what ingest must make of them."""

    kind: str  # small | large | latin1 | gzip | multiline | garbage
    filename: str
    data: bytes
    rows: int
    types: dict[str, str] = field(default_factory=dict)
    id_sum: int = 0  # SUM(id) the read-back must return


def _plain_rows(rng: np.random.Generator, n: int, id0: int) -> pd.DataFrame:
    qty = rng.integers(1, 500, n).astype(str).astype(object)
    qty[rng.random(n) < 0.05] = ""  # empty cells stay NULL, column stays integer
    days = rng.integers(0, 365, n)
    return pd.DataFrame({
        "id": np.arange(id0, id0 + n),
        "qty": qty,
        "price": np.round(rng.uniform(0.5, 999.0, n), 3),
        "label": VOCAB[rng.integers(0, len(VOCAB), n)],
        "seen": [f"2024-{1 + d // 31:02d}-{1 + d % 28:02d} 03:01" for d in days],
    })


_PLAIN_TYPES = {
    "id": "integer", "qty": "integer", "price": "float",
    "label": "text", "seen": "text",
}


def _csv(df: pd.DataFrame, encoding: str = "utf-8") -> bytes:
    return df.to_csv(index=False, lineterminator="\n").encode(encoding)


def csv_file(kind: str, filename: str, seed: int, rows: int) -> CsvFile:
    """A CSV upload of `kind` with `rows` records, seeded."""
    rng = np.random.default_rng(seed)
    if kind == "garbage":
        data = b"\xff\xfe" + rng.integers(0, 256, rows, dtype=np.uint8).tobytes()
        return CsvFile(kind, filename, data, rows=-1)
    df = _plain_rows(rng, rows, id0=1)
    types = dict(_PLAIN_TYPES)
    encoding = "utf-8"
    if kind == "latin1":
        df = df.rename(columns={"price": "price_£"})
        df["label"] = df["label"] + "é"
        types["price_£"] = types.pop("price")
        encoding = "latin-1"
    elif kind == "multiline":
        # quoted newlines force the non-splittable multiLine scan
        df["label"] = df["label"] + "\nsecond line"
    data = _csv(df, encoding)
    if kind == "gzip":
        data = gzip.compress(data, mtime=0)
    return CsvFile(kind, filename, data, rows, types, int(df["id"].sum()))


# -- query and stream workloads: star schema + documents --------------

def documents(rng: np.random.Generator, n_doc: int) -> pd.DataFrame:
    """Documents with the profile of the registry's reference tables
    (measured on its sf0.01 and sf0.1 `documents`): 10-100 tokens drawn
    uniformly from 30 words; one doc in 20 a near duplicate, a copy of
    another doc with " dup" appended; 8 docs in 5000 an exact copy of
    another doc; 20 round-robin sources and the reference language mix."""
    n_tok = rng.integers(10, 101, n_doc)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in n_tok]

    def other(i: int) -> int:
        return (int(i) + 1 + int(rng.integers(0, n_doc - 1))) % n_doc

    for i in rng.choice(n_doc, n_doc * 8 // 5000, replace=False):
        texts[i] = texts[other(i)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[other(i)] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"])
    return pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.412, 0.151, 0.149, 0.148, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def star_schema(out_dir: str, seed: int, scale: float) -> None:
    """Write the ten registry tables (one parquet file each) at
    `scale` (1.0 = lineitem 600k rows), with the schemas of the
    registry's reference data."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def put(name: str, df: pd.DataFrame) -> None:
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    n_supp, n_part, n_cust = (max(10, int(x * scale)) for x in (10_000, 200_000, 150_000))
    n_ord, n_li, n_ev = (int(x * scale) for x in (1_500_000, 6_000_000, 1_000_000))
    n_doc, n_emb = (int(x * scale) for x in (50_000, 20_000))
    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    put("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    sizes = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
    adjs = ["large", "hot", "small", "cold", "dim", "bright"]
    nouns = ["ring", "bolt", "cap", "gear", "tube", "pin"]
    pk = np.arange(n_part, dtype=np.int64)
    put("part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{adjs[i % 6]} {nouns[(i // 6) % 6]}" for i in range(n_part)],
        "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
        "p_type": [sizes[i % 6] for i in range(n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 2000) / 10.0, 2),
    }))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    put("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }))
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }))
    sdate = np.datetime64("1995-01-02") + rng.integers(0, 2498, n_li).astype("timedelta64[D]")
    put("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(901, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": sdate.astype("datetime64[us]"),
    }))
    ts = np.datetime64("2024-01-01T00:00:00") + np.cumsum(
        rng.exponential(25.9, n_ev) * 1e6
    ).astype("timedelta64[us]")
    put("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(10, int(15_000 * scale)), n_ev).astype(np.int64),
        "event_type": np.array(["signup", "purchase", "view", "click", "error"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.uniform(0, 560, n_ev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    put("documents", documents(rng, n_doc))
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }))


def arrivals(out_dir: str, documents_path: str, n_files: int) -> str:
    """The curation corpus from a documents parquet file: the docs with
    doc_id mod 10 != 0 as `n_files` arrival files under out_dir/arrivals
    (round-robin by doc_id), and the doc_id mod 10 == 0 slice, the
    decontamination benchmark, as out_dir/benchmark.parquet. Returns
    the arrivals directory."""
    docs = pd.read_parquet(documents_path, columns=["doc_id", "text"])
    src = os.path.join(out_dir, "arrivals")
    os.makedirs(src, exist_ok=True)
    corpus = docs[docs.doc_id % 10 != 0]
    for i in range(n_files):
        corpus[corpus.doc_id % n_files == i].to_parquet(
            os.path.join(src, f"arrival_{i:03d}.parquet"), index=False
        )
    docs[docs.doc_id % 10 == 0].to_parquet(
        os.path.join(out_dir, "benchmark.parquet"), index=False
    )
    return src
