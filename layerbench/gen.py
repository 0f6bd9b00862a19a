"""Seeded input generation for the benchmark.

``write_tables`` writes the engine's star-schema + events + LLM-corpus
tables (the schema of the repo's sf* test data) at a chosen scale factor;
``write_corpus`` cuts a small multi-format file tree out of those tables
for the catalog-ingest workload. The same seed always gives byte-identical
inputs, and nothing outside the given directory is touched.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.orc as paorc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n):
    words = np.array(VOCAB)
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    # a few exact and near duplicates so the dedup operators find work
    for i in rng.choice(n, size=max(2, n // 100), replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] if rng.random() < 0.3 else texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    x = centers[labels] + rng.normal(scale=2.0, size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def make_tables(seed: int, sf: float, docs: int, vecs: int) -> dict[str, pa.Table]:
    """Every table at scale ``sf``; ``docs``/``vecs`` size the LLM corpus."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_users = int(6_000_000 * sf), int(1_000_000 * sf), max(10, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US),
    })
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, docs)
    t["embeddings"] = _embeddings(rng, vecs)
    return t


def write_tables(out_dir: str, seed: int, sf: float, docs: int, vecs: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in make_tables(seed, sf, docs, vecs).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# catalog-ingest corpus: (extension, writer) per format; every directory
# holds files of ONE format, as real landing zones do
def _w_parquet(tbl, path):
    pq.write_table(tbl, path)


def _w_csv(tbl, path):
    pacsv.write_csv(tbl, path)


def _w_csv_gz(tbl, path):
    with gzip.GzipFile(path, "wb", mtime=0) as f:
        pacsv.write_csv(tbl, f)


def _w_jsonl(tbl, path):
    with open(path, "w") as f:
        for row in tbl.to_pylist():
            f.write(json.dumps(row, default=str) + "\n")


def _w_orc(tbl, path):
    paorc.write_table(tbl, path)


CORPUS_FORMATS = (
    ("parquet", _w_parquet),
    ("csv", _w_csv),
    ("csv.gz", _w_csv_gz),
    ("json", _w_jsonl),
    ("orc", _w_orc),
)
# flat, timestamp-free source tables: every format round-trips them
CORPUS_SOURCES = ("customer", "orders_flat")


def write_corpus(root: str, seed: int, dirs: int = 5, files: int = 8,
                 rows: int = 200) -> list[dict]:
    """A ``dirs`` x ``files`` tree under ``root``: directory ``d`` holds
    ``files`` slices of source table ``d % 2`` in format ``d % 5``. Returns
    one record per directory: path, format, source, files and total rows."""
    rng = np.random.default_rng(seed + 1)
    src = make_tables(seed, 0.01, 10, 10)
    src["orders_flat"] = src["orders"].drop_columns(["o_orderdate"])
    out = []
    for d in range(dirs):
        ext, writer = CORPUS_FORMATS[d % len(CORPUS_FORMATS)]
        name = CORPUS_SOURCES[d % len(CORPUS_SOURCES)]
        tbl = src[name]
        ddir = os.path.join(root, f"d{d:02d}_{name}")
        os.makedirs(ddir)
        total = 0
        for i in range(files):
            n = min(rows, tbl.num_rows // 2)
            start = int(rng.integers(0, tbl.num_rows - n))
            writer(tbl.slice(start, n), os.path.join(ddir, f"part{i}.{ext}"))
            total += n
        out.append({"dir": ddir, "format": ext, "source": name,
                    "files": files, "rows": total})
    return out
