"""Seeded input tables.

The tables follow the schema and value domains of the repo's sf0.1
synthetic star schema (see ``tools/gen_sf.py``): ``lineitem`` with
600,000 rows over 150,000 orders, ``documents`` with 5,000 texts over a
27-word vocabulary. Two deliberate differences make needle lookups
possible: ``lineitem`` is sorted by ``l_orderkey`` before it is cut into
files (clustered layout), and every document carries one rare token
``ref<6 digits>`` next to its vocabulary words, so a term lookup has a
needle to find. The same seed always gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_PART = 20_000
N_SUPP = 1_000
N_LINEITEM = 600_000
N_DOCS = 5_000
RARE_DOMAIN = 1_000_000

VOCAB = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table "
         "stream merge data a vector").split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
_DAY_MS = 86_400_000
_D0 = int(np.datetime64("1995-01-01", "ms").astype(np.int64))
_SPAN_DAYS = int((np.datetime64("2001-08-02") - np.datetime64("1995-01-01"))
                 .astype(int))

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("ms")),
])


def lineitem_rows(rng: np.random.Generator, n: int,
                  orderkeys: np.ndarray = None) -> pa.Table:
    """``n`` lineitem rows; ``orderkeys`` overrides the key column."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    keys = (rng.integers(0, N_ORDERS, n) if orderkeys is None
            else np.asarray(orderkeys, dtype=np.int64))
    return pa.table({
        "l_orderkey": keys,
        "l_partkey": rng.integers(0, N_PART, n),
        "l_suppkey": rng.integers(0, N_SUPP, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(
            _D0 + rng.integers(1, _SPAN_DAYS + 94, n) * _DAY_MS,
            pa.timestamp("ms")),
    }, schema=LINEITEM_SCHEMA)


def lineitem(rng: np.random.Generator, n: int = N_LINEITEM) -> pa.Table:
    """The sf0.1 lineitem table, sorted (clustered) by ``l_orderkey``."""
    t = lineitem_rows(rng, n)
    return t.take(pc.sort_indices(t, [("l_orderkey", "ascending")]))


def documents(rng: np.random.Generator, n: int = N_DOCS) -> pa.Table:
    lens = rng.integers(8, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    rare = rng.choice(RARE_DOMAIN, n, replace=False)
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        toks = [VOCAB[w] for w in words[pos:pos + ln]]
        toks.insert(int(rare[i]) % (ln + 1), f"ref{rare[i]:06d}")
        texts.append(" ".join(toks))
        pos += ln
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def rare_tokens(docs: pa.Table) -> list:
    return [t for text in docs.column("text").to_pylist()
            for t in text.split(" ") if t.startswith("ref")]


def write_files(table: pa.Table, directory: str, n_files: int,
                prefix: str = "part") -> None:
    """Cut ``table`` into ``n_files`` contiguous slices, one Parquet file
    (one row group) each."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(directory, f"{prefix}-{i:05d}.parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def data_bytes(path: str) -> int:
    """Bytes of the table's Parquet data files (no markers, no sidecars)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total
