"""Seeded input generator for the benchmark workloads, fitted to sf0.1.

Every table is drawn from one numpy Generator seeded by (workload seed,
table name), so the same seed always gives byte-identical parquet files.
Schemas, parquet layout (snappy, one row group) and value distributions
follow the engine's sf0.1 test tables. `shape.py` measures the figures
below on any table directory; `SF01` in that file holds sf0.1's, and
perfbench/README.md sets them next to a generated set's.

On sf0.1 every column is independent and uniform over its range, except:
events are in time order with exponential values; a document is 10-99
words drawn uniformly from a 30-word vocabulary, and 5% of documents are
another document's text plus " dup"; embeddings are isotropic unit
vectors whose label carries no signal. Key domains scale with the row
count so that rows per key stay sf0.1's: 66.7 events per user, 4 lines
per order, 30 per part, 600 per supplier.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30
SHIP_T0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499
ROWS_PER_USER = 100_000 / 1_500
ROWS_PER_ORDER = 600_000 / 150_000
ROWS_PER_PART = 600_000 / 20_000
ROWS_PER_SUPP = 600_000 / 1_000
PRICE_RANGE = (900.68, 104999.91)
DUP_SHARE = 0.05
EMBED_DIM = 64
LABELS = 10


def rng_for(seed, table):
    digest = hashlib.sha256(f"{seed}/{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def keys(r, n, rows_per_key):
    return r.integers(0, max(1, round(n / rows_per_key)), n, dtype=np.int64)


def write(out_dir, name, columns):
    table = pa.table(columns)
    # one row group per file and no wall-clock metadata: same seed, same bytes
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=max(1, table.num_rows),
                   store_schema=False)
    return table.num_rows


def events(seed, n):
    r = rng_for(seed, "events")
    ts = np.sort(r.integers(0, EVENT_DAYS * DAY_US, n)).astype("timedelta64[us]") + EVENTS_T0
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(keys(r, n, ROWS_PER_USER)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    }


def lineitem(seed, n):
    r = rng_for(seed, "lineitem")
    ship = SHIP_T0 + r.integers(0, SHIP_DAYS, n).astype("timedelta64[D]")
    return {
        "l_orderkey": pa.array(keys(r, n, ROWS_PER_ORDER)),
        "l_partkey": pa.array(keys(r, n, ROWS_PER_PART)),
        "l_suppkey": pa.array(keys(r, n, ROWS_PER_SUPP)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(*PRICE_RANGE, n), 2)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.10, n), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    }


def documents(seed, n):
    r = rng_for(seed, "documents")
    lengths = r.integers(10, 100, n)
    toks = np.array(WORDS)[r.integers(0, len(WORDS), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n)]
    dups = r.choice(n, round(DUP_SHARE * n), replace=False)
    srcs = r.integers(0, n, len(dups))
    copies = [texts[s] + " dup" for s in srcs]  # sources are the undoubled texts
    for i, t in zip(dups, copies):
        texts[i] = t
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(seed, n):
    r = rng_for(seed, "embeddings")
    v = r.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, LABELS, n).astype(np.int32)),
    }


MAKERS = {"events": events, "lineitem": lineitem,
          "documents": documents, "embeddings": embeddings}


def generate(spec, seed, out_dir):
    """Write every table of `spec` (table name -> row count) under
    `out_dir`; return {table: rows} and a sha256 digest over the files."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {name: write(out_dir, name, MAKERS[name](seed, n))
            for name, n in sorted(spec.items())}
    return rows, digest(out_dir, sorted(spec))


def digest(out_dir, names):
    h = hashlib.sha256()
    for name in names:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]
