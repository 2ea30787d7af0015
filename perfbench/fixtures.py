"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same rows, the same file layout and the same delete sets.  Files are
written with pyarrow, never through the package under test, so the
program only ever receives finished inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- lineitem

N_ORDERS = 150_000  # about 600k lineitem rows: TPC-H sf0.1
FILES_PER_YEAR = 4  # 7 ship years x 4 = 28 small data files
YEAR_SPEC = [{"name": "ship_year", "transform": "year", "source": "l_shipdate"}]
LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]
_EPOCH = dt.date(1970, 1, 1)
_FIRST_SHIP = (dt.date(1992, 1, 2) - _EPOCH).days
_LAST_SHIP = (dt.date(1998, 12, 1) - _EPOCH).days


def lineitem(seed: int) -> pa.Table:
    """A TPC-H-shaped lineitem table: 1-7 lines per order, one ship date
    per order, rows sorted by (ship year, order key)."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(1, N_ORDERS + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - starts + 1).astype(np.int32)
    ship = np.repeat(rng.integers(_FIRST_SHIP, _LAST_SHIP, N_ORDERS), lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    t = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(1, 20_001, n),
            "l_suppkey": rng.integers(1, 1_001, n),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship.astype("int32"), pa.int32()).cast(pa.date32()),
        }
    )
    order = np.lexsort((okey, ship_year(t)))
    return t.take(pa.array(order))


def ship_year(t: pa.Table) -> np.ndarray:
    """The ``year`` transform of l_shipdate: years since 1970."""
    days = t.column("l_shipdate").cast(pa.int32()).to_numpy()
    return (days.astype("datetime64[D]").astype("datetime64[Y]").astype(int)).astype(
        np.int64
    )


def _column_stats(t: pa.Table) -> dict:
    """Manifest ``column_stats`` for the numeric key columns, in the
    package's footer-stats shape (min/max/null_count)."""
    out = {}
    for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        a = t.column(c).to_numpy()
        out[c] = {"null_count": 0, "min": int(a.min()), "max": int(a.max())}
    return out


def write_data_files(t: pa.Table, out_dir: str, seq: int, spec_id: int) -> list[dict]:
    """Split ``t`` by ship year into FILES_PER_YEAR files per year and
    return their manifest entries (partition values under YEAR_SPEC)."""
    os.makedirs(out_dir, exist_ok=True)
    years = ship_year(t)
    entries = []
    for y in np.unique(years):
        idx = np.flatnonzero(years == y)
        for k, part in enumerate(np.array_split(idx, FILES_PER_YEAR)):
            chunk = t.take(pa.array(part))
            path = os.path.join(out_dir, f"y{int(y)}-{k}-s{seq}.parquet")
            pq.write_table(chunk, path)
            entries.append(
                {
                    "path": path,
                    "sequence_number": seq,
                    "content": "DATA",
                    "file_size_in_bytes": os.path.getsize(path),
                    "record_count": chunk.num_rows,
                    "column_stats": _column_stats(chunk),
                    "spec_id": spec_id,
                    "partition": {"ship_year": int(y)},
                }
            )
    return entries


def _delete_entry(path: str, seq: int, content: str, eq_ids=None) -> dict:
    e = {
        "path": path,
        "sequence_number": seq,
        "content": content,
        "file_size_in_bytes": os.path.getsize(path),
        "record_count": pq.ParquetFile(path).metadata.num_rows,
    }
    if eq_ids:
        e["equality_ids"] = list(eq_ids)
    return e


def position_delete_file(
    rng, data: list[dict], path: str, seq: int, share: float
) -> dict:
    """Delete ``share`` of the row positions of each listed data file."""
    paths, pos = [], []
    for e in data:
        n = e["record_count"]
        k = max(1, int(n * share))
        p = np.sort(rng.choice(n, k, replace=False))
        paths.append(np.full(k, e["path"], dtype=object))
        pos.append(p.astype(np.int64))
    pq.write_table(
        pa.table({"file_path": np.concatenate(paths), "pos": np.concatenate(pos)}), path
    )
    return _delete_entry(path, seq, "POSITION_DELETES")


def equality_delete_file(values: dict, path: str, seq: int) -> dict:
    pq.write_table(pa.table(values), path)
    return _delete_entry(path, seq, "EQUALITY_DELETES", list(values))


def compact_table_layout(seed: int, t: pa.Table, root: str) -> list[list[dict]]:
    """Commit-ordered manifest entries of the ``compact`` fixture.

    Two data batches (years 1992-95 at seq 1, 1996-98 at seq 4) carry
    four position-delete files and three equality-delete files at
    staggered sequence numbers.  The order-key delete at seq 3 names
    keys from both batches, so its rows in the seq-4 batch must survive
    (the strict ``<`` rule); the seq-6 supplier delete and the seq-7
    order-key delete reach both batches.  Returns one entry list per
    snapshot, in commit order.
    """
    rng = np.random.default_rng(seed + 1)
    years = ship_year(t)
    first = t.filter(pa.array(years < 26))
    second = t.filter(pa.array(years >= 26))
    d1 = write_data_files(first, os.path.join(root, "data-a"), 1, 1)
    d2 = write_data_files(second, os.path.join(root, "data-b"), 4, 1)
    dd = os.path.join(root, "deletes")
    os.makedirs(dd, exist_ok=True)
    okeys = np.unique(t.column("l_orderkey").to_numpy())
    return [
        d1,
        [position_delete_file(rng, d1, os.path.join(dd, "pos-1.parquet"), 2, 0.02)],
        [
            equality_delete_file(
                {"l_orderkey": rng.choice(okeys, 3000, replace=False)},
                os.path.join(dd, "eq-order-3.parquet"),
                3,
            )
        ],
        d2,
        [
            position_delete_file(rng, d1 + d2, os.path.join(dd, "pos-5a.parquet"), 5, 0.01),
            position_delete_file(rng, d2, os.path.join(dd, "pos-5b.parquet"), 5, 0.02),
        ],
        [
            equality_delete_file(
                {"l_suppkey": rng.choice(np.arange(1, 1001), 10, replace=False)},
                os.path.join(dd, "eq-supp-6.parquet"),
                6,
            )
        ],
        [
            position_delete_file(rng, d1 + d2, os.path.join(dd, "pos-7.parquet"), 7, 0.01),
            equality_delete_file(
                {"l_orderkey": rng.choice(okeys, 2000, replace=False)},
                os.path.join(dd, "eq-order-7.parquet"),
                7,
            ),
        ],
    ]


# ---------------------------------------------------------------- documents

N_DOCS = 5000  # sf0.1 documents
VOCAB = [
    "a", "the", "data", "spark", "query", "table", "row", "column", "scan",
    "sort", "hash", "join", "group", "agg", "filter", "window", "stream",
    "batch", "merge", "order", "key", "value", "part", "line", "customer",
    "vector", "fast", "slow", "big", "small", "file", "delete", "commit",
    "snapshot", "schema", "index", "page", "shuffle", "plan", "task",
]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
HOT_PREFIX_TOKENS = 100  # bench.py's hot-bucket prefix length
HOT_MODULUS = 4  # hot docs are drawn from doc_id % 4 == 0 long docs
HOT_MIN_TOKENS = 60
# The first HOT_DOCS of those get the prefix: 10 % of the corpus, 40 %
# of the doc_id % 4 == 0 docs.  A fixed count keeps the skew leg's
# work the same for every seed: the candidate pairs grow with its
# square, and the number of long docs varies from seed to seed (about
# 530 to 610 for seeds 1-10).
HOT_DOCS = 500


def documents(seed: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """A uniform corpus with planted near-duplicates.

    One doc in ten is a copy of an earlier doc with 0-2 tokens replaced.
    Returns the table and the planted (original, copy) id pairs.
    """
    rng = np.random.default_rng(seed + 2)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.1:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            for _ in range(int(rng.integers(0, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab))
            planted.append((src, i))
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    t = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    return t, planted


def hot_bucket(docs: pa.Table) -> pa.Table:
    """bench.py's skew transform: a shared prefix of corpus-foreign
    tokens on the first HOT_DOCS ``doc_id % HOT_MODULUS == 0`` docs of
    at least HOT_MIN_TOKENS tokens.  Hot docs collide in LSH buckets
    while their true 3-shingle Jaccard stays below the verify
    threshold."""
    prefix = " ".join(f"zq{i}" for i in range(HOT_PREFIX_TOKENS)) + " "
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    long_ids = [i for i, s in zip(ids, texts)
                if i % HOT_MODULUS == 0 and s.count(" ") + 1 >= HOT_MIN_TOKENS]
    hot = set(long_ids[:HOT_DOCS])
    out = [prefix + s if i in hot else s for i, s in zip(ids, texts)]
    return docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(out)
    ).set_column(
        docs.schema.get_field_index("n_chars"),
        "n_chars",
        pa.array([len(s) for s in out], pa.int64()),
    )


def write_documents(docs: pa.Table, sf_dir: str) -> None:
    """Lay the corpus out the way the query registry expects it:
    ``{sf_dir}/documents.parquet/`` as a parquet directory."""
    d = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(docs, os.path.join(d, "part-0.parquet"))
