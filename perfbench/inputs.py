"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is made here from the
workload seed: a TPC-H-like star schema plus the ``events``,
``documents`` and ``embeddings`` tables (same column names, types and
value distributions as the fixture corpus described in FIXTURES.md),
and a tree of small and MB-sized files with a manifest of each file's
size and CRC-32 for the file-verb workload.
"""

from __future__ import annotations

import datetime
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = datetime.datetime(1970, 1, 1)


def _day_us(d: datetime.date) -> int:
    return int((datetime.datetime(d.year, d.month, d.day) - _EPOCH).total_seconds()) * 10**6


def _dates(rng: np.random.Generator, n: int, lo: datetime.date, hi: datetime.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n, dtype=np.int64)
    return pa.array(_day_us(lo) + days * 86_400 * 10**6, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(
    out_dir: str,
    seed: int,
    sf: float,
    n_documents: int = 0,
    n_embeddings: int = 0,
) -> None:
    """Write the ten fixture-shaped tables at scale ``sf`` into ``out_dir``.

    Row counts follow the fixture ratios (lineitem = 6,000,000 * sf);
    ``documents``/``embeddings`` sizes are given explicitly because the
    curation operators scale with them independently of ``sf``.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _dates(rng, n_line, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)),
    })
    # events: ids in time order over 30 days, exponential values
    ts0 = _day_us(datetime.date(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev, dtype=np.int64)) + ts0
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: word soup of 10-100 words; 5% are near-duplicates
    # (an earlier document's text plus " dup"), as in the fixture corpus
    texts: list[str] = []
    for i in range(n_documents):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_documents, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_documents, p=_LANG_P)]
        if n_documents else pa.array([], pa.string()),
        "source": [f"src{i % 20}" for i in range(n_documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_embeddings, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_embeddings, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64)
        .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_embeddings, dtype=np.int32),
    })


# --------------------------------------------------------------- file tree


@dataclass(frozen=True)
class FileEntry:
    rel: str  # path relative to the tree root, e.g. "d03/orders_03_0007.csv"
    size: int
    crc: int


_EXTS = ["csv", "json", "txt", "tar.gz", "log"]
_STEMS = ["orders", "events", "report", "archive", "batch", "metrics"]


def crc_of(path: str) -> int:
    with open(path, "rb") as fh:
        return zlib.crc32(fh.read())


def write_tree(
    root: str,
    seed: int,
    n_files: int,
    n_folders: int,
    n_large: int = 2,
) -> list[FileEntry]:
    """Write ``n_files`` files over ``n_folders`` folders and return the
    manifest.  Sizes are mostly 0.5-8 KB (log-uniform); the first
    ``n_large`` files are 1-2 MB.  Folders and extensions cycle with the
    file index, so how many files each verb's pattern selects does not
    depend on the seed; stems, sizes and bytes do.  Base names are
    unique across folders, so a flat destination folder never sees two
    sources with one name."""
    rng = np.random.default_rng(seed)
    manifest: list[FileEntry] = []
    for i in range(n_files):
        folder = f"d{i % n_folders:02d}"
        ext = _EXTS[i % len(_EXTS)]
        stem = _STEMS[int(rng.integers(0, len(_STEMS)))]
        rel = f"{folder}/{stem}_{i:04d}.{ext}"
        if i < n_large:
            size = int(rng.integers(1 << 20, 2 << 20))
        else:
            size = int(np.exp(rng.uniform(np.log(512), np.log(8192))))
        data = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        manifest.append(FileEntry(rel, size, zlib.crc32(data)))
    return manifest
