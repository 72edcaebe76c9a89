"""Seeded inputs for the benchmark.

Two generators, both pure functions of their seed:

- ``write_tables`` writes the ten parquet tables the query registry reads
  (``sources.tables.TABLE_NAMES``), with the schema, value domains and
  row counts of the repository's TPC-H-like test tables at a given scale
  factor. Every file is a single row group, as the query code assumes.
- ``write_corpus`` writes the MapReduce text corpus: Zipf vocabulary,
  mixed case, non-ASCII letters, digit and punctuation separators, and one
  file holding only separators.

Both write into a fresh temporary directory and rename it into place, so
an interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 0.1; other tables scale linearly.
_ROWS_AT_SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_N_LABELS = 10


def _day_stamps(rng: np.random.Generator, n: int, start: dt.date, days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_DOC_WORDS)
    texts: list[str] = []
    for _ in range(n):
        # one document in twenty is a near-duplicate of an earlier one
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (_N_LABELS, _EMBED_DIM))
    labels = rng.integers(0, _N_LABELS, n)
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf``, from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf / 0.1))) for k, v in _ROWS_AT_SF01.items()}
    n_docs = max(500, int(round(50_000 * sf)))
    n_vecs = max(500, int(round(20_000 * sf)))
    i32, i64 = np.int32, np.int64
    pick = lambda vals, k: pa.array(np.array(vals)[rng.integers(0, len(vals), k)])  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=i64)),
        "c_name": _names("Customer", k),
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(i32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": pick(_SEGMENTS, k),
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=i64)),
        "s_name": _names("Supplier", k),
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(i32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    keys = np.arange(k, dtype=i64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (k, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": pick(_PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k).astype(i32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k).astype(i64)),
        "o_orderstatus": pick(["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
        "o_orderdate": _day_stamps(rng, k, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": pick(_PRIORITIES, k),
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(i32)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": _day_stamps(rng, k, dt.date(1995, 1, 2), 2499),
    })
    k = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, k)) + np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k, dtype=i64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), k).astype(i64)),
        "event_type": pick(_EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _publish(tmp: str, final: str) -> None:
    try:
        os.rename(tmp, final)
    except OSError:
        # another run published the same inputs first; they are identical
        shutil.rmtree(tmp, ignore_errors=True)


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the tables under ``out_dir`` once; return the directory."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    _publish(tmp, out_dir)
    return out_dir


# --- MapReduce corpus ---------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_ACCENTED = "éèüöäñçßøåæœ"
_SEPARATORS = [" ", " ", " ", " ", "\n", ", ", ". ", "; ", "--", " 42 ", "\t", "(", ") ", "'", "7"]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    alphabet = list(_LETTERS) * 4 + list(_ACCENTED)
    while len(words) < size:
        n = int(rng.integers(1, 10))
        w = "".join(rng.choice(alphabet, n))
        if rng.random() < 0.2:
            w = w.capitalize()
        elif rng.random() < 0.05:
            w = w.upper()
        words.add(w)
    return sorted(words)


def build_corpus(seed: int, n_files: int, file_bytes: int, vocab_size: int = 20_000) -> list[tuple[str, str]]:
    """``(filename, contents)`` pairs: ``n_files - 1`` Zipf-worded files of
    about ``file_bytes`` characters and one file of separators only."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, vocab_size))
    seps = np.array(_SEPARATORS)
    files = []
    for i in range(n_files - 1):
        n_words = max(1, file_bytes // 6)
        ranks = np.minimum(rng.zipf(1.1, n_words), vocab_size) - 1
        words = vocab[ranks]
        gaps = seps[rng.integers(0, len(seps), n_words)]
        text = "".join(np.char.add(words, gaps).tolist())
        files.append((f"pg-{i:04d}.txt", text))
    files.append((f"pg-{n_files - 1:04d}.txt", "".join(seps[rng.integers(0, len(seps), 200)].tolist())))
    return files


def write_corpus(out_dir: str, files: list[tuple[str, str]]) -> str:
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp)
    for name, text in files:
        with open(os.path.join(tmp, name), "w", encoding="utf-8") as fh:
            fh.write(text)
    os.rename(tmp, out_dir)
    return out_dir
