"""Seeded input generators for the benchmark.

Everything the engine reads during a benchmark run is written here, from
the run's seed alone: the same seed gives byte-identical tables, another
seed gives other values of the same shape.

* :func:`write_star_schema` writes the ten tables the engine reads
  (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``) at a scale factor, with the column types and value
  distributions of the repository's synthetic test tables (TESTDATA.md): a 31-token
  document vocabulary, planted near-duplicate documents, minute-ish
  event cadence, unit-norm 64-dim embeddings.
* :func:`write_zipf_corpus` writes a ``documents`` table whose
  vocabulary behaves like a real one: Zipf-distributed tokens over a
  large vocabulary, plus planted near-duplicate pairs whose exact
  Jaccard and containment it records for the output checks.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
COLORS = ("blue", "green", "red", "black", "white", "small", "large", "shiny")
NOUNS = ("anvil", "bolt", "widget", "ring", "gear", "nut", "spring", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: the Zipf corpus: vocabulary size, Zipf exponent, share of planted
#: near-duplicate documents
VOCAB_SIZE = 50_000
ZIPF_S = 1.07
DUP_FRAC = 0.10

_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, n_days: int, n: int) -> pa.Array:
    ts = start + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """The test tables' ``documents`` shape: 10-100 tokens drawn from the
    31-token vocabulary, with ~5% planted near-duplicates (a copy of an
    earlier document with a few tokens replaced, tagged ``dup``)."""
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 30)):
                words[j] = str(rng.choice(vocab))
            words += ["dup"] * int(rng.integers(1, 3))
        else:
            words = list(rng.choice(vocab, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    raw = rng.normal(0.0, 1.0, (n, dim)) + 0.1 * centers[labels]
    vecs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_star_schema(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables of ``sources.tables.TABLES`` at scale factor
    ``sf`` into ``out_dir``. Row counts follow the test tables': lineitem 6M·sf, orders
    1.5M·sf, events 1M·sf, documents max(500, 50k·sf)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, _ORDER_EPOCH, 2405, n_ord),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            # whole dollars: price x (1 - discount) then has two decimals, so
            # revenue sums never sit on a rounding tie the engines break apart
            "l_extendedprice": pa.array(rng.integers(900, 105_001, n_line).astype(np.float64)),
            "l_discount": pa.array(_money(rng, 0.0, 0.1, n_line)),
            "l_tax": pa.array(_money(rng, 0.0, 0.08, n_line)),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_line), pa.string()),
            "l_shipdate": _days(rng, _ORDER_EPOCH + np.timedelta64(1, "D"), 2499, n_line),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(
                _EVENT_EPOCH + np.cumsum(rng.exponential(25.9e6, n_evt)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
        }),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    for name, t in tables.items():
        _write(out_dir, name, t)


def dir_stats(path: str) -> dict:
    """``rows`` and ``bytes`` summed over a directory's parquet tables."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return {"rows": sum(pq.read_metadata(f).num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}


@dataclass
class CorpusShape:
    """What :func:`write_zipf_corpus` wrote: sizes, and the planted
    near-duplicate pairs ``(src, dup, jaccard, containment_of_dup_in_src,
    containment_of_src_in_dup)`` over distinct-token sets."""

    docs: int
    tokens: int
    distinct_tokens: int
    bytes: int
    planted: list[tuple[int, int, float, float, float]] = field(default_factory=list)

    def summary(self) -> dict:
        return {
            "docs": self.docs,
            "tokens": self.tokens,
            "distinct_tokens": self.distinct_tokens,
            "bytes": self.bytes,
            "planted_pairs": len(self.planted),
        }


def _zipf_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase ASCII words of 3-10 letters (already
    in the engine's cleaned-token form, so cleaning changes nothing)."""
    n = size * 2
    letters = rng.integers(ord("a"), ord("z") + 1, (n, 10), dtype=np.uint8)
    letters[np.arange(10) >= rng.integers(3, 11, n)[:, None]] = 0
    words = letters.view("S10").ravel().astype(str)
    _, first = np.unique(words, return_index=True)
    return words[np.sort(first)[:size]]


def write_zipf_corpus(out_dir: str, seed: int, n_docs: int) -> CorpusShape:
    """Write ``documents`` (the test tables' parquet schema) with 10-100
    tokens per doc drawn Zipf(``ZIPF_S``) over ``VOCAB_SIZE`` words;
    ``DUP_FRAC`` of the docs are planted near-duplicates of an earlier
    doc with 2-15% of their tokens substituted."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _zipf_vocab(rng, VOCAB_SIZE)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    p /= p.sum()
    lengths = rng.integers(10, 101, n_docs)
    draws = rng.choice(VOCAB_SIZE, int(lengths.sum()), p=p)
    docs = np.split(draws, np.cumsum(lengths)[:-1])
    is_dup = rng.random(n_docs) < DUP_FRAC
    planted: list[tuple[int, int, float, float, float]] = []
    for i in np.flatnonzero(is_dup[1:]) + 1:
        src = int(rng.integers(0, i))
        toks = docs[src].copy()
        k = max(1, int(round(len(toks) * rng.uniform(0.02, 0.15))))
        toks[rng.choice(len(toks), k, replace=False)] = rng.integers(0, VOCAB_SIZE, k)
        a, b = set(docs[src].tolist()), set(toks.tolist())
        inter = len(a & b)
        planted.append((src, int(i), inter / len(a | b), inter / len(b), inter / len(a)))
        docs[i] = toks
    texts = [" ".join(vocab[t]) for t in docs]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nbytes = _write(out_dir, "documents", table)
    return CorpusShape(
        docs=n_docs,
        tokens=int(sum(len(d) for d in docs)),
        distinct_tokens=len(np.unique(np.concatenate(docs))),
        bytes=nbytes,
        planted=planted,
    )


def digest_dir(path: str) -> str:
    """md5 over a directory's parquet file names and bytes, in name
    order: equal digests mean the same staged inputs."""
    h = hashlib.md5()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(path, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
