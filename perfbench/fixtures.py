"""Seeded generator for the ten tables the engine's queries read.

The tables have the schema of the engine's test fixtures (``FIXTURES.md``):
a TPC-H-shaped star schema, an ``events`` stream table, a ``documents``
text corpus and an ``embeddings`` vector table, one parquet file each.
Values are drawn independently and uniformly over the same domains as
those fixtures, so every query sees the shapes it was written for:

- ``documents`` either mimics the fixture corpus (a 30-word vocabulary,
  5% of the documents a copy of an earlier one plus the token ``dup``,
  which is what the near-duplicate queries find), or, with ``zipf``,
  draws its tokens from a Zipf-distributed alphabetic vocabulary
  (the word-count workload);
- ``embeddings`` are random unit vectors of 64 float32 dimensions with
  a random label in 0..9.

The same seed always writes byte-identical files.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mapreduceplusplus_spark.sources.tables import TABLES


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_FRACTION = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclasses.dataclass(frozen=True)
class Scale:
    """Sizes of one generated dataset.

    ``sf`` scales the star schema and ``events`` as the fixtures do
    (lineitem = 6M x sf rows); the text and vector tables are sized
    separately because their queries' cost is not linear in ``sf``."""

    sf: float
    n_docs: int
    n_embeddings: int
    zipf_vocab: int = 0  # 0: fixture-like corpus; >0: Zipf vocabulary size

    def rows(self, table: str) -> int:
        base = {
            "customer": 150_000,
            "supplier": 10_000,
            "part": 200_000,
            "orders": 1_500_000,
            "lineitem": 6_000_000,
            "events": 1_000_000,
        }
        return max(10, int(round(base[table] * self.sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _star_schema(rng: np.random.Generator, scale: Scale) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = (scale.rows(t) for t in ("customer", "supplier", "part"))
    n_ord, n_line = scale.rows("orders"), scale.rows("lineitem")
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -1000, 10000, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -1000, 10000, n_supp),
            }
        ),
    }
    keys = np.arange(n_part)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    return out


def _events(rng: np.random.Generator, scale: Scale) -> pa.Table:
    n = scale.rows("events")
    n_users = max(10, int(round(150_000 * scale.sf / 10)))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n, dtype=np.int64)) + _EPOCH_2024
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def zipf_vocabulary(size: int) -> list[str]:
    """``size`` distinct lowercase alphabetic words, shortest first (so
    the frequent ranks are short words, as in natural text)."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: list[str] = []
    length = 1
    while len(words) < size:
        for i in range(26**length):
            w, k = "", i
            for _ in range(length):
                w = letters[k % 26] + w
                k //= 26
            words.append(w)
            if len(words) == size:
                break
        length += 1
    return words


def _documents(rng: np.random.Generator, scale: Scale) -> pa.Table:
    n = scale.n_docs
    lengths = rng.integers(10, 101, n)
    if scale.zipf_vocab:
        vocab = np.array(zipf_vocabulary(scale.zipf_vocab))
        ranks = np.arange(1, scale.zipf_vocab + 1, dtype=np.float64)
        p = 1.0 / ranks
        p /= p.sum()
        tokens = vocab[rng.choice(scale.zipf_vocab, int(lengths.sum()), p=p)]
    else:
        vocab = np.array(DOC_WORDS)
        tokens = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(tokens[bounds[i] : bounds[i + 1]]) for i in range(n)]
    if not scale.zipf_vocab:
        # near-duplicates: a copy of an earlier document plus " dup"
        for i in np.flatnonzero(rng.random(n) < DUP_FRACTION):
            if i > 0:
                texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": np.char.add("src", (ids % 20).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, scale: Scale) -> pa.Table:
    n = scale.n_embeddings
    v = rng.standard_normal((n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(seed: int, scale: Scale, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet``; returns row
    counts.  Each table draws from its own child of ``seed``, so the
    tables are independent of one another's sizes."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(4)
    tables = _star_schema(np.random.default_rng(streams[0]), scale)
    tables["events"] = _events(np.random.default_rng(streams[1]), scale)
    tables["documents"] = _documents(np.random.default_rng(streams[2]), scale)
    tables["embeddings"] = _embeddings(np.random.default_rng(streams[3]), scale)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in TABLES}
