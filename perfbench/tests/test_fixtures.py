import hashlib
import os

import pyarrow.parquet as pq

from mapreduceplusplus_spark.sources.tables import TABLES
from perfbench import fixtures

SMALL = fixtures.Scale(sf=0.0005, n_docs=200, n_embeddings=40)


def _digest(d):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    fixtures.generate(3, SMALL, a)
    fixtures.generate(3, SMALL, b)
    fixtures.generate(4, SMALL, c)
    assert _digest(a) == _digest(b) != _digest(c)


def test_schema_matches_the_engine_fixtures(tmp_path):
    fixtures.generate(1, SMALL, str(tmp_path))
    schema = lambda t: {f.name: str(f.type) for f in pq.read_schema(tmp_path / f"{t}.parquet")}
    assert schema("orders")["o_orderdate"] == "timestamp[us]"
    assert schema("events")["ts"] == "timestamp[us]"
    assert schema("embeddings") == {
        "vec_id": "int64",
        "embedding": "list<element: float>",
        "label": "int32",
    }
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    assert any(d["text"].endswith(" dup") for d in docs)


def test_zipf_corpus_is_alphabetic_and_skewed(tmp_path):
    scale = fixtures.Scale(sf=0.0005, n_docs=200, n_embeddings=10, zipf_vocab=500)
    fixtures.generate(1, scale, str(tmp_path))
    words = [
        w for d in pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
        for w in d.split()
    ]
    assert all(w.isalpha() and w.islower() for w in words)
    top = max(set(words), key=words.count)
    assert top == "a" and words.count("a") > len(words) / 20
