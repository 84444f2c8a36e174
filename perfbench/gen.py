"""Seeded input generation for the benchmark.

Every table is a pure function of the seed and its size: the same seed
writes byte-identical parquet files, another seed writes different ones.
The shapes mirror the package's synthetic tables (column names, types,
value domains), so the package runs the code paths a user hits; the values
are drawn here, so the benchmark reads nothing outside its run directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the document vocabulary of the package's synthetic corpus
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
ORDERSTATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so resizing one table does not
    shift the draws of another."""
    salt = sum(ord(c) * 31**i for i, c in enumerate(stream)) % (2**31)
    return np.random.default_rng([int(seed), salt])


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def orders_table(seed: int, n_orders: int) -> pa.Table:
    """TPC-H-shaped ``orders``: unique keys 0..n-1, customers at the sf
    ratio of one per ten orders."""
    r = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, max(1, n_orders // 10), n_orders)
                              .astype(np.int64)),
        "o_orderstatus": _pick(r, ORDERSTATUS, n_orders),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": pa.array(_EPOCH_1995 + r.integers(0, 2400, n_orders) * _DAY_US),
        "o_orderpriority": _pick(r, PRIORITIES, n_orders),
    })


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """documents + embeddings with planted duplicates.

    60% of the documents are unique word draws; of the rest, half copy a
    unique document exactly and half copy one with a few words replaced
    (near duplicates), each copy of a different unique document.
    Embeddings follow the same plan: unique unit vectors, exact copies,
    and copies with small noise. The shares, the unique documents' lengths
    and the duplicate groups' shape are the same for every seed, so every
    seed gives the pipeline about the same work; the seed picks the words,
    values and which items are copied. Ids are a seeded permutation, so
    duplicates are not clustered by id."""
    r = _rng(seed, "documents")
    # a wide vocabulary keeps unrelated documents' word sets apart, so the
    # planted copies are the near duplicates
    vocab = np.asarray([f"{w}{k}" for w in WORDS for k in range(40)], dtype=object)
    n_copy = n_docs // 5
    n_orig = n_docs - 2 * n_copy
    lengths = r.permutation(np.linspace(10, 99, n_orig).round().astype(int))
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in lengths]
    for j, src in enumerate(r.choice(n_orig, 2 * n_copy, replace=False)):
        words = texts[src].split()
        if j >= n_copy:
            for p in r.integers(0, len(words), max(1, len(words) // 15)):
                words[p] = vocab[int(r.integers(0, len(vocab)))]
        texts.append(" ".join(words))
    texts = [texts[j] for j in r.permutation(n_docs)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n_docs),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
    })
    r = _rng(seed, "embeddings")
    dim = 64
    n_copy = n_vecs // 5
    n_orig = n_vecs - 2 * n_copy
    orig = r.standard_normal((n_orig, dim))
    src = orig[r.choice(n_orig, 2 * n_copy, replace=False)]
    noise = np.repeat([0.0, 0.15], n_copy)[:, None]
    near = src + noise * np.linalg.norm(src, axis=1, keepdims=True) / 8 \
        * r.standard_normal(src.shape)
    vecs = np.vstack([orig, near])[r.permutation(n_vecs)]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return {"documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One parquet file per table → {name: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
