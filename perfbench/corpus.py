"""Seeded corpus tables and result checks for the ``corpus_pipeline``
workload.

The registry queries read ``documents.parquet`` and
``embeddings.parquet`` from a table directory.  The benchmark writes
both from its seed, in the same schema and style as the repository's
synthetic test tables (a small technical vocabulary, five languages,
twenty sources, a few near-duplicate documents; unit vectors drawn
around ten cluster centres), so it needs no data outside its checkout.

The warm-up pass of each query is checked against its ``oracle_sql()``
DuckDB twin: row count, column names and an order-insensitive value
multiset with floats rounded to nine significant digits.  Later passes
compare the row count and a digest of that multiset.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np

QUERIES = (
    "lm_pipeline_e2e", "dsir_weights", "similarity_ivf_pq",
    "dedup_embedding_lsh",
)

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window query group vector join filter stream data "
    "column order small big customer"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DIM = 64
N_CLUSTERS = 10


def make_corpus(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.03:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(len(vocab), size=n)]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centres = rng.normal(size=(N_CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(N_CLUSTERS, size=n_vecs)
    vecs = centres[label] + rng.normal(scale=0.22, size=(n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(sorted((k, _canon(x)) for k, x in v.asDict().items()))
    if type(v).__name__ == "Decimal":
        return _canon(float(v))
    return v


def normalize(rows, columns) -> list[tuple]:
    """Rows as an order-insensitive multiset, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows), key=repr
    )


def digest(rows, columns) -> str:
    return hashlib.sha256(repr(normalize(rows, columns)).encode()).hexdigest()


def oracle_rows(table_dir: str, sql: str):
    """(columns, rows) of one oracle query on DuckDB over the tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(table_dir, f"{t}.parquet")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def oracle_all(table_dir: str, oracles: dict[str, str]) -> dict:
    """``oracle_rows`` of every query, by name.  The queries run side by
    side: some of the twins are single-threaded in DuckDB."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(oracles)) as pool:
        futures = {
            q: pool.submit(oracle_rows, table_dir, sql)
            for q, sql in oracles.items()
        }
    return {q: f.result() for q, f in futures.items()}
