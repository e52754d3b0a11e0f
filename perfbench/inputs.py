"""Seeded benchmark inputs and their DuckDB oracles.

The engine's input is a ``documents`` table (doc_id, text, lang, source,
n_chars). The benchmark writes one from ``--seed``: a pool of
``POOL_ROWS`` word-salad texts shaped like the ``documents`` fixture
(5,000 rows of 44-577 characters drawn from a small technical
vocabulary), repeated ``repeat`` times, with
``doc_id = (seed mod SEED_FOLD) * 10**7 + i``. Everything spatial —
geotag presence (~60%), hot-city membership (~80% of geotagged pages in
20 cities) and coordinates — is re-derived from ``doc_id`` by
``gdal_spark.pages.synth_stages``, so a different seed moves every
point while the same seed rewrites the same bytes.

``SEED_FOLD`` keeps every ``doc_id`` below ~1.07e9, so that the synth
hash ``doc_id * 2654435761`` fits a signed 64-bit integer (Spark under
ANSI mode and DuckDB require it) and the page timestamp
``1735689600 + doc_id * 7`` seconds fits pandas' nanosecond timestamps,
which the Arrow UDF of geotag extraction converts it to.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_ROWS = 5000
SEED_FOLD = 100
ID_STRIDE = 10 ** 7
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line order part query scan slow small sort spark stream table the"
    " value vector window"
).split()
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")


def id_base(seed: int) -> int:
    return (seed % SEED_FOLD) * ID_STRIDE


def document_table(seed: int, repeat: int) -> pa.Table:
    """``repeat`` copies of a seeded ``POOL_ROWS``-text pool."""
    rng = np.random.default_rng(seed)
    texts = []
    for n_words in rng.integers(8, 100, size=POOL_ROWS):
        texts.append(" ".join(WORDS[j] for j in
                              rng.integers(0, len(WORDS), size=n_words)))
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), size=POOL_ROWS)]
    n = POOL_ROWS * repeat
    return pa.table({
        "doc_id": pa.array(id_base(seed) + np.arange(n, dtype=np.int64)),
        "text": pa.array(texts * repeat, pa.string()),
        "lang": pa.array(langs * repeat, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts] * repeat, pa.int64()),
    })


def write_documents(out_dir: str, seed: int, repeat: int) -> str:
    """Write ``<out_dir>/documents.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(document_table(seed, repeat),
                   os.path.join(out_dir, "documents.parquet"),
                   row_group_size=POOL_ROWS * 4, compression="snappy")
    return out_dir


def duckdb_con(data_dir: str):
    """DuckDB connection with a ``documents`` view over the generated file."""
    import duckdb

    con = duckdb.connect()
    path = os.path.join(data_dir, "documents.parquet")
    con.execute(f"create view documents as select * from read_parquet('{path}')")
    return con
