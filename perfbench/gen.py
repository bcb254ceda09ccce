"""Workload inputs, generated from the seed into a fresh directory.

The engine's page generator (``fixtures.materialize_pages``) draws page
text from a documents table; the benchmark writes that table itself from
the seed, so a run reads nothing outside its own work directory. Nothing
is cached between runs: every call generates its inputs again.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf ``documents`` table bench.py feeds the page generator, as measured
# at sf0.001, sf0.01 and sf0.1 (the last: 5,000 rows): the same 30 words,
# drawn uniformly; 10 to 100 words a document, uniform (median 54); languages
# en 41%, zh/es/fr 15% each, de 14%; 5% of documents repeat an earlier
# document's text with " dup" appended.
WORDS = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join spark data row column value filter query batch stream group "
    "line customer vector agg"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_SHARES = [0.41, 0.15, 0.15, 0.15, 0.14]
N_DOCS = 5000
DUP_SHARE = 0.05


def write_documents(path: str, seed: int) -> str:
    """Documents (doc_id, text, lang) drawn to the measured shape of the sf
    ``documents`` table."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, N_DOCS)
    text = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    for i in np.flatnonzero(rng.random(N_DOCS) < DUP_SHARE):
        if i:
            text[i] = text[rng.integers(0, i)] + " dup"
    lang = rng.choice(LANGS, N_DOCS, p=LANG_SHARES)
    pq.write_table(pa.table({"doc_id": np.arange(N_DOCS), "text": text, "lang": lang}), path)
    return path


def crawl_pages(out_dir: str, seed: int, n_pages: int) -> tuple[str, str]:
    """pages.parquet and the generator's edges_expected.parquet."""
    from scalemine_spark.fixtures import materialize_pages

    os.makedirs(out_dir, exist_ok=True)
    docs = write_documents(os.path.join(out_dir, "documents.parquet"), seed)
    return materialize_pages(docs, out_dir, n_pages=n_pages, seed=seed)


def skewed_edges(spark, out_dir: str, seed: int, n_edges: int, n_vertices: int) -> str:
    """Zipf out-degree (src, dst) edges written to parquet."""
    from scalemine_spark.fixtures import synth_edges_distributed

    path = os.path.join(out_dir, "edges.parquet")
    synth_edges_distributed(spark, n_edges, n_vertices, seed).write.parquet(path)
    return path


def read_edge_arrays(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) of an edge table written to parquet, as int64 arrays."""
    t = pq.read_table(path, columns=["src", "dst"])
    return t.column("src").to_numpy().astype(np.int64), t.column("dst").to_numpy().astype(np.int64)
