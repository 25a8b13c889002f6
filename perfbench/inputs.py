"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables, and no Spark is needed to build them.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd
import pyarrow as pa

from rkmh_spark.config import DedupConfig
from rkmh_spark.sources.pages import generate_pages

# the bench_scaling.py config (k=12 shingles, s=128 sketch, 36x4 bands,
# tau=0.6) with bucket_cap lowered from 200 to 50: a mirror set just past
# the cap then takes the salted hot-bucket join without its M^2/2 pairs
# swamping the pass
CONFIG = DedupConfig(
    k=12, sketch_size=128, num_bands=36, band_rows=4, jaccard_threshold=0.6,
    bucket_cap=50,
)

# longdoc_crawl: 700 pages of 350-700 tokens plus one page mirrored
# past bucket_cap, so the salted join runs beside the plain one. Page
# counts are fixed, not drawn, so every seed does the same amount of work.
LONGDOC_PAGES = 700
MIRRORS = CONFIG.bucket_cap + 10
MIRROR_URL = "https://mirror{:04d}.example.net/copy"

# incremental_crawl: the same page shape in a fixed plan of micro-batches
INCREMENTAL_BATCHES = 2
BATCH_PAGES = 200

# headline queries: a documents table shaped like the repo's testdata
# (short snippets in 5 languages, 20 sources) and 64-dim embeddings
HEADLINE_TABLES = ("documents", "embeddings")
HEADLINE_DOCS = 500
HEADLINE_SOURCES = 20
EMBED_DIM = 64
EMBED_LABELS = 10

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang", "true_cluster_id"]


def _frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=PAGE_COLUMNS)


def _long_pages(n_pages: int, seed: int) -> list[tuple]:
    """The first ``n_pages`` rows of a seeded generate_pages corpus (it
    yields at least one page per cluster, so n_pages clusters suffice)."""
    return generate_pages(
        n_clusters=n_pages, dup_rate=0.3, seed=seed,
        min_tokens=350, max_tokens=700,
    )[:n_pages]


def longdoc_pages(seed: int) -> pd.DataFrame:
    """Long pages with planted clusters of at most 4, plus ``MIRRORS``
    verbatim copies of one seeded page under distinct mirror urls."""
    rows = _long_pages(LONGDOC_PAGES, seed)
    src = rows[random.Random(seed).randrange(len(rows))]
    rows += [
        (MIRROR_URL.format(i),) + src[1:]
        for i in range(MIRRORS)
    ]
    return _frame(rows)


def incremental_batches(seed: int) -> list[pd.DataFrame]:
    """Long pages in a seeded arrival order, cut into equal micro-batches,
    so planted duplicates land in different batches."""
    rows = _long_pages(INCREMENTAL_BATCHES * BATCH_PAGES, seed)
    random.Random(seed).shuffle(rows)
    return [
        _frame(rows[i : i + BATCH_PAGES])
        for i in range(0, len(rows), BATCH_PAGES)
    ]


def headline_tables(seed: int) -> dict[str, pd.DataFrame]:
    """The ``documents`` and ``embeddings`` tables the headline queries
    read, in the column types of the repo's testdata parquet files."""
    rows = generate_pages(
        n_clusters=HEADLINE_DOCS, dup_rate=0.3, seed=seed,
        min_tokens=10, max_tokens=100,
    )[:HEADLINE_DOCS]
    documents = pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "text": [r[3] for r in rows],
        "lang": [r[4] for r in rows],
        "source": [f"src{i % HEADLINE_SOURCES}" for i in range(len(rows))],
        "n_chars": np.array([len(r[3]) for r in rows], dtype=np.int64),
    })
    rng = np.random.default_rng(seed)
    vecs = rng.normal(0.0, 0.125, size=(HEADLINE_DOCS, EMBED_DIM)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(HEADLINE_DOCS, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, EMBED_LABELS, HEADLINE_DOCS).astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def digest(frames: list[pd.DataFrame]) -> str:
    """sha256 over the Arrow IPC bytes of the frames, in order."""
    h = hashlib.sha256()
    for df in frames:
        sink = pa.BufferOutputStream()
        table = pa.Table.from_pandas(df, preserve_index=False)
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
