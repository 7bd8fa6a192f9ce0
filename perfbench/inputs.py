"""Deterministic benchmark inputs.

The engine's page synthesizer (``sources.pages``) fans a ``documents``
parquet table out into web pages. The benchmark writes that table itself
so it depends on nothing outside its checkout:

- ``documents`` content is fixed (constant generator seed): doc ids
  ``0..POOL_DOCS-1``, a few dozen vocabulary words each, five languages.
- ``flagship_tiles`` reads doc ids ``0..4999`` (the sf0.1 size).
- ``knn_enrich`` reads a ``--seed``-chosen subset of ``KNN_DOCS`` doc ids
  out of the pool, so the seed picks which points the kNN sees.

The page formulas below restate ``sources/pages.py`` (its grid and
mega-token constants are imported from there) so that the oracles in
:mod:`checks` can recompute page counts and point coordinates without
running the engine's Spark code.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osm_data_classification_spark.sources.pages import (
    LAT_OFF,
    LAT_STEP,
    LON_OFF,
    LON_STEP,
    MEGA_TOKENS,
    N_HOSTS,
    N_I,
    N_J,
)

POOL_DOCS = 20_000
FLAGSHIP_DOCS = 5_000
KNN_DOCS = 5_000
_CONTENT_SEED = 20_240_101
_WORDS = np.array(
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query a big key window row table stream merge data the "
    "customer join vector".split()
)
_LANGS = np.array(["en", "en", "es", "de", "fr", "zh"])


def write_documents(path: str, doc_ids: np.ndarray) -> str:
    """Write ``{path}/documents.parquet`` holding ``doc_ids``; return ``path``."""
    rng = np.random.default_rng(_CONTENT_SEED)
    n_words = rng.integers(6, 100, POOL_DOCS)
    langs = _LANGS[rng.integers(0, len(_LANGS), POOL_DOCS)]
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    off = np.r_[0, np.cumsum(n_words)]
    texts = [" ".join(words[off[d] : off[d + 1]]) for d in doc_ids]
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": texts,
            "lang": langs[doc_ids].tolist(),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return path


def flagship_doc_ids() -> np.ndarray:
    return np.arange(FLAGSHIP_DOCS, dtype=np.int64)


def knn_doc_ids(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.sort(rng.choice(POOL_DOCS, KNN_DOCS, replace=False)).astype(np.int64)


def page_count(doc_ids: np.ndarray, multiplier: int) -> int:
    """Rows ``synth_pages`` emits: one per crawl of every page id."""
    pid = (doc_ids[:, None] * multiplier + np.arange(multiplier)[None, :]).ravel()
    crawls = np.where(pid % 5 == 0, pid % 4 + 2, 1)
    return int(crawls.sum())


def page_points(page_ids: np.ndarray) -> tuple[list[str], np.ndarray, np.ndarray]:
    """(url, lon, lat) of each page id, in the engine's float operation order."""
    pid = np.asarray(page_ids, dtype=np.int64)
    mega = pid % 10 < 3
    k = pid % 5
    i = np.where(mega, np.array([t[0] for t in MEGA_TOKENS])[k], (pid * 2654435761) % N_I)
    j = np.where(mega, np.array([t[1] for t in MEGA_TOKENS])[k], (pid * 40503) % N_J)
    lon = -180.0 + i.astype(np.float64) * LON_STEP + LON_OFF
    lat = -90.0 + j.astype(np.float64) * LAT_STEP + LAT_OFF
    urls = [f"https://site{p % N_HOSTS}.example/p/{p}" for p in pid.tolist()]
    return urls, lon, lat
