"""Multimodal (binary-column) plumbing for the training-data pipeline.

Images/audio/video ride through the engine as opaque `binary` columns
with typed metadata — the north-star's pages table already carries
`html:binary` (BASELINE.json:15). The Spark-side plumbing here is
real and tested: schemas, Arrow batch shapes, `mapInPandas` iterator
UDFs, multi-row-per-input frame explosion. The *codec* step is stubbed
(no image/audio libraries exist in this environment): `decode_stub`
raises NotImplementedError for real formats and provides a
deterministic fake feature extractor so the distributed pipeline is
exercisable end to end.

`mm_binary_meta` is fully oracle-checked (metadata is pure SQL); the
decode/frame ops are rows-only for the driver and parity-tested against
a single-threaded oracle in tests/test_multimodal.py.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# binary metadata (fully relational)
# ---------------------------------------------------------------------------


@register(
    "mm_binary_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           substr(text, 1, 4) AS magic
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary payload: byte length,
    content digest, magic-prefix sniff. Pure projection — metadata
    extraction at 10^12 rows never leaves the JVM. (The documents
    text stands in for the binary payload so DuckDB can check values;
    the pages table's real `html:binary` goes through the same plan.)"""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        F.substring("text", 1, 4).alias("magic"),
    )


# ---------------------------------------------------------------------------
# decode stub + fake feature extraction (mapInPandas)
# ---------------------------------------------------------------------------

N_FEATURES = 8
REAL_MAGICS = (b"\x89PNG", b"\xff\xd8\xff", b"RIFF", b"\x00\x00\x00\x18")


def decode_stub(payload: bytes) -> dict:
    """STUB — real decode is NotImplemented in this environment (no
    PIL/ffmpeg/librosa baked in). Real media magics raise so nobody
    mistakes the fake for a codec; everything else produces a
    deterministic fake decode: dimensions and features derived from
    the payload's sha256, so results are reproducible across
    partitionings and parallelism levels."""
    if payload[:4] in REAL_MAGICS or payload[:3] in REAL_MAGICS:
        raise NotImplementedError(
            "real media decoding requires an image/audio library; "
            "plug a codec into decode_stub()"
        )
    h = hashlib.sha256(payload).digest()
    feats = [
        int.from_bytes(h[4 + 4 * i : 8 + 4 * i], "big") / 2**32
        for i in range(N_FEATURES)
    ]
    return {
        "width": 16 + h[0] % 240,
        "height": 16 + h[1] % 240,
        "features": feats,
    }


MM_FEATURES_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, features array<double>"
)


def extract_features(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """Distributed decode/feature-extract: Arrow-batched iterator UDF,
    one Python worker pass, no per-row Python on the JVM side. The
    batch shape (iterator of pandas DataFrames) is the production
    contract — a real codec drops into decode_stub unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_stub(b) for b in pdf[bin_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [len(b) for b in pdf[bin_col]],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "features": [d["features"] for d in decoded],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(run, MM_FEATURES_SCHEMA)


# the deterministic fake decode is a pure function of sha256(payload),
# so DuckDB mirrors it exactly: hex-slice the digest for dimensions and
# features (feat = digest bytes [4+4i, 8+4i) as uint32 / 2^32 — exact
# IEEE scaling, no rounding). A REAL codec dropped into decode_stub
# would move this entry back to rows-only.
_DECODE_SQL = f"""
    WITH d AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               sha256(text) AS hx
        FROM documents
    ),
    f AS (
        SELECT doc_id, n_bytes, hx,
               CAST('0x' || substr(hx, 1, 2) AS BIGINT) % 240 + 16 AS width,
               CAST('0x' || substr(hx, 3, 2) AS BIGINT) % 240 + 16 AS height,
               unnest(generate_series(0, {N_FEATURES - 1})) AS feat_idx
        FROM d
    )
    SELECT doc_id, n_bytes, width, height, feat_idx,
           -- feature 7 reads digest bytes [32,36) — past the 32-byte
           -- sha256 — which Python's int.from_bytes(b'') renders as 0;
           -- mirror that edge exactly
           CAST(CASE WHEN 16 + feat_idx * 8 <= 64
                     THEN CAST('0x' || substr(hx, 9 + feat_idx * 8, 8) AS BIGINT)
                     ELSE 0 END AS DOUBLE)
               / CAST(4294967296 AS DOUBLE) AS feat_val
    FROM f
"""


@register("mm_decode_features", _DECODE_SQL)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    # flatten the features array for the driver: its pandas canon
    # crashes on list-typed output columns (round-1 ERROR class)
    return extract_features(docs).select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.posexplode("features").alias("feat_idx", "feat_val"),
    )


# ---------------------------------------------------------------------------
# frame sampling (1 binary row -> N frame rows)
# ---------------------------------------------------------------------------

FRAME_BYTES = 64
MAX_FRAMES = 4

MM_FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"


def sample_frames(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """Frame sampling: each payload is chunked into fixed-size frames
    and up to MAX_FRAMES evenly-spaced ones are emitted as rows —
    the row-explosion shape of video frame extraction, as an iterator
    pandas UDF producing more rows than it consumes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                n_frames = max(1, len(payload) // FRAME_BYTES)
                take = min(MAX_FRAMES, n_frames)
                for j in range(take):
                    # evenly spaced frame indices, deterministic
                    fi = (j * n_frames) // take
                    chunk = payload[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(fi)
                    digests.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return df.select(id_col, bin_col).mapInPandas(run, MM_FRAMES_SCHEMA)


# DuckDB 1.0 has no BLOB substring/md5, so the oracle slices the
# VARCHAR; char offsets == byte offsets only for ASCII payloads, which
# the driver's documents.text is at every SF (asserted by
# tests/test_multimodal.py::test_frames_oracle_ascii_precondition)
_FRAMES_SQL = f"""
    WITH f AS (
        SELECT doc_id, text AS payload,
               greatest(1, octet_length(encode(text)) // {FRAME_BYTES})
                   AS n_frames
        FROM documents
    ),
    t AS (
        SELECT *, least({MAX_FRAMES}, n_frames) AS take FROM f
    ),
    j AS (
        SELECT doc_id, payload, n_frames, take,
               unnest(generate_series(0, take - 1)) AS jj
        FROM t
    )
    SELECT doc_id,
           CAST((jj * n_frames) // take AS INT) AS frame_idx,
           md5(substring(payload,
                         CAST((jj * n_frames) // take AS INT) * {FRAME_BYTES} + 1,
                         {FRAME_BYTES})) AS frame_md5
    FROM j
"""


@register("mm_frame_sample", _FRAMES_SQL)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL oracle: the frame schedule (evenly-spaced indices) and the
    per-frame md5 are pure byte arithmetic, so DuckDB reproduces them
    from the same payload — the value hash pins both the sampling
    schedule and the chunk boundaries."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return sample_frames(docs)


# ---------------------------------------------------------------------------
# scene-cut detection over the sampled frame stream
# ---------------------------------------------------------------------------

_CUT_THRESH = 96  # |feature delta| above this = a cut (byte-scale 0..255)

_SCENE_SQL = f"""
    WITH frames AS MATERIALIZED ({_FRAMES_SQL}),
    feat AS (
        SELECT doc_id, frame_idx,
               CAST('0x' || substr(frame_md5, 1, 2) AS BIGINT) AS f
        FROM frames
    ),
    delta AS (
        SELECT doc_id, frame_idx,
               abs(f - lag(f) OVER (PARTITION BY doc_id
                                    ORDER BY frame_idx)) AS d
        FROM feat
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames_sampled,
           CAST(SUM(CASE WHEN d > {_CUT_THRESH} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts,
           CAST(COALESCE(MIN(CASE WHEN d > {_CUT_THRESH}
                                  THEN frame_idx END), -1)
                AS BIGINT) AS first_cut_idx
    FROM delta GROUP BY doc_id
"""


@register("mm_scene_cut", _SCENE_SQL)
def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection — the video-pipeline step after frame
    sampling: adjacent sampled frames are compared by a per-frame
    feature and a cut is declared where the feature jumps by more
    than a threshold (96 on the 0..255 scale). The per-frame feature
    here is the first byte of the frame digest — the same
    deterministic stand-in boundary as mm_decode_features: a real
    codec would emit a color histogram at exactly this point in the
    plan (per-frame row → scalar feature), and NOTHING downstream
    changes — the lag-window delta, the threshold, and the per-video
    rollup (frame count, cut count, first cut index) are the real
    pipeline.

    Scale shape: frame explosion is the Arrow-batched iterator UDF
    (mapInPandas, more rows out than in); the cut detector is one
    window over (doc_id, frame_idx) — hash exchange on doc_id, state
    one row deep; the rollup partial-aggregates. Works identically at
    10^9 videos because no stage ever sees more than one video's
    frames in order. FULL oracle: DuckDB re-derives frames, features,
    lag deltas, and the rollup."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    frames = sample_frames(docs)
    feat = F.conv(F.substring("frame_md5", 1, 2), 16, 10).cast("long")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = frames.select(
        "doc_id",
        "frame_idx",
        F.abs(feat - F.lag(feat).over(w)).alias("d"),
    )
    cut = F.when(F.col("d") > _CUT_THRESH, 1).otherwise(0)
    return delta.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.sum(cut).cast("long").alias("n_cuts"),
        F.coalesce(
            F.min(F.when(F.col("d") > _CUT_THRESH, F.col("frame_idx"))),
            F.lit(-1),
        ).cast("long").alias("first_cut_idx"),
    )
