"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct. The decode stage is environment-gated: real codec libraries (PIL,
soundfile, av) are not in this container, so decode falls back to a
DETERMINISTIC byte-level feature extractor — the Spark-side plumbing
(schema, Arrow batch shape, partitioning) is real and tested; swapping in a
real decoder is a one-function change inside the batch kernel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._rowmap import rows_batch

MEDIA_FEATURES_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("byte_mean", T.DoubleType(), True),
    T.StructField("byte_entropy", T.DoubleType(), True),
    T.StructField("decoder", T.StringType(), False),
])


def _try_real_decoder():
    """Probe for real codec libs; None in this container (documented gate)."""
    try:
        from PIL import Image  # noqa: F401
        return "pil"
    except ImportError:
        return None


def decode_media_features(df: DataFrame, id_col: str = "id",
                          media_col: str = "media",
                          type_col: str = "media_type") -> DataFrame:
    """media binary → per-item features. Batched: one numpy pass per Arrow
    batch; the per-item loop touches only array slicing."""

    def run(batches):
        decoder = _try_real_decoder() or "bytestats"
        for batch in batches:
            rows = []
            for i, b, mt in zip(*(batch.column(c).to_pylist()
                                  for c in (id_col, media_col, type_col))):
                if b is None or len(b) == 0:
                    rows.append((int(i), mt, 0, None, None, decoder))
                    continue
                if decoder != "bytestats":
                    # Real decode would go here (PIL.Image.open etc.). This
                    # container has no codec libs, so the branch is
                    # intentionally unreachable — see _try_real_decoder.
                    raise NotImplementedError("real media decode not available")
                arr = np.frombuffer(b, dtype=np.uint8)
                counts = np.bincount(arr, minlength=256).astype(np.float64)
                p = counts[counts > 0] / arr.size
                entropy = float(-(p * np.log2(p)).sum())
                rows.append((int(i), mt, int(arr.size),
                             round(float(arr.mean()), 6), round(entropy, 6),
                             decoder))
            yield rows_batch(rows, MEDIA_FEATURES_SCHEMA)

    return df.select(id_col, media_col, type_col).mapInArrow(
        run, MEDIA_FEATURES_SCHEMA)


def frame_sample_stub(df: DataFrame, id_col: str = "id", media_col: str = "media",
                      n_frames: int = 4) -> DataFrame:
    """Video frame-sampling plumbing: emits (id, frame_idx, frame binary).
    Without a codec the 'frames' are deterministic byte slices — the output
    schema, explode shape and partitioning match what a real av-backed
    sampler would produce."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ])

    def run(batches):
        for batch in batches:
            rows = []
            for i, b in zip(batch.column(id_col).to_pylist(),
                            batch.column(media_col).to_pylist()):
                b = b or b""
                step = max(1, len(b) // n_frames)
                for f in range(n_frames):
                    rows.append((int(i), f, b[f * step:(f + 1) * step]))
            yield rows_batch(rows, schema)

    return df.select(id_col, media_col).mapInArrow(run, schema)


def resize_stub(df: DataFrame, id_col: str = "id", media_col: str = "media",
                target_bytes: int = 1024) -> DataFrame:
    """Image-resize plumbing: media binary → fixed-budget binary. Without a
    codec the 'resize' is a deterministic stride-decimation of the payload
    bytes to ≤ target_bytes — schema, Arrow batch shape and output-size
    contract match a real thumbnailer; swap the inner function for
    PIL.Image.thumbnail when a codec exists."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("resized", T.BinaryType(), True),
        T.StructField("orig_bytes", T.LongType(), False),
        T.StructField("resized_bytes", T.LongType(), False),
    ])

    def run(batches):
        for batch in batches:
            rows = []
            for i, b in zip(batch.column(id_col).to_pylist(),
                            batch.column(media_col).to_pylist()):
                b = b or b""
                if len(b) <= target_bytes:
                    out = b
                else:
                    step = -(-len(b) // target_bytes)  # ceil div
                    out = b[::step]
                rows.append((int(i), out, len(b), len(out)))
            yield rows_batch(rows, schema)

    return df.select(id_col, media_col).mapInArrow(run, schema)


def documents_as_media(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Testdata adapter: treat utf-8 text bytes as an opaque media payload
    with a typed metadata column (kind cycles by id — image/audio/video)."""
    kind = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.encode(F.col(text_col), "UTF-8").alias("media"),
        kind.alias("media_type"),
    )
