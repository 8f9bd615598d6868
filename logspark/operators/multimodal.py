"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The container has no image/audio codecs (no PIL/ffmpeg), so there is no
codec decode: the one decoder reads the raw bytes themselves as the signal.
Every piece of Spark plumbing is real and tested:

- schema: `content: binary` + `media_type/width/height/duration_ms` metadata
- partition-friendly batch shape: `mapInPandas` over Arrow record batches,
  so each Python worker sees a columnar slab of binaries, never one row
- the byte-signal decoder is deterministic, so tests and the DuckDB oracle
  pin the full pipeline shape end-to-end

At 100 TB the binaries dominate bytes; the design keeps them in one narrow
mapInPandas stage (no shuffle touches the binary column) and projects
features out so downstream aggregation drops the blob column immediately —
column pruning does the rest.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA_DDL = (
    "media_id bigint, media_type string, content binary, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA_DDL = (
    "media_id bigint, media_type string, n_bytes int, "
    "feat_mean double, feat_std double, frame_count int"
)


def extract_features(df: DataFrame, frame_stride: int = 1000) -> DataFrame:
    """Decode → feature-extract via mapInPandas (Arrow-batched, columnar).

    frame_stride models frame sampling: every `frame_stride` bytes counts as
    one 'frame' for video/audio rows.

    Mean/std are computed from EXACT integer moments (sum, sum-of-squares
    are int64 — no float accumulation order): mean = s/n and
    std = sqrt(sq/n - mean²) are then single IEEE ops, so a SQL oracle
    evaluating the same formulas reproduces the doubles bit-for-bit
    (numpy's pairwise-summed .std() would differ in the last ulp)."""
    import math

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sig_mean, sig_std, frames, nbytes = [], [], [], []
            for content in pdf["content"]:
                # byte-signal decode: the raw bytes are the signal
                arr = np.frombuffer(bytes(content), dtype=np.uint8).astype(np.int64)
                n = arr.size
                nbytes.append(len(content))
                if n:
                    s = int(arr.sum())
                    sq = int((arr * arr).sum())
                    mean = s / n
                    std = math.sqrt(max(sq / n - mean * mean, 0.0))
                else:
                    mean = std = 0.0
                sig_mean.append(round(mean, 6))
                sig_std.append(round(std, 6))
                frames.append(max(1, len(content) // frame_stride))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pd.Series(nbytes, dtype="int32"),
                    "feat_mean": pd.Series(sig_mean, dtype="float64"),
                    "feat_std": pd.Series(sig_std, dtype="float64"),
                    "frame_count": pd.Series(frames, dtype="int32"),
                }
            )

    return df.mapInPandas(gen, schema=FEATURE_SCHEMA_DDL)


RESIZED_SCHEMA_DDL = (
    "media_id bigint, media_type string, content binary, width int, height int"
)


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize image rows to (target_w, target_h); non-image rows pass through
    untouched. Same mapInPandas batch shape as extract_features.

    Deterministic nearest-neighbor resample of the raw byte signal to
    target_w*target_h bytes, so tests pin the plumbing (schema,
    pass-through, batch shape) exactly.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_content, out_w, out_h = [], [], []
            for content, mtype, w, h in zip(
                pdf["content"], pdf["media_type"], pdf["width"], pdf["height"]
            ):
                if not str(mtype).startswith("image/"):
                    out_content.append(content)
                    out_w.append(w)
                    out_h.append(h)
                    continue
                src = np.frombuffer(bytes(content), dtype=np.uint8)
                n_out = target_w * target_h
                idx = (np.arange(n_out) * max(len(src), 1) // n_out) % max(len(src), 1)
                out_content.append(bytes(src[idx])) if len(src) else out_content.append(b"")
                out_w.append(target_w)
                out_h.append(target_h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "content": out_content,
                    "width": pd.Series(out_w, dtype="int32"),
                    "height": pd.Series(out_h, dtype="int32"),
                }
            )

    return df.mapInPandas(gen, schema=RESIZED_SCHEMA_DDL)


FRAME_SCHEMA_DDL = (
    "media_id bigint, media_type string, frame_idx int, frame binary, n_frame_bytes int"
)


def sample_frames(
    df: DataFrame,
    frame_stride: int = 1000,
    max_frames: int | None = None,
) -> DataFrame:
    """Frame sampling: EXPLODE each audio/video row into one output row per
    sampled frame — (media_id, frame_idx, frame bytes) — the shape a
    frame-level training pipeline (caption-per-frame, audio windows)
    consumes downstream. Image rows yield their single frame; `max_frames`
    caps per-media fan-out (uniformly strided over the available frames,
    first frame always included) so one 10-hour video cannot explode a
    task's output.

    Same mapInPandas batch contract as extract_features: Arrow-batched
    columnar, fan-out happens INSIDE the batch generator, so output rows
    per input batch can exceed the input row count without any Spark-side
    explode. Frames are slices of the raw byte signal every `frame_stride`
    bytes, making count/order/slicing deterministic and testable."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, idxs, frames, sizes = [], [], [], [], []
            for mid, content, mtype in zip(
                pdf["media_id"], pdf["content"], pdf["media_type"]
            ):
                raw = bytes(content)
                if str(mtype).startswith("image/"):
                    chunks = [raw]
                else:
                    chunks = [
                        raw[i : i + frame_stride]
                        for i in range(0, max(len(raw), 1), frame_stride)
                    ]
                if max_frames is not None and len(chunks) > max_frames:
                    pick = [
                        chunks[i * len(chunks) // max_frames]
                        for i in range(max_frames)
                    ]
                    chunks = pick
                for i, ch in enumerate(chunks):
                    ids.append(mid)
                    types.append(mtype)
                    idxs.append(i)
                    frames.append(ch)
                    sizes.append(len(ch))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": pd.Series(types, dtype="object"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                    "n_frame_bytes": pd.Series(sizes, dtype="int32"),
                }
            )

    return df.mapInPandas(gen, schema=FRAME_SCHEMA_DDL)


def media_from_documents(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic media table derived from an existing TEXT table: the
    UTF-8 bytes of `text` become the binary `content`. This gives the binary
    decode path a corpus every engine can reproduce — the DuckDB oracle
    recomputes the same features from the characters' code points (the
    corpus is ASCII, so bytes == code points), putting mapInPandas binary
    plumbing under the full rows+schema+hash correctness gate."""
    from pyspark.sql import functions as F

    mid = F.col(id_col).cast("long")
    return df.select(
        mid.alias("media_id"),
        F.when(mid % 3 == 0, "image/png")
        .when(mid % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.when(mid % 3 == 0, 640).otherwise(0).cast("int").alias("width"),
        F.when(mid % 3 == 0, 480).otherwise(0).cast("int").alias("height"),
        F.when(mid % 3 != 0, 1000 + mid * 7).otherwise(0).cast("int").alias("duration_ms"),
    )


def synth_media_df(spark, n: int = 64):
    """Deterministic synthetic media table (binary payloads derived from ids)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = {
                "media_id": ids,
                "media_type": np.where(ids % 3 == 0, "image/png", np.where(ids % 3 == 1, "audio/wav", "video/mp4")),
                "content": [bytes(((np.arange(100 + (i % 7) * 50) * (i + 1)) % 251).astype(np.uint8)) for i in ids],
                "width": np.where(ids % 3 == 0, 640, 0).astype("int32"),
                "height": np.where(ids % 3 == 0, 480, 0).astype("int32"),
                "duration_ms": np.where(ids % 3 != 0, 1000 + ids * 7, 0).astype("int32"),
            }
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA_DDL)
