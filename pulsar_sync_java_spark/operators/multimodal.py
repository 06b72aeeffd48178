"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched Pandas
iterators.

The Spark-side architecture here is REAL and tested — schema contract,
mapInPandas batch shape, partitioning discipline.  The codec itself is
a deterministic stand-in: `decode_image` derives pseudo-metadata from
the payload bytes, and an audio payload of n bytes reads as n // 8 ms,
so every query built on it is replayable by the SQL oracle.  A real
codec (PIL/ffmpeg) would replace `decode_image` and the audio duration
expression.

Scale notes: payloads ride as BinaryType so Parquet stores them inline
with the row (no small-file side-channel); mapInPandas streams Arrow
batches, so executor memory is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` x mean payload size —
size that config, not the partition count, when payloads are large.
Feature extraction keyed per row never shuffles; only the optional
group-level stats do.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    "width int, height int, n_frames int, checksum string"
)


def attach_payload(documents: DataFrame, media_type: str = "image") -> DataFrame:
    """Stand-in ingest: wrap each document's UTF-8 bytes as an opaque
    payload with typed metadata — the schema a real image/audio ingest
    produces (payload column + sidecar metadata map)."""
    return documents.select(
        "doc_id",
        F.lit(media_type).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(
            F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")
        ).alias("meta"),
    )


def decode_image(payload: bytes) -> dict[str, Any]:
    """Codec boundary: deterministic pseudo-metadata derived only from
    the byte content (stable across engines and runs), so the whole
    pipeline is testable end to end and its oracle can replay it."""
    n = len(payload)
    return {
        "n_bytes": n,
        "width": n % 640 + 1,
        "height": (n * 31) % 480 + 1,
        "n_frames": n % 16,
    }


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, feature rows
    out.  The pandas code is the only Python in the pipeline (this is
    the sanctioned slow path — a codec cannot be a Catalyst expression).

    One task per input partition, zero shuffle.  Deliberately NOT
    spread to default parallelism here: spawning a Python worker per
    core costs more than it saves on small batches (measured 2x slower
    on the test corpus), and at scale the source has enough splits.
    A caller with a single-split source and a heavy codec spreads
    first; `spread()` always adds its exchange, so a many-split
    source should not."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            feats = [decode_image(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "width": pd.array([f["width"] for f in feats], dtype="int32"),
                    "height": pd.array([f["height"] for f in feats], dtype="int32"),
                    "n_frames": pd.array([f["n_frames"] for f in feats], dtype="int32"),
                    "checksum": [
                        hashlib.md5(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, orig_width int, orig_height int, "
    "width int, height int, payload binary"
)


def fit_box(w: int, h: int, target_w: int, target_h: int) -> tuple[int, int]:
    """Integer-exact aspect-preserving fit of (w, h) into the target
    box: never upscale; the binding side is chosen by
    cross-multiplication and the other side scales by floor division.
    Pure function so the geometry is property-testable and replayable
    in SQL (the DuckDB oracle of q_image_resize is this same CASE)."""
    if w <= target_w and h <= target_h:
        return w, h
    if w * target_h >= h * target_w:  # width-bound
        return target_w, max(1, h * target_w // w)
    return max(1, w * target_h // h), target_h


def resize_images(
    media: DataFrame,
    target_width: int = 224,
    target_height: int = 224,
) -> DataFrame:
    """Aspect-preserving fit-to-box resize plumbing (the standard
    vision-model preprocessing step).  The pixel resample itself is the
    stubbed codec call; the batch shape, schema contract and the
    *integer-exact* geometry are the real architecture:

    - never upscale (scale capped at 1);
    - the binding dimension is chosen by cross-multiplication
      (`w*th >= h*tw` -> width-bound), and the other side scales by
      integer floor division — no floating-point anywhere, so the
      geometry is bit-reproducible in any engine (the DuckDB oracle
      replays it in SQL).

    The resized payload is the deterministic stub (byte truncation to
    the new pixel count); a real codec swaps in at the same seam as
    `decode_image`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: dict[str, list[Any]] = {
            "doc_id": [], "orig_width": [], "orig_height": [],
            "width": [], "height": [], "payload": [],
        }
        for pdf in it:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_image(payload)
                w, h = meta["width"], meta["height"]
                nw, nh = fit_box(w, h, target_width, target_height)
                rows["doc_id"].append(doc_id)
                rows["orig_width"].append(w)
                rows["orig_height"].append(h)
                rows["width"].append(nw)
                rows["height"].append(nh)
                rows["payload"].append(bytes(payload)[: nw * nh])
        out = pd.DataFrame(rows)
        for c in ("orig_width", "orig_height", "width", "height"):
            out[c] = pd.array(out[c], dtype="int32")
        yield out

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


def audio_windows(media: DataFrame, window_ms: int = 250) -> DataFrame:
    """Fixed-length window explosion for audio-typed payloads — the
    audio twin of `frame_sample` (speech pipelines chunk waveforms into
    fixed windows before feature extraction).  The PCM decode is the
    stub: a payload of n bytes pseudo-decodes to 2n samples at 16 kHz,
    so duration_ms = 2n*1000 // 16000 = n // 8 — integer math end to
    end, deterministic and oracle-checkable.  One output row per
    window; rows never shuffle (pure per-row explosion)."""
    # 2n samples at 16 kHz -> n // 8 ms, as pure integer division
    # (`div`), so no floating point can creep into the geometry.
    duration_ms = F.expr("octet_length(payload) div 8").cast("long")
    step = max(int(window_ms), 1)
    with_dur = media.select(
        "doc_id", duration_ms.alias("duration_ms")
    ).filter(F.col("duration_ms") > 0)
    return with_dur.select(
        "doc_id",
        "duration_ms",
        F.posexplode(
            F.sequence(F.lit(0).cast("long"), F.col("duration_ms") - 1, F.lit(step).cast("long"))
        ).alias("window_idx", "start_ms"),
    ).select("doc_id", "duration_ms", F.col("window_idx").cast("int").alias("window_idx"), "start_ms")


def frame_sample(media: DataFrame, every_nth: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video-typed payloads: one output row
    per sampled frame index.  The decode is stubbed; the explode shape
    (row -> frames) and its partitioning cost model are the real
    architecture being exercised."""
    feats = extract_media_features(media)
    return feats.select(
        "doc_id",
        "checksum",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_frames") - 1, F.lit(0)),
                F.lit(max(every_nth, 1)),
            )
        ).alias("frame_idx"),
    ).filter(F.col("n_frames") > 0)


def phash64(
    media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """dHash-style 64-bit perceptual fingerprint over the deterministic
    fake decode: the payload's bytes are reduced to an 8x9 "grayscale
    grid" (72 near-equal byte chunks, chunk brightness = exact byte
    sum), and bit r*8+c is set iff grid[r][c] < grid[r][c+1] — the
    classic difference-hash gradient, computed on the stand-in pixels
    the codec stub exposes.  Swapping in a real decoder changes only
    the grid construction (resize to 9x8 grayscale), not the bit
    packing or anything downstream.

    Arrow-batched mapInPandas, zero shuffle, numpy prefix-sum chunking
    (empty chunks sum to 0 — matching the oracle's COALESCE, unlike
    `np.add.reduceat`, which repeats the boundary element).  The
    packed value is two's-complement int64, so `bit_count(xor(...))`
    Hamming distances behave identically in Spark, DuckDB, and any
    BIGINT store the fingerprints land in."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo_idx = np.arange(72)
        hi_idx = np.arange(1, 73)
        out_hashes: list[int]
        for pdf in it:
            out_hashes = []
            for p in pdf[payload_col]:
                b = b"" if p is None else bytes(p)
                n = len(b)
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                csum = np.concatenate(([0], np.cumsum(arr)))
                s = csum[(hi_idx * n) // 72] - csum[(lo_idx * n) // 72]
                grid = s.reshape(8, 9)
                bits = (grid[:, :8] < grid[:, 1:]).flatten()
                v = 0
                for k in range(64):
                    if bits[k]:
                        v |= 1 << k
                if v >= 1 << 63:
                    v -= 1 << 64
                out_hashes.append(v)
            yield pd.DataFrame({id_col: pdf[id_col], "phash": out_hashes})

    return media.select(id_col, payload_col).mapInPandas(
        batches, schema=f"{id_col} long, phash long"
    )
