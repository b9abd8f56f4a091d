"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, decoded via mapInPandas.

The Spark-side contract is real (schemas, partition/batch shapes,
mapInPandas signatures); the payloads use a deterministic synthetic
container because no image/audio codec library is a dependency. A real
codec would replace the container parse in ``_decode`` and nothing else
changes.

Synthetic media format (deterministic, self-describing):
    b"SYNIMG:<width>x<height>:" + width*height bytes (row-major gray)
    b"SYNAUD:<rate>:<n>:"       + n bytes (u8 samples)
    b"SYNVID:<fps>:<frames>:<w>x<h>:" + frames*(w*h) bytes
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

MEDIA_SCHEMA = StructType([
    StructField("media_id", IntegerType()),
    StructField("kind", StringType()),          # image | audio | video
    StructField("payload", BinaryType()),       # opaque encoded bytes
    StructField("mime", StringType()),
])


def _decode(payload: bytes) -> dict:
    """Parse the synthetic container. Real codecs would slot in here."""
    head, _, rest = bytes(payload).partition(b":")
    if head == b"SYNIMG":
        dims, _, px = rest.partition(b":")
        w, h = (int(x) for x in dims.split(b"x"))
        arr = np.frombuffer(px, dtype=np.uint8)[: w * h]
        return {"kind": "image", "width": w, "height": h, "frames": 1,
                "px_sum": int(arr.sum()), "px_n": int(arr.size),
                "dur_num": 0, "dur_den": 1}
    if head == b"SYNAUD":
        rate_b, _, rest2 = rest.partition(b":")
        n_b, _, samples = rest2.partition(b":")
        rate, n = int(rate_b), int(n_b)
        arr = np.frombuffer(samples, dtype=np.uint8)[:n]
        return {"kind": "audio", "width": 0, "height": 0, "frames": n,
                "px_sum": int(arr.sum()), "px_n": int(arr.size),
                "dur_num": n, "dur_den": rate}
    if head == b"SYNVID":
        fps_b, _, rest2 = rest.partition(b":")
        fr_b, _, rest3 = rest2.partition(b":")
        dims, _, px = rest3.partition(b":")
        fps, frames = int(fps_b), int(fr_b)
        w, h = (int(x) for x in dims.split(b"x"))
        arr = np.frombuffer(px, dtype=np.uint8)[: frames * w * h]
        return {"kind": "video", "width": w, "height": h, "frames": frames,
                "px_sum": int(arr.sum()), "px_n": int(arr.size),
                "dur_num": frames, "dur_den": fps}
    raise NotImplementedError(
        "real media decoding requires PIL/libav — not in this container")


def synthesize_media_from_ids(df: DataFrame,
                              id_col: str = "doc_id") -> DataFrame:
    """Deterministic FORMULA media synthesizer (no RNG): row ``i`` gets an
    image/audio/video payload by ``i % 3`` whose byte ``j`` is
    ``(i·a + j·b) mod 256`` with per-kind constants — so an external
    engine can recompute every decode statistic from (i, j) alone,
    which is what makes ``decode_stats`` driver-ORACLE-checkable rather
    than rows-only. Runs as the same streaming mapInPandas shape the
    real ingest would (payload bytes materialize only inside the Arrow
    batch); the container layout is the documented SYNIMG/SYNAUD/SYNVID
    codec, so the decode side exercises the identical parse path as
    network-fetched media would."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                i = int(did)
                k = i % 3
                if k == 0:
                    w, h = 8 + i % 5, 6 + i % 4
                    px = ((i * 31 + np.arange(w * h) * 7) % 256
                          ).astype(np.uint8)
                    rows.append((i, "image",
                                 f"SYNIMG:{w}x{h}:".encode() + px.tobytes(),
                                 "image/syn"))
                elif k == 1:
                    n = 100 + i % 50
                    px = ((i * 17 + np.arange(n) * 13) % 256
                          ).astype(np.uint8)
                    rows.append((i, "audio",
                                 f"SYNAUD:8000:{n}:".encode() + px.tobytes(),
                                 "audio/syn"))
                else:
                    fr = 4 + (i // 3) % 3
                    px = ((i * 13 + np.arange(fr * 16) * 11) % 256
                          ).astype(np.uint8)
                    rows.append((i, "video",
                                 f"SYNVID:5:{fr}:4x4:".encode()
                                 + px.tobytes(), "video/syn"))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA])

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


STATS_SCHEMA = StructType([
    StructField("media_id", IntegerType()),
    StructField("kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("frames", IntegerType()),
    StructField("duration_micros", LongType()),
    StructField("mean_micro", LongType()),
])


def decode_stats(df: DataFrame) -> DataFrame:
    """Decode + per-item stats in EXACT fixed-point: mean intensity as
    ``(Σpx · 10^6) div n`` and duration as floor micros, all integer
    arithmetic — no float representation ever reaches the output, so the
    result value-hashes identically cross-engine (the pack_chunks
    lesson). Same streaming mapInPandas decode path; real codecs slot
    into ``_decode`` unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                m = _decode(payload)
                rows.append({
                    "media_id": int(mid), "kind": m["kind"],
                    "width": m["width"], "height": m["height"],
                    "frames": m["frames"],
                    "duration_micros":
                        (m["dur_num"] * 1_000_000) // m["dur_den"]
                        if m["dur_den"] else 0,
                    "mean_micro":
                        (m["px_sum"] * 1_000_000) // m["px_n"]
                        if m["px_n"] else 0,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in STATS_SCHEMA])

    return df.select("media_id", "payload").mapInPandas(run, STATS_SCHEMA)

