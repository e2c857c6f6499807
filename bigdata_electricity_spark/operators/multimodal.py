"""Multimodal column plumbing (north-star extension).

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata, and implements the decode / feature-extract stages as
Arrow-batched ``mapInPandas`` operators. The actual media decode is
STUBBED (no image/audio libraries in this container — clearly marked
below); everything Spark-side is real and tested: schema, binary column
handling, UDF signatures, batch iteration, partitioning.

At scale: binary payloads stay in parquet (never shuffled unless needed);
metadata extraction is a map-only stage (no shuffle); decode parallelism
is per-partition with Arrow batches bounding memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, fake_width int, fake_height int, checksum string"
)


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Materialize an opaque binary ``payload`` column (stand-in for
    image/audio bytes).

    In production this column arrives from the source parquet; here it is
    synthesized from the text column (UTF-8 bytes) so the binary-column
    code path is exercised end-to-end.
    """
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas operator: binary payload → typed metadata row.

    STUB: a real deployment would decode the payload here (PIL/ffmpeg —
    not available in this container). The fake decode is deterministic
    arithmetic on the byte payload so the full Spark plumbing (Arrow
    batches in/out, schema contract, per-partition iteration) is real and
    oracle-checkable.
    """
    try:  # pragma: no cover - the real decoder is intentionally absent here
        import PIL.Image  # noqa: F401

        have_decoder = True
    except ImportError:
        have_decoder = False

    import hashlib

    for pdf in batches:
        payloads = pdf["payload"]
        if have_decoder:
            # Real decode path would go here; not reachable in this image.
            raise NotImplementedError("real media decode not wired in this container")
        n_bytes = payloads.map(len).astype("int32")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "fake_width": (n_bytes % 640).astype("int32"),
                "fake_height": (n_bytes % 480).astype("int32"),
                "checksum": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
            }
        )


def decode_media(df: DataFrame) -> DataFrame:
    """Run the (stubbed) decoder over the binary column, Arrow-batched."""
    return df.select("doc_id", "payload").mapInPandas(
        decode_media_batch, schema=DECODED_SCHEMA
    )


RESIZED_SCHEMA = "doc_id long, width int, height int, scale double"


def resize_metadata(df: DataFrame, target_width: int = 224) -> DataFrame:
    """Resize stage over decoded metadata (STUB — no PIL in container).

    A real deployment resizes pixel buffers here; the stub recomputes the
    target geometry (aspect-preserving to ``target_width``) so the
    two-stage mapInPandas pipeline — decode → resize, each an Arrow batch
    pass, no shuffle between them — is exercised end-to-end.
    """

    def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["fake_width"].clip(lower=1)
            scale = target_width / w
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": pd.Series([target_width] * len(pdf), dtype="int32"),
                "height": (pdf["fake_height"].clip(lower=1) * scale).round().astype("int32"),
                "scale": scale.round(6),
            })

    return df.mapInPandas(resize_batch, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_checksum string"


def frame_sample(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sampling stage for video-like payloads (STUB — no ffmpeg).

    Treats the binary payload as a sequence of fixed-size 'frames'
    (16-byte windows) and keeps every ``every_n``-th — the fan-out shape
    (one input row → K frame rows) of real frame extraction, with
    deterministic md5 per frame so results are verifiable. Arrow-batched;
    output fan-out stays inside the partition (no shuffle).
    """

    def sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n_frames = max(1, len(raw) // 16)
                for k in range(0, n_frames, every_n):
                    ids.append(doc_id)
                    idxs.append(k)
                    sums.append(hashlib.md5(raw[k * 16:(k + 1) * 16]).hexdigest())
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_checksum": pd.Series(sums, dtype="object"),
            })

    return df.select("doc_id", "payload").mapInPandas(
        sample_batch, schema=FRAMES_SCHEMA
    )
