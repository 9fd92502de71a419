"""Multimodal columns: opaque binary payloads + typed metadata.

The container ships no image/audio codecs, so *decode* is stubbed
(import-gated, raises NotImplementedError without the libs — see
``decode_image``), but everything Spark-side is real and tested: the
binary column, the metadata struct, partitioning, and the
Arrow-batched ``mapInPandas`` feature-extraction path (the shape a
real CLIP/whisper featurizer plugs into: bytes in → fixed-width
vector out, one Arrow batch at a time, no driver involvement).

The demo featurizer is a deterministic byte histogram (mod-16
buckets), which doubles as the oracle contract: payloads are UTF-8
bytes of ASCII-cleaned text, so DuckDB can recompute the histogram
from codepoints and value-check the whole pipeline including the
Pandas UDF plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 16
_KINDS = ("image", "audio", "video")


def build_media_table(docs: DataFrame) -> DataFrame:
    """Derive a media table from ``documents``: payload = UTF-8 bytes
    of the ASCII-cleaned text, kind round-robins, metadata is typed.

    (Stand-in for a real asset store; the driver test dirs carry no
    binary fixtures.)
    """
    clean = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]),
        (F.col("doc_id") % len(_KINDS) + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(clean, "utf-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Typed-metadata projection over binary columns (no decode)."""
    return media.select(
        "media_id", "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
    )


_FEATURE_SCHEMA = "media_id long, " + ", ".join(
    f"b{i} long" for i in range(N_BUCKETS))


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched featurization: bytes → mod-16 byte histogram.

    ``mapInPandas`` so batches stream through Python with bounded
    memory; at 100 TB this is the pattern for any Python featurizer —
    repartition upstream governs batch parallelism, and the output is
    a narrow fixed-width frame.
    """
    import numpy as np

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                # A 0-row frame would build object-typed columns that
                # Arrow can't map to the declared longs — the same
                # hazard the minhash signature generator guards.
                continue
            hists = [
                np.bincount(
                    # NULL payload scores as empty bytes (all-zero
                    # histogram) instead of crashing the whole job
                    # with a TypeError inside the Arrow worker
                    # (unreachable from build_media_table, whose
                    # payloads are encode() of non-null text).
                    np.frombuffer(p if p is not None else b"",
                                  dtype=np.uint8) % N_BUCKETS,
                    minlength=N_BUCKETS,
                )
                for p in pdf["payload"]
            ]
            out = pd.DataFrame(
                hists, columns=[f"b{i}" for i in range(N_BUCKETS)])
            out.insert(0, "media_id", pdf["media_id"].to_numpy())
            yield out

    return media.select("media_id", "payload").mapInPandas(
        featurize, schema=_FEATURE_SCHEMA)


FRAME_BYTES = 32
FRAME_STRIDE = 4


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling over opaque binary payloads: treat the payload
    as ``FRAME_BYTES``-wide frames, keep every ``FRAME_STRIDE``-th one,
    fingerprint each kept frame.

    The video-pipeline shape (decode-free): a real sampler swaps the
    fixed-width slice for codec frame boundaries, but the Spark
    mechanics are identical — per-row frame-index explosion, a binary
    slice per kept frame, narrow (media_id, frame_idx, digest) output.
    All JVM expressions (sequence/explode/substring/md5 on binary), so
    the explosion and hashing run in codegen with no Python hop.
    """
    df = media.select(
        "media_id", "payload",
        F.floor(F.length("payload") / F.lit(FRAME_BYTES))
         .cast("long").alias("nf"),
    ).where(F.col("nf") >= 1)  # guard: sequence() counts DOWN if end < start
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("nf") - 1, F.lit(FRAME_STRIDE)))
         .alias("frame_idx"),
        "payload",
    ).select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.md5(F.expr(
            f"substring(payload, frame_idx * {FRAME_BYTES} + 1,"
            f" {FRAME_BYTES})")).alias("frame_md5"),
    )


def decode_image(payload: bytes) -> object:
    """Decode an image payload. STUB: the runtime image libraries are
    not present in this environment; the Spark-side plumbing
    (schema/partitioning/UDF batch shape) is exercised via
    :func:`extract_features` instead."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires Pillow, which is not available in "
            "this environment") from e
    import io

    import PIL.Image as Image
    return Image.open(io.BytesIO(payload))
