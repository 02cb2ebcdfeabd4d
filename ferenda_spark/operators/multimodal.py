"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
a typed metadata struct. The Spark-side plumbing — schema, Arrow batch
shape, partition-preserving ``mapInPandas`` signature — is real and
tested; the codec step is a deterministic decoder (``fake_decode``)
that derives the metadata from the bytes alone, so tests and oracles
are stable.  No image/audio library is shipped, so no real decoder
exists.

No reference counterpart (ferenda's nearest analog is its PDF/Word
binary intermediates, /root/reference/ferenda/pdfreader.py,
wordreader.py — same pattern: binary in, typed rows out).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "media_id long, n_bytes long, content_md5 string, kind string, "
    "width int, height int, duration_ms int"
)

KINDS = ["image", "audio", "video"]


def attach_media(docs: DataFrame) -> DataFrame:
    """Synthesize a binary media column from text bytes (deterministic
    stand-in for a real payload column; production input would carry
    the bytes directly)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))


def fake_decode(payload: bytes) -> dict:
    """Deterministic fake codec: metadata from the bytes alone.
    kind cycles by byte-length mod 3; dimensions/duration are simple
    byte-length arithmetic — reproducible anywhere (incl. ANSI SQL)."""
    n = len(payload)
    kind = KINDS[n % 3]
    return {
        "n_bytes": n,
        "content_md5": hashlib.md5(payload).hexdigest(),
        "kind": kind,
        "width": (n % 640) + 16 if kind in ("image", "video") else None,
        "height": (n % 480) + 16 if kind in ("image", "video") else None,
        "duration_ms": (n * 7) % 100000 if kind in ("audio", "video") else None,
    }


def media_metadata(media: DataFrame) -> DataFrame:
    """media(media_id, payload:binary) → typed metadata rows, decoded
    by :func:`fake_decode`.

    Arrow-batched ``mapInPandas``: each batch is a pandas DataFrame of
    byte payloads (the same shape a real image decode stage uses).
    """
    src = media.select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                meta = fake_decode(bytes(payload))
                meta["media_id"] = int(mid)
                out.append(meta)
            yield pd.DataFrame(out, columns=[
                "media_id", "n_bytes", "content_md5", "kind", "width",
                "height", "duration_ms"])

    return src.mapInPandas(run, schema=MEDIA_META_SCHEMA)
