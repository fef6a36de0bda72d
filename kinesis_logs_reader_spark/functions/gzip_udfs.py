"""Gzip scalar kernels as Arrow-batched pandas UDFs, for byte columns.

The reference gunzips each Kinesis record's ``Data`` blob row-at-a-time
in Python (reference kinesis_logs_reader/utils.py:18-21, called from
kinesis_logs_reader.py:87-88). Spark has no builtin SQL gunzip for a
binary column, so these kernels serve the ingest paths whose blobs
arrive as bytes: the Kinesis connector's ``data`` column and the boto3
drain in ``reader.py``. They are ``pandas_udf``s (Arrow batch transfer,
one Python call per ~10k rows) rather than row-at-a-time udfs. File
replay does not use them: it gunzips in the JVM through the ``text``
source (``sources/envelope.py``).

``gzip_blob`` and ``gzip_compress`` are the test-only inverses
(reference utils.py:24-29), used by fixture builders.
"""

from __future__ import annotations

import gzip
import io

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType


@F.pandas_udf(StringType())
def gunzip_text(data: pd.Series) -> pd.Series:
    """gunzip(blob) -> utf-8 str. Mirrors reference utils.py:18-21.

    Strict like the reference (no try/except anywhere in its package):
    a corrupt blob fails the task. Use ``gunzip_text_safe`` for the
    PERMISSIVE pipeline.
    """
    return data.map(lambda b: gzip.decompress(bytes(b)).decode("utf-8"))


@F.pandas_udf(StringType())
def gunzip_text_safe(data: pd.Series) -> pd.Series:
    """PERMISSIVE gunzip: corrupt/undecodable blobs -> null instead of
    failing the task. At 100 TB a single truncated record must not
    kill a 6-hour job; a null blob yields no rows downstream."""

    def _safe(b) -> str | None:
        if b is None:
            return None
        try:
            return gzip.decompress(bytes(b)).decode("utf-8")
        except (OSError, EOFError, UnicodeDecodeError):
            return None

    return data.map(_safe)


@F.pandas_udf(BinaryType())
def gunzip_blob(data: pd.Series) -> pd.Series:
    """gunzip(blob) -> raw bytes."""
    return data.map(lambda b: gzip.decompress(bytes(b)))


@F.pandas_udf(BinaryType())
def gzip_blob(data: pd.Series) -> pd.Series:
    """gzip(bytes) -> blob; test-only inverse (reference utils.py:24-29).

    mtime pinned to 0 so output bytes are deterministic.
    """

    def _gz(raw: bytes) -> bytes:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as fobj:
            fobj.write(bytes(raw))
        return buf.getvalue()

    return data.map(_gz)


def gzip_compress(raw: bytes) -> bytes:
    """Driver-side helper for building fixtures (deterministic mtime=0)."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as fobj:
        fobj.write(raw)
    return buf.getvalue()
