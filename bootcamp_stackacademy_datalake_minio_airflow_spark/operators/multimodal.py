"""Multimodal column handling (extension).

Images/audio/video are opaque ``binary`` columns. ``extract_features``
is the Spark-side plumbing — a narrow projection, a repartition to
decode parallelism, Arrow-batched mapInPandas — and it is real and
tested. Its per-asset extractor is honestly STUBBED: a real
image/audio model needs libraries absent from this container, so the
extractor emits a clearly-marked deterministic fake derived from the
bytes, or raises NotImplementedError in strict mode. The formats
decodable with the Python stdlib (PNG: zlib inflate + scanline
defilter; WAV: RIFF/PCM parsing) have REAL codecs in
operators/codecs.py, gated by the registry's round-trip queries.

Scale notes: media rows are large (MBs); mapInPandas streams Arrow
record batches so an executor never holds a whole partition of raw
media in Python memory at once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..engine import round_half_away

FEATURE_DIM = 8

#: features are DOUBLE, not float32: the fake extractor's byte-fold is
#: integer-ratio math that an independent engine (the DuckDB oracle)
#: replays bit-for-bit in float64 — a float32 round-trip would inject
#: representation noise into the parity hash. A real embedding
#: extractor would justify float32 (half the bytes) once features stop
#: being oracle-replayable anyway.
FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)


def _fake_features(data: bytes | None, dim: int = FEATURE_DIM) -> list[float]:
    """DETERMINISTIC FAKE decode: byte-histogram-ish features.

    Stands in for a real image/audio feature extractor; replace the
    body with e.g. PIL/torchvision when the libs exist. Keeping it
    deterministic makes the distributed plumbing testable.
    """
    if not data:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(data):
        acc[i % dim] += b
    total = float(sum(acc)) or 1.0
    return [round_half_away(a / total, 1e6) for a in acc]


def extract_features(
    df: DataFrame, strict: bool = False, min_parallelism: int | None = None
) -> DataFrame:
    """Feature-extract each asset via Arrow-batched mapInPandas.

    ``strict=True`` raises NotImplementedError at executor time —
    marking the decode as a stub — instead of emitting fake features.

    Decode is the expensive stage, so parallelism must come from the
    DATA layout, not the file layout: a table written as one fat file
    scans as one partition and would decode on a single Python worker.
    Repartition up to ``min_parallelism`` (default: the cluster's
    defaultParallelism) before the decode when the scan is narrower.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "media decoding requires an image/audio library not present "
                    "in this environment; wire a real decoder here"
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": pdf["data"].map(lambda d: 0 if d is None else len(d)),
                    "features": pdf["data"].map(_fake_features),
                }
            )

    # always repartition to the decode parallelism target: checking the
    # current partition count via df.rdd would force a DataFrame->RDD
    # conversion plan, and one exchange is cheap next to the Python
    # decode stage it feeds (media scans are few-large-files, so the
    # rebalance is usually required anyway)
    narrow = df.select("asset_id", "data")
    target = min_parallelism or narrow.sparkSession.sparkContext.defaultParallelism
    return narrow.repartition(target).mapInPandas(_extract, FEATURES_SCHEMA)
