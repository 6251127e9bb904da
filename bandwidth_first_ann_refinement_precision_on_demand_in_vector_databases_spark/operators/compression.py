"""Bit-plane packing + lossless-compression bytes model (SURVEY §2.4 A5).

The reference simulates its proposed storage layout by slicing the
kept FP16 bit planes (sign, exponent MSB→LSB, mantissa MSB→LSB) across
all scalars, packing to bytes, zlib-compressing, and reporting average
compressed bytes per vector (``ANNCode.py:668-704``, paper §3.3
Eq.(43), Fig.13). That number can override the reduced-pass bytes in
bandwidth accounting (``ANNCode.py:318``).

Engine note: Parquet-with-ZSTD *is* the engine's native realization of
this layout (columnar pages, per-column compression); this operator
exists for metric parity with the reference. Distributed semantics:
each partition packs and compresses its own bit-plane block and emits
``(compressed_bytes, n_vectors)``; the driver-side mean is therefore a
*per-partition* compression model — compression ratios converge to the
single-blob number as partitions grow, and ``exact=True`` reproduces
the reference's one-stream result for corpora that fit on the driver.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.fp16 import FP16_EXP_BITS, FP16_MAN_BITS, byte_model


def compressed_size(blob: bytes, codec: str = "zlib", level: int = 6) -> int:
    """Compressed byte count of ``blob`` under ``codec``. ``zlib`` is
    the reference's GZIP-family model (``ANNCode.py:693-704``); ``zstd``
    is the paper's second Fig.13 codec (§4.3 sweeps GZIP *and* ZSTD),
    provided by pyarrow's bundled Zstandard codec (present wherever
    pandas UDFs run — no extra dependency)."""
    if not blob:
        return 0
    if codec == "zlib":
        return len(zlib.compress(blob, level=max(0, min(9, level))))
    if codec == "zstd":
        import pyarrow as pa

        codec_obj = pa.Codec("zstd", compression_level=max(1, min(22, level)))
        return len(codec_obj.compress(blob))
    raise ValueError(f"unknown codec {codec!r} (want 'zlib' or 'zstd')")


def pack_bitplanes_np(u16: np.ndarray, keep_e: int, keep_m: int) -> bytes:
    """Bit-slice the kept planes of a u16 word array and pack to bytes.

    Plane order matches the reference layout (``ANNCode.py:668-690``):
    sign, then exponent planes MSB→LSB, then mantissa planes MSB→LSB.
    Implemented as one vectorized shift table rather than a per-plane
    python loop.
    """
    flat = u16.reshape(-1)
    shifts = [15]
    shifts += [FP16_MAN_BITS + FP16_EXP_BITS - 1 - b for b in range(keep_e)]
    shifts += [FP16_MAN_BITS - 1 - b for b in range(keep_m)]
    if not shifts:
        return b""
    planes = (flat[None, :] >> np.array(shifts, dtype=np.uint16)[:, None]) & np.uint16(1)
    return np.packbits(planes.astype(np.uint8), axis=1).tobytes()


def compressed_bytes_per_vec_np(
    mat: np.ndarray, keep_e: int, keep_m: int, level: int = 6, codec: str = "zlib"
) -> float:
    """Single-blob reference semantics (``avg_reduced_bytes_per_vec``,
    ``ANNCode.py:693-704``): one compressed stream over the packed
    planes / N; ``codec`` picks zlib (reference) or zstd (paper
    Fig.13's second codec)."""
    u16 = mat.astype(np.float16).view(np.uint16)
    blob = pack_bitplanes_np(u16, keep_e, keep_m)
    if not blob:
        return 0.0
    return compressed_size(blob, codec, level) / float(mat.shape[0])


def avg_reduced_bytes_per_vec(
    corpus: DataFrame,
    keep_e: int,
    keep_m: int,
    level: int = 6,
    vec_col: str = "embedding",
    exact: bool = False,
    codec: str = "zlib",
) -> float:
    """A5: average compressed bytes per vector of the reduced layout.

    ``exact=False`` (scalable default): per-partition pack+compress via
    ``mapInPandas``, aggregated with a plain sum — no collect of vector
    data, O(partitions) rows to the driver.
    ``exact=True``: reference-exact single compressed stream (collects
    the corpus; fixture/test scale only).
    """
    if exact:
        pdf = corpus.select(vec_col).toPandas()
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        return compressed_bytes_per_vec_np(mat, keep_e, keep_m, level, codec)

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mats = [
            np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            for pdf in batches
            if len(pdf)
        ]
        if not mats:
            return
        mat = np.concatenate(mats, axis=0)
        u16 = mat.astype(np.float16).view(np.uint16)
        blob = pack_bitplanes_np(u16, keep_e, keep_m)
        comp = compressed_size(blob, codec, level)
        yield pd.DataFrame({"comp_bytes": [comp], "n_vec": [mat.shape[0]]})

    totals = (
        corpus.select(vec_col)
        .mapInPandas(per_partition, schema="comp_bytes bigint, n_vec bigint")
        .agg(F.sum("comp_bytes").alias("b"), F.sum("n_vec").alias("n"))
        .collect()[0]
    )
    return float(totals["b"]) / float(totals["n"]) if totals["n"] else 0.0


def compression_stats_df(
    corpus: DataFrame,
    keep_e: int,
    keep_m: int,
    level: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """A5 as a declarative one-row result: compressed bytes/vector of
    the bit-plane reduced layout and its ratios against the raw
    reduced and full layouts, for BOTH paper §4.3 / Fig.13 codecs
    (GZIP-family zlib — the reference's model — and ZSTD, which is
    also what the engine's Parquet store compresses with natively).
    Distributed end to end — per-partition pack + both compressors in
    one pass over the data, one tiny aggregate; no vector data reaches
    the driver."""

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mats = [
            np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            for pdf in batches
            if len(pdf)
        ]
        if not mats:
            return
        mat = np.concatenate(mats, axis=0)
        u16 = mat.astype(np.float16).view(np.uint16)
        blob = pack_bitplanes_np(u16, keep_e, keep_m)
        yield pd.DataFrame(
            {
                "comp_bytes": [compressed_size(blob, "zlib", level)],
                "comp_bytes_zstd": [compressed_size(blob, "zstd", level)],
                "n_vec": [mat.shape[0]],
            }
        )

    b_full, b_red = byte_model(dim, keep_m, keep_e)
    totals = (
        corpus.select(vec_col)
        .mapInPandas(
            per_partition,
            schema="comp_bytes bigint, comp_bytes_zstd bigint, n_vec bigint",
        )
        .agg(
            F.sum("comp_bytes").alias("b"),
            F.sum("comp_bytes_zstd").alias("bz"),
            F.sum("n_vec").alias("n"),
        )
    )
    avg = F.col("b").cast("double") / F.col("n")
    avg_z = F.col("bz").cast("double") / F.col("n")
    return totals.select(
        F.col("n").alias("n_vec"),
        F.round(avg, 3).alias("avg_comp_bytes"),
        F.round(F.lit(b_red) / avg, 4).alias("ratio_vs_reduced"),
        F.round(F.lit(b_full) / avg, 4).alias("ratio_vs_full"),
        F.round(avg_z, 3).alias("avg_comp_bytes_zstd"),
        F.round(F.lit(b_red) / avg_z, 4).alias("ratio_vs_reduced_zstd"),
        F.round(F.lit(b_full) / avg_z, 4).alias("ratio_vs_full_zstd"),
    )
