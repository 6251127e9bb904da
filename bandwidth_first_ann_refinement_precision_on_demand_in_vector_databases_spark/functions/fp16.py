"""Bit-accurate FP16 precision reduction (SURVEY §2.2 P2–P7).

The reference's core data transform: view each value as an IEEE-754
half (1 sign / 5 exponent / 10 mantissa, bias 15), truncate — never
round — the low mantissa (and optionally low exponent) bits, and keep
the 5-bit exponent field as a side table from which a *no-peek*
per-coordinate error radius Δ is derived (``ANNCode.py:165-258``,
paper §3.1.2 Eq.(7)).

Spark has no Column-level float bit-reinterpret, so this is one of the
two places the engine deliberately leaves the JVM (SURVEY §2.10): a
vectorized NumPy kernel wrapped in an Arrow-batched pandas UDF. The
kernel differs from the reference's split/truncate/combine pipeline:
because truncation-with-zero-carry only ever *clears* low bits, the
whole transform is a single bitwise AND mask on the u16 words.

At scale the reduced/exponent columns are materialized once per
(keep_m, keep_e) config and persisted as separate Parquet columns —
the disaggregated-page layout of paper §3.3 — so refinement queries
never decode FP16 at query time and the cheap pass never reads the
full-precision column (Parquet column pruning).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FP16_EXP_BITS = 5
FP16_EXP_BIAS = 15
FP16_MAN_BITS = 10


def byte_model(dim: int, keep_m: int, keep_e: int = FP16_EXP_BITS) -> tuple[float, float]:
    """``(b_full, b_red)``: bytes per vector of a full fp16 fetch
    (``16·D/8``) and of the reduced pass (``(1+e+m)·D/8``, sign +
    kept exponent + kept mantissa bits; ``ANNCode.py:316-319``). The
    one definition the engine's metrics and the DuckDB oracles share."""
    return 16.0 * dim / 8.0, (1 + keep_e + keep_m) * dim / 8.0


# ---------------------------------------------------------------------------
# NumPy kernels (vectorized over (n, d) batches)
# ---------------------------------------------------------------------------

def truncation_mask(keep_m: int, keep_e: int = FP16_EXP_BITS) -> np.uint16:
    """AND-mask clearing the dropped low mantissa and low exponent bits.

    Equivalent to the reference's field-split → shift-truncate →
    repack round trip (``ANNCode.py:173-199``) because the carry is
    always zero on the truncation path (``ANNCode.py:198``).
    """
    assert 0 <= keep_m <= FP16_MAN_BITS
    assert 0 <= keep_e <= FP16_EXP_BITS
    drop_m = FP16_MAN_BITS - keep_m
    drop_e = FP16_EXP_BITS - keep_e
    mask = 0xFFFF
    mask &= ~((1 << drop_m) - 1) & 0xFFFF if drop_m else 0xFFFF
    if drop_e:
        mask &= ~(((1 << drop_e) - 1) << FP16_MAN_BITS) & 0xFFFF
    return np.uint16(mask)


def reduce_precision_np(
    x: np.ndarray, keep_m: int, keep_e: int = FP16_EXP_BITS
) -> tuple[np.ndarray, np.ndarray]:
    """float32 array → (reduced float32, kept 5-bit exponent as uint8).

    ``keep_e=5`` reproduces ``reduce_precision_keep_exp``
    (``ANNCode.py:202-216``); smaller ``keep_e`` reproduces
    ``reduce_precision_keep_both`` (``ANNCode.py:219-242``). The
    float32→float16 conversion rounds to nearest-even (NumPy cast),
    after which truncation clears bits.
    """
    u = np.ascontiguousarray(x, dtype=np.float32).astype(np.float16).view(np.uint16)
    u2 = u & truncation_mask(keep_m, keep_e)
    reduced = u2.view(np.float16).astype(np.float32)
    kept_exp = ((u2 >> FP16_MAN_BITS) & np.uint16(0x1F)).astype(np.uint8)
    return reduced, kept_exp


def fp16_round_np(x: np.ndarray) -> np.ndarray:
    """float32 → nearest float16 → float32 (the reference's ``DBf``
    ground-truth corpus, ``ANNCode.py:825``)."""
    return np.ascontiguousarray(x, dtype=np.float32).astype(np.float16).astype(np.float32)


def delta_from_exp_np(kept_exp: np.ndarray, keep_m: int) -> np.ndarray:
    """No-peek Δ: 2^(e−bias−m') for normals, 2^(1−bias−m') for
    subnormals (``ANNCode.py:245-258``)."""
    e = kept_exp.astype(np.int32)
    return np.where(
        e == 0,
        np.float32(2.0 ** (1 - FP16_EXP_BIAS - keep_m)),
        np.exp2((e - (FP16_EXP_BIAS + keep_m)).astype(np.float32)),
    ).astype(np.float32)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def reduce_precision_udf(keep_m: int, keep_e: int = FP16_EXP_BITS):
    """pandas UDF: ARRAY<FLOAT> → STRUCT<red ARRAY<FLOAT>, kept_exp ARRAY<SMALLINT>>."""

    @F.pandas_udf("struct<red: array<float>, kept_exp: array<smallint>>")
    def _reduce(vec: pd.Series) -> pd.DataFrame:
        mat = np.stack(vec.to_numpy()).astype(np.float32)
        red, kept = reduce_precision_np(mat, keep_m, keep_e)
        return pd.DataFrame(
            {"red": list(red), "kept_exp": [row.astype(np.int16) for row in kept]}
        )

    return _reduce


def fp16_round_udf():
    """pandas UDF: ARRAY<FLOAT> → ARRAY<FLOAT> rounded through fp16."""

    @F.pandas_udf("array<float>")
    def _round(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float32)
        return pd.Series(list(fp16_round_np(mat)))

    return _round


def with_reduced_precision(
    df: DataFrame,
    keep_m: int,
    keep_e: int = FP16_EXP_BITS,
    vec_col: str = "embedding",
    prefix: str = "",
) -> DataFrame:
    """Append ``{prefix}red`` and ``{prefix}kept_exp`` columns (P5/P6).

    One Arrow round trip per batch; all downstream Δ/cushion math is
    Column-expression (``delta_from_exp_col``), so this is the only
    Python hop in the reduced-corpus build.
    """
    packed = reduce_precision_udf(keep_m, keep_e)(F.col(vec_col))
    return df.withColumn("__rp", packed).select(
        "*",
        F.col("__rp.red").alias(f"{prefix}red"),
        F.col("__rp.kept_exp").alias(f"{prefix}kept_exp"),
    ).drop("__rp")


def with_fp16_rounded(df: DataFrame, vec_col: str = "embedding", out_col: str = "vec16") -> DataFrame:
    """Append the fp16-rounded full-precision column (the reference's
    ground-truth value space, ``ANNCode.py:825``)."""
    return df.withColumn(out_col, fp16_round_udf()(F.col(vec_col)))
