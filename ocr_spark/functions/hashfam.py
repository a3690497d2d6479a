"""Engine-neutral md5 hash family for MinHash and the IVF pad codebook.

Everything here is derived from md5 so that BOTH engines (Spark Catalyst
and the DuckDB SQL oracle) can compute bit-identical values:

  * base60(s)   = int(md5(s).hexdigest()[:15], 16)          -- 60-bit uint
    Spark : conv(substring(md5(s), 1, 15), 16, 10) :: long
    DuckDB: ('0x' || substr(md5(s), 1, 15)) :: BIGINT
  * MinHash_i(s)= (a_i * (base60(s) % P) + b_i) % P with P = 2^31 - 1 and
    (a_i, b_i) themselves md5-derived constants.  a_i * base < 2^62 so the
    arithmetic never overflows a signed 64-bit integer in either engine.
  * ivf centroid[i][d] = 2 * base60(f"ivf:{i}:{d}") / 2^60 - 1 in [-1, 1),
    row-normalized: the start and pad rows of a trained IVF codebook
    (operators/similarity.py _ivf_centroids).

The affine-over-one-md5 scheme exists for speed as much as neutrality:
round 1 computed 64 independent xxhash64(string) aggregates per shingle
row (50 s at sf0.1); here each shingle is md5-hashed ONCE and the 64
signature lanes are two integer ops each, all inside whole-stage codegen.

Reference parity: the reference keys caches by md5 of content
(reference src/ocr/utils/cache.py:15, ocr.share.js:33); md5 as the
canonical cross-engine hash keeps that convention.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime): (P-1)^2 + P < 2^62, so a*h+b stays in int64.
MINHASH_P = 2_147_483_647

TWO_60 = 1 << 60


def md5_base60(s: str) -> int:
    """First 15 hex chars of md5 as an unsigned 60-bit int (Python side)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (a_i in [1, P-1], b_i in [0, P-1])."""
    return [
        (
            md5_base60(f"mh:a:{i}") % (MINHASH_P - 1) + 1,
            md5_base60(f"mh:b:{i}") % MINHASH_P,
        )
        for i in range(num_hashes)
    ]


# --------------------------------------------------------------------------
# Spark column builders
# --------------------------------------------------------------------------

def spark_base60(col: Column | str) -> Column:
    """base60 of a string column, reduced mod P (Catalyst, codegen'd)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )


# --------------------------------------------------------------------------
# DuckDB SQL fragment builders (used by __spark_entry__.oracle_sql)
# --------------------------------------------------------------------------

def sql_base60(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT % {MINHASH_P})"

