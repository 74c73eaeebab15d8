"""Spark's `bit_xor(xxhash64(*))` of a result, computed in Python.

Lets the benchmark turn a DuckDB oracle result into the (count, hash)
pair Spark's hash action returns for a correct result, so every Spark
execution is compared with the oracle without collecting it. Mirrors
`org.apache.spark.sql.catalyst.expressions.XXH64` (standard XXH64,
little-endian) and `XxHash64`'s per-type dispatch, seed 42 chained
through the columns, NULL leaving the running hash unchanged.
"""

from __future__ import annotations

import decimal
import struct

from pyspark.sql import functions as F
from pyspark.sql import types as T

P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    return h ^ (h >> 32)


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * P2) & M, 31) * P1) & M


def hash_int(v: int, seed: int) -> int:
    h = (seed + P5 + 4) & M
    h ^= ((v & 0xFFFFFFFF) * P1) & M
    return _fmix((_rotl(h, 23) * P2 + P3) & M)


def hash_long(v: int, seed: int) -> int:
    h = (seed + P5 + 8) & M
    h ^= (_rotl((v * P2) & M, 31) * P1) & M
    return _fmix((_rotl(h, 27) * P1 + P4) & M)


def hash_bytes(b: bytes, seed: int) -> int:
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M, (seed + P2) & M, seed, (seed - P1) & M]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", b, i)
            v = [_round(a, x) for a, x in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M
        for a in v:
            h = ((h ^ _round(0, a)) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i <= n - 8:
        h ^= _round(0, struct.unpack_from("<Q", b, i)[0])
        h = (_rotl(h, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", b, i)[0] * P1) & M
        h = (_rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (b[i] * P5) & M
        h = (_rotl(h, 11) * P1) & M
        i += 1
    return _fmix(h)


def _value(v, t: T.DataType, seed: int) -> int:
    if v is None:
        return seed
    if isinstance(t, T.BooleanType):
        return hash_int(int(v), seed)
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType)):
        return hash_int(v, seed)
    if isinstance(t, T.LongType):
        return hash_long(v, seed)
    if isinstance(t, T.DoubleType):
        v = 0.0 if v == 0.0 else float(v)  # Spark hashes -0.0 as 0.0
        return hash_long(struct.unpack("<q", struct.pack("<d", v))[0], seed)
    if isinstance(t, T.DecimalType) and t.precision <= 18:
        return hash_long(int(decimal.Decimal(v).scaleb(t.scale)), seed)
    if isinstance(t, T.StringType):
        return hash_bytes(str(v).encode(), seed)
    raise TypeError(f"no Spark xxhash64 mirror for {t}")


def result_hash(schema: T.StructType, rows) -> tuple[int, int]:
    """(count, bit_xor(xxhash64(*))) of `rows`, columns in `schema` order."""
    acc = 0
    for r in rows:
        h = 42
        for v, f in zip(r, schema.fields):
            h = _value(v, f.dataType, h)
        acc ^= h
    return len(rows), (acc - (1 << 64) if acc >> 63 else acc)


def spark_hash(df) -> tuple[int, int]:
    """The same pair, computed by Spark: one action over the full result."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(*))").alias("h")
    ).first()
    return r["n"], r["h"]
