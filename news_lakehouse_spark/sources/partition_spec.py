"""Hidden partitioning: Iceberg-style partition TRANSFORMS.

The reference pipeline partitions its silver tables by raw columns
(``gcs_bronze_to_silver.py`` partitionBy on publish date); Hive-style
identity partitioning makes the USER responsible for deriving and
filtering the partition column — the classic ``WHERE date(ts) = …``
full-scan footgun. Iceberg's answer is hidden partitioning: the table
SPEC declares a transform of a source column (``days(ts)``,
``bucket(16, id)``), writes derive the partition value automatically,
and scan planning derives partition pruning from predicates on the
RAW column — queries never mention the partition field at all.

This module is the transform vocabulary for
``VersionedParquetTable``'s partition specs. A spec entry is either a
plain column name (identity) or a transform string::

    ["o_orderstatus", "days(o_orderdate)", "bucket(8, o_custkey)",
     "truncate(4, o_clerk)"]

Transforms (names follow Iceberg; singular aliases accepted):

===============  ======================  ==========================
spec entry       partition field name    value
===============  ======================  ==========================
``col``          ``col``                 the column value
``years(c)``     ``c_year``              ``year(c)`` (int)
``months(c)``    ``c_month``             ``'yyyy-MM'`` string
``days(c)``      ``c_day``               ``'yyyy-MM-dd'`` string
``hours(c)``     ``c_hour``              ``'yyyy-MM-dd-HH'`` string
``bucket(n,c)``  ``c_bucket<n>``         ``pmod(xxhash64(c), n)``
``truncate(w,c)``  ``c_trunc<w>``        ints: ``c - pmod(c, w)``;
                                         strings: ``substring(c,1,w)``

Parameterized transforms carry the param in the field name so that a
``set_partition_spec`` changing only the param (``bucket(8,c)`` →
``bucket(16,c)``) can never alias old-param path segments into
new-param fragment tests — files written under a different param keep
a differently-named segment and are pruned conservatively (kept).
===============  ======================  ==========================

``bucket`` uses Spark's ``xxhash64`` (not Iceberg's murmur3): values
hash identically across this engine's write path, bloom sidecars and
driver-side probes, which is the property pruning needs; cross-ENGINE
layout compatibility is explicitly not a goal. Probes hash on the
driver (``spark_xxhash64``): a Spark-exact XXH64 of the bytes Spark
hashes for the column's type, so planning a point lookup runs no
Spark job. A type or value it cannot hash exactly yields ``None`` and
the file is kept.

Scale notes: every transform is a pure whole-stage-codegen expression
(no UDF, no shuffle beyond the write's own partitioning); time
transforms render as zero-padded strings so LEXICAL order equals
chronological order — that is what lets scan planning turn a raw
``BETWEEN`` on the source column into a fragment-string range test
without parsing dates (``fragment_tests``). ``truncate`` on ints and
``years`` compare numerically.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re
import struct
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

__all__ = [
    "PartitionField",
    "parse_partition_spec",
    "field_expr",
    "spec_exprs",
    "fragment_tests",
    "spark_xxhash64",
]

_TRANSFORM_RE = re.compile(r"^\s*(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)\s*$")

_SUFFIX = {
    "years": "year",
    "months": "month",
    "days": "day",
    "hours": "hour",
    "bucket": "bucket",
    "truncate": "trunc",
}
_ALIASES = {"year": "years", "month": "months", "day": "days", "hour": "hours"}
_NEEDS_PARAM = {"bucket", "truncate"}


class PartitionField(NamedTuple):
    """One parsed spec entry. ``name`` is the partition field name
    (path segment ``__p_<name>=…`` and key in partition dicts /
    filters); ``source`` the data column it derives from."""

    spec: str        # original spec string, stored in the manifest
    name: str        # derived field name, e.g. "o_orderdate_day"
    source: str      # source data column
    transform: str   # identity | years | months | days | hours | bucket | truncate
    param: int | None


def parse_partition_spec(spec: list[str] | None) -> list[PartitionField]:
    """Parse manifest/user spec strings; identity entries pass through
    (full backward compatibility with plain-column specs)."""
    fields: list[PartitionField] = []
    for s in spec or []:
        m = _TRANSFORM_RE.match(s)
        if not m:
            fields.append(PartitionField(s, s.strip(), s.strip(), "identity", None))
            continue
        t, param, col = m.group(1).lower(), m.group(2), m.group(3)
        t = _ALIASES.get(t, t)
        if t not in _SUFFIX:
            raise ValueError(
                f"unknown partition transform {m.group(1)!r} in {s!r}; "
                f"supported: {sorted(_SUFFIX)} (+ singular aliases)"
            )
        if t in _NEEDS_PARAM:
            if param is None:
                raise ValueError(f"{t} needs a width/count: {t}(N, col)")
            if int(param) < 1:
                raise ValueError(f"{t} width/count must be >= 1: {s!r}")
        elif param is not None:
            raise ValueError(f"{m.group(1)} takes one column argument: {s!r}")
        # Parameterized transforms encode the param in the field name
        # (bucket(8,c) -> c_bucket8, truncate(100,k) -> k_trunc100):
        # after a set_partition_spec that changes only the param, old
        # files keep segments derived under the OLD param, and a
        # same-named segment would let fragment tests compare new-param
        # test values against old-param derivations (silent wrong
        # pruning / missed merge overlap).  Distinct names make the
        # fragment matcher treat old-spec files conservatively (absent
        # segment = keep), which is always correct.
        suffix = _SUFFIX[t] + (param or "")
        fields.append(
            PartitionField(
                s, f"{col}_{suffix}", col, t,
                int(param) if param else None,
            )
        )
    names = [f.name for f in fields]
    if len(set(names)) != len(names):
        raise ValueError(f"partition spec has duplicate field names: {names}")
    return fields


def field_expr(f: PartitionField, dtype=None) -> Column:
    """The transform as a codegen expression over the source column.
    ``dtype`` (the source column's Spark type) is required only for
    ``truncate``, which is width-prefix on strings and
    floor-to-multiple on integers."""
    c = F.col(f.source)
    if f.transform == "identity":
        return c
    if f.transform == "years":
        return F.year(c)
    if f.transform == "months":
        return F.date_format(c, "yyyy-MM")
    if f.transform == "days":
        return F.date_format(c, "yyyy-MM-dd")
    if f.transform == "hours":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if f.transform == "bucket":
        return F.pmod(F.xxhash64(c), F.lit(f.param))
    if f.transform == "truncate":
        tag = dtype.typeName() if dtype is not None else "string"
        if tag in ("byte", "short", "integer", "long"):
            return c - F.pmod(c, F.lit(f.param))
        if tag == "string":
            return F.substring(c, 1, f.param)
        raise ValueError(
            f"truncate() supports string and integral columns, not "
            f"{tag} ({f.source})"
        )
    raise AssertionError(f.transform)


def spec_exprs(df: DataFrame, fields: list[PartitionField]) -> list[Column]:
    """Aliased transform expressions for ``df`` — what a write derives
    and what merge's affected-partition probe selects."""
    types = {fld.name: fld.dataType for fld in df.schema.fields}
    out = []
    for f in fields:
        if f.source not in types:
            raise ValueError(
                f"partition spec entry {f.spec!r}: source column "
                f"{f.source!r} is not in the frame ({list(types)})"
            )
        out.append(field_expr(f, types[f.source]).alias(f.name))
    return out


_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42  # F.xxhash64's seed
_I32 = struct.Struct("<i")
_I64 = struct.Struct("<q")
_F32 = struct.Struct("<f")
_D64 = struct.Struct("<d")
_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 — what Spark's ``XXH64.hashInt``/``hashLong``/
    ``hashUnsafeBytes`` compute on little-endian bytes."""
    n, p = len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed,
            (seed - _P1) & _M64,
        ]
        while p + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, p)
            v = [_round(a, x) for a, x in zip(v, lanes)]
            p += 32
        h = (
            _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        ) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while p + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, p)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M64
        p += 8
    if p + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, p)
        h = (_rotl(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        p += 4
    for b in data[p:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _hashed_bytes(v, dtype: DataType) -> bytes | None:
    """The bytes Spark's ``xxhash64`` hashes for non-null ``v`` as a
    ``dtype`` value, or None when the type is not covered or
    ``createDataFrame`` would not accept ``v`` for it. Accepted Python
    types mirror PySpark's schema verifier (exact types, so ``True`` is
    no int); conversion goes through the type's own ``toInternal``."""
    t = type(dtype)
    if t in _INT_BITS:
        half = 1 << (_INT_BITS[t] - 1)
        if type(v) is not int or not -half <= v < half:
            return None
        return (_I64 if t is LongType else _I32).pack(v)
    if t is BooleanType:
        return _I32.pack(v) if type(v) is bool else None
    if t is DateType:
        if type(v) not in (datetime.date, datetime.datetime):
            return None
        return _I32.pack(dtype.toInternal(v))
    if t in (TimestampType, TimestampNTZType):
        if type(v) is not datetime.datetime:
            return None
        return _I64.pack(dtype.toInternal(v))
    if t in (FloatType, DoubleType):
        if type(v) is not float:
            return None
        if t is FloatType:
            try:  # the JVM narrows the pickled double: Double.toFloat
                (v,) = _F32.unpack(_F32.pack(v))
            except OverflowError:
                v = math.copysign(math.inf, v)
        if v == 0.0:
            v = 0.0  # -0.0 hashes as 0
        elif math.isnan(v):
            v = math.nan  # Java's canonical floatToIntBits/doubleToLongBits
        return (_F32 if t is FloatType else _D64).pack(v)
    if t is StringType:
        # a non-binary collation hashes its collation key, not the bytes
        if type(v) is not str or dtype.collation != "UTF8_BINARY":
            return None
        return v.encode("utf-8")
    if t is BinaryType:
        return bytes(v) if type(v) in (bytes, bytearray) else None
    if t is DecimalType:
        if type(v) is not decimal.Decimal or not v.is_finite():
            return None
        # Spark: BigDecimal.setScale(scale, HALF_UP), then the
        # precision check createDataFrame would fail on — quantize
        # raises InvalidOperation past the context's precision
        ctx = decimal.Context(prec=dtype.precision, rounding=decimal.ROUND_HALF_UP)
        q = v.quantize(decimal.Decimal(1).scaleb(-dtype.scale), context=ctx)
        unscaled = int(q.scaleb(dtype.scale, ctx))
        if dtype.precision <= 18:
            return _I64.pack(unscaled)
        # BigInteger.toByteArray: minimal big-endian two's complement
        width = (unscaled if unscaled >= 0 else ~unscaled).bit_length() // 8 + 1
        return unscaled.to_bytes(width, "big", signed=True)
    return None


def spark_xxhash64(value, dtype: DataType) -> int | None:
    """``F.xxhash64`` (seed 42) of one ``dtype`` value, computed on the
    driver: scan planning hashes bloom and bucket probe literals without
    a Spark job. Null hashes to the seed, as in Spark. Returns None for
    a type it does not cover (nested, interval, collated strings, …) or
    a value the type would not accept; callers keep the file then."""
    if value is None:
        return _SEED
    try:
        data = _hashed_bytes(value, dtype)
    except (ArithmeticError, ValueError):
        return None  # e.g. a timestamp mktime cannot convert
    return None if data is None else _xxh64(data, _SEED)


def _py_transform(f: PartitionField, v):
    """Driver-side twin of ``field_expr`` for time/truncate transforms
    (bucket hashes through ``spark_xxhash64`` — see fragment_tests).
    ``v`` is a predicate value (datetime/date/str/int)."""
    if f.transform == "years":
        return v.year if hasattr(v, "year") else int(str(v)[:4])
    if f.transform == "months":
        return str(v)[:7]
    if f.transform == "days":
        return str(v)[:10]
    if f.transform == "hours":
        if hasattr(v, "strftime"):
            return v.strftime("%Y-%m-%d-%H")
        return str(v)[:13].replace(" ", "-").replace("T", "-")
    if f.transform == "truncate":
        if isinstance(v, str):
            return v[: f.param]
        return v - (v % f.param)  # Python % is non-negative for w > 0
    raise AssertionError(f.transform)


_MONOTONE = {"years", "months", "days", "hours", "truncate"}


def fragment_tests(
    fields: list[PartitionField],
    predicate: list[tuple],
    types: dict[str, DataType],
) -> list[tuple[str, Callable]]:
    """Derive fragment-level pruning tests from predicates on RAW
    source columns — the hidden-partitioning payoff: ``WHERE ts
    BETWEEN a AND b`` prunes ``days(ts)`` directories without the
    query (or the stats) ever mentioning the partition field.

    Returns ``[(field_name, test(frag_value_str) -> bool), ...]``; a
    file survives only if every test passes on its fragment value for
    that field (files lacking the segment — older spec — are kept by
    the caller, same conservative rule as ``_frag_matches``).

    Monotone transforms (time + truncate) map ``= in between < <= >
    >=`` to range tests on the RENDERED value (lexical for the
    zero-padded string forms, numeric for years/int-truncate);
    inequalities widen to the containing partition (< v → <= T(v)),
    conservative by construction. ``bucket`` derives equality/IN only,
    hashing each value on the driver with ``spark_xxhash64`` under the
    source column's type in ``types``, so driver and writer hash
    identically; a value it cannot hash exactly derives no test, and
    every file is kept.
    """
    by_source: dict[str, list[PartitionField]] = {}
    for f in fields:
        if f.transform != "identity":
            by_source.setdefault(f.source, []).append(f)
    tests: list[tuple[str, Callable]] = []
    for col, op, value in predicate:
        for f in by_source.get(col, []):
            numeric = f.transform == "years" or (
                f.transform == "truncate" and not isinstance(
                    (value[0] if isinstance(value, (list, tuple)) else value),
                    str,
                )
            )

            def cast(s, numeric=numeric):
                return int(s) if numeric else s

            if f.transform == "bucket":
                if op in ("=", "==", "in"):
                    vals = list(value) if op == "in" else [value]
                    hs = [spark_xxhash64(v, types[col]) for v in vals]
                    if hs and None not in hs:
                        want = {str(h % f.param) for h in hs}
                        tests.append((f.name, lambda s, w=want: s in w))
                continue
            if f.transform not in _MONOTONE:
                continue
            try:
                if op in ("=", "=="):
                    t = _py_transform(f, value)
                    tests.append((f.name, lambda s, t=t, c=cast: c(s) == t))
                elif op == "in":
                    ts = {_py_transform(f, v) for v in value}
                    tests.append((f.name, lambda s, ts=ts, c=cast: c(s) in ts))
                elif op == "between":
                    lo, hi = (_py_transform(f, value[0]),
                              _py_transform(f, value[1]))
                    tests.append(
                        (f.name, lambda s, lo=lo, hi=hi, c=cast: lo <= c(s) <= hi)
                    )
                elif op in ("<", "<="):
                    hi = _py_transform(f, value)
                    tests.append((f.name, lambda s, hi=hi, c=cast: c(s) <= hi))
                elif op in (">", ">="):
                    lo = _py_transform(f, value)
                    tests.append((f.name, lambda s, lo=lo, c=cast: c(s) >= lo))
            except (TypeError, ValueError):
                continue  # underivable value shape → no pruning, never wrong
    return tests
