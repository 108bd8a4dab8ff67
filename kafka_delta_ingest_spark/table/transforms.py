"""Hidden partitioning — Iceberg partition transforms.

A partition-spec entry is either an identity column name (``"source"``,
the hive layout the reference pins at create time, src/main.rs:332-340)
or a transform over a source column:

- ``bucket(N, col)``  — hash-mod bucket; the classic fix for
  high-cardinality keys (doc_id at 10^12 rows) where identity
  partitioning would mint one directory per value.
- ``truncate(W, col)`` — width-W prefix (strings) / multiple-of-W floor
  (integers); range-friendly.
- ``year(col)`` / ``month(col)`` / ``day(col)`` / ``hour(col)`` —
  temporal granularities over date/timestamp columns (Iceberg's
  time-travel-friendly layouts: ``event_time`` partitioned by day without
  materializing a date column).

The derived value is path-only (``doc_id_bucket_16=3/``): the SOURCE
column stays in the data pages (a transform is not invertible), unlike
identity columns which live only in the path. Scans therefore never
reconstruct transform keys; they only *prune* on them — a ``doc_id = X``
conjunct maps through the transform to a ``doc_id_bucket_16 =
bucket(X)`` partition-value check, Iceberg's hidden-partitioning
contract: queries mention real columns only, the layout prunes anyway.

The bucket hash is ``crc32(cast(col as string)) % N`` — computable
identically JVM-side (``F.crc32``, stays in whole-stage codegen) and
driver-side (``zlib.crc32``) so pruning never launches a job.
"""

from __future__ import annotations

import re
import zlib
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BUCKET_RE = re.compile(r"^bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)$")
_TRUNC_RE = re.compile(r"^truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)$")
_TIME_RE = re.compile(r"^(year|month|day|hour)\(\s*(\w+)\s*\)$")

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)
TIME_KINDS = ("year", "month", "day", "hour")
# zero-padded fixed-width formats: lexicographic order == temporal order,
# so range conjuncts map through the transform (see derived_conjuncts)
_TIME_FMT = {
    "year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd-HH",
}
_TIME_SLICE = {"year": 4, "month": 7, "day": 10, "hour": 13}


def parse(entry: str) -> tuple[str, str, int | None]:
    """-> (kind, source_col, param): ("identity", col, None) |
    ("bucket", col, n) | ("truncate", col, w) | ("year"|..., col, None)."""
    m = _BUCKET_RE.match(entry)
    if m:
        n = int(m.group(1))
        if n <= 0:
            raise ValueError(f"bucket count must be positive: {entry}")
        return ("bucket", m.group(2), n)
    m = _TRUNC_RE.match(entry)
    if m:
        w = int(m.group(1))
        if w <= 0:
            raise ValueError(f"truncate width must be positive: {entry}")
        return ("truncate", m.group(2), w)
    m = _TIME_RE.match(entry)
    if m:
        return (m.group(1), m.group(2), None)
    return ("identity", entry, None)


def split_spec(spec_str: str) -> list[str]:
    """Split a CLI spec string on commas NOT inside parens —
    ``"source,bucket(16,doc_id)"`` -> ``["source", "bucket(16,doc_id)"]``."""
    out, depth, cur = [], 0, []
    for ch in spec_str:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            if "".join(cur).strip():
                out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return out


def source_col(entry: str) -> str:
    return parse(entry)[1]


def key(entry: str) -> str:
    """Partition-values / path-segment key for a spec entry."""
    kind, col, param = parse(entry)
    if kind == "identity":
        return col
    if kind in TIME_KINDS:
        return f"{col}_{kind}"
    return f"{col}_{'bucket' if kind == 'bucket' else 'trunc'}_{param}"


def keys(spec: list[str]) -> list[str]:
    return [key(e) for e in spec]


def apply_expr(entry: str, col: Column, dt: T.DataType) -> Column:
    """The transform applied to an arbitrary column expression of the
    source column's type ``dt`` — pure Catalyst, stays in codegen."""
    kind, _c, param = parse(entry)
    if kind == "identity":
        return col
    if kind == "bucket":
        return F.pmod(
            F.crc32(col.cast("string").cast("binary")), F.lit(param)
        ).cast("int")
    if kind in TIME_KINDS:
        return F.date_format(col, _TIME_FMT[kind])
    if isinstance(dt, T.StringType):
        return F.substring(col, 1, param)
    if isinstance(dt, _INTEGRAL):
        return (F.floor(col.cast("long") / F.lit(param)) * F.lit(param)).cast(
            "long"
        )
    raise ValueError(f"truncate unsupported for {dt.simpleString()} ({entry})")


def derived_exprs(spec: list[str], schema: T.StructType) -> dict[str, Column]:
    """key_name -> Column for every transform entry (identity entries
    need no derivation — their column IS the partition value)."""
    out: dict[str, Column] = {}
    for e in spec:
        kind, col, _param = parse(e)
        if kind == "identity":
            continue
        out[key(e)] = apply_expr(e, F.col(col), schema[col].dataType)
    return out


def py_value(entry: str, v: Any) -> Any:
    """The transform applied driver-side — must agree with derived_exprs
    exactly (bucket: crc32 of the value's string form)."""
    kind, _col, param = parse(entry)
    if kind == "identity":
        return v
    if kind == "bucket":
        return zlib.crc32(str(v).encode()) % param
    if kind in TIME_KINDS:
        import datetime as _dt

        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        fmt = {"year": "%Y", "month": "%Y-%m", "day": "%Y-%m-%d",
               "hour": "%Y-%m-%d-%H"}[kind]
        return v.strftime(fmt)
    if isinstance(v, str):
        return v[:param]
    return (int(v) // param) * param


def derived_conjuncts(
    spec: list[str], conjuncts: list[tuple[str, str, Any]]
) -> list[tuple[str, str, Any]]:
    """Map source-column conjuncts through the spec's transforms to
    partition-key conjuncts usable for file pruning.

    Only equality maps safely for bucket (a hash destroys order).
    Truncate maps equality too, but its range ops are deliberately not
    mapped — derived partition values compare as strings in the manifest,
    where numeric order and lexicographic order disagree. Temporal
    transforms map BOTH equality and ranges: the transform is monotonic
    and its zero-padded output is fixed-width, so lexicographic order on
    the key agrees with temporal order on the source (src >= X  ⇒
    key >= day(X), etc. — inclusive both ways because the transform
    floors)."""
    extra: list[tuple[str, str, Any]] = []
    for e in spec:
        kind, col, _param = parse(e)
        if kind == "identity":
            continue
        for c, op, lit in conjuncts:
            if c != col:
                continue
            if op in ("=", "=="):
                extra.append((key(e), "=", str(py_value(e, lit))))
            elif op == "in":
                extra.append(
                    (key(e), "in", [str(py_value(e, v)) for v in lit])
                )
            elif kind in TIME_KINDS and op in (">", ">=", "<", "<="):
                # floor transform: both bounds become inclusive on the key
                relaxed = {">": ">=", "<": "<="}.get(op, op)
                extra.append((key(e), relaxed, str(py_value(e, lit))))
    return extra


def validate_spec(spec: list[str], schema: T.StructType) -> None:
    fields = {f.name for f in schema.fields}
    missing = sorted({source_col(e) for e in spec} - fields)
    if missing:
        raise ValueError(f"partition source columns not in schema: {missing}")
    ks = keys(spec)
    if len(set(ks)) != len(ks):
        raise ValueError(f"duplicate partition keys: {ks}")
    for e in spec:
        kind, col, _ = parse(e)
        if kind == "identity" and key(e) != col:
            raise ValueError(f"bad identity entry: {e}")
        dt = schema[col].dataType if kind != "identity" else None
        if kind in TIME_KINDS and not isinstance(dt, _TEMPORAL):
            raise ValueError(
                f"{kind}() needs a date/timestamp source, got "
                f"{dt.simpleString()} ({e})"
            )
        if kind == "truncate" and not isinstance(
            dt, (T.StringType, *_INTEGRAL)
        ):
            raise ValueError(
                f"truncate unsupported for {dt.simpleString()} ({e})"
            )
        # bucket() hashes the value's STRING rendering, which must agree
        # between the JVM write side (crc32(cast(col as string))) and the
        # driver prune side (zlib.crc32(str(v))). Only string and
        # integral renderings are identical in both worlds — boolean
        # ('true' vs 'True'), float/double ('1.5E16' vs '1.5e+16'),
        # decimal and timestamp all diverge, which would make
        # derived_conjuncts prune files that DO contain matching rows
        # (silent lost rows / MERGE missing touched files).
        if kind == "bucket" and not isinstance(
            dt, (T.StringType, *_INTEGRAL)
        ):
            raise ValueError(
                f"bucket unsupported for {dt.simpleString()} ({e}): the "
                "JVM and driver string renderings of this type differ, "
                "so pruning would be unsound"
            )
