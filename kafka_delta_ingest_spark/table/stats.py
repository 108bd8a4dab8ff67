"""Per-file statistics for Add actions.

Reference rules reproduced exactly (/root/reference/src/writer.rs:655-786):

- min/max + null_count for top-level scalars and **struct leaves** (dotted
  names), computed per output file;
- **arrays: null_count only** — no min/max for repetition level > 0
  (src/writer.rs:676-681);
- **partition columns excluded** from stats (src/writer.rs:667-669) — their
  value is in ``partition_values``;
- timestamps rendered ISO ``yyyy-MM-dd'T'HH:mm:ss.SSS'Z'``
  (src/writer.rs:1127-1137);
- ``num_records`` per file (src/writer.rs:1030-1066).

Implementation is one *distributed* aggregation over the freshly staged
files, grouped by ``input_file_name()``, reading **only the stat-bearing
columns** (Catalyst prunes the token arrays out of the scan except for
their null-flag definition levels) — no driver-side per-file loop, so the
same code runs over a 10^6-file commit on a real cluster.
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_delta_ingest_spark.table.format import (
    HIVE_DEFAULT_PARTITION,
    FileEntry,
)

ISO_MS = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"  # ref src/writer.rs:1127-1137

# Iceberg-style bound truncation for long string stats (Iceberg's
# write.metadata.metrics default is truncate(16); we default wider since
# our manifests also serve metadata-only aggregates). At 10^12 rows the
# manifest itself is big data — a 2 KB document-prefix min/max per file
# across 10^6 files is 4 GB of metadata for two stat columns.
STRING_STAT_TRUNCATE = int(os.environ.get("KDI_STAT_TRUNCATE_LEN", "64"))

_MAX_CP = 0x10FFFF
_SURR_LO, _SURR_HI = 0xD800, 0xDFFF


def _increment_string(s: str) -> str | None:
    """Smallest-effort strict upper bound for any string with prefix
    ``s``: increment the last incrementable code point (skipping into the
    surrogate gap) and drop everything after it. None if every code point
    is U+10FFFF (no such bound exists at this length)."""
    for i in range(len(s) - 1, -1, -1):
        c = ord(s[i])
        if c >= _MAX_CP:
            continue
        c += 1
        if _SURR_LO <= c <= _SURR_HI:
            c = _SURR_HI + 1
        return s[:i] + chr(c)
    return None


def string_stat_cols(schema: T.StructType) -> set[str]:
    return {
        n for (n, dt, mm) in stat_leaves(schema)
        if mm and isinstance(dt, T.StringType)
    }


def truncate_string_stats(
    stats: dict,
    schema: T.StructType | None,
    limit: int | None = None,
    cols: set[str] | None = None,
) -> dict:
    """Truncate long STRING min/max in place, Iceberg semantics:

    - min → ``limit``-char prefix (a valid lower bound: prefix ≤ value);
    - max → ``limit``-char prefix with the last code point incremented
      (a valid strict upper bound: every string with that prefix sorts
      below it); if no code point is incrementable the FULL value is kept.

    Truncated columns are recorded in ``stats['inexact']`` — pruning is
    unaffected (bounds stay conservative) but metadata-only aggregates
    must not serve them as exact extrema (table/inspect.py demotes those
    files to a pushdown scan)."""
    lim = STRING_STAT_TRUNCATE if limit is None else limit
    mins, maxs = stats.get("min", {}), stats.get("max", {})
    string_cols = cols if cols is not None else string_stat_cols(schema)
    inexact = set(stats.get("inexact", []))
    for c in string_cols:
        lo, hi = mins.get(c), maxs.get(c)
        if isinstance(lo, str) and len(lo) > lim:
            mins[c] = lo[:lim]
            inexact.add(c)
        if isinstance(hi, str) and len(hi) > lim:
            bumped = _increment_string(hi[:lim])
            if bumped is not None:
                maxs[c] = bumped
                inexact.add(c)
    if inexact:
        stats["inexact"] = sorted(inexact)
    return stats

_SCALAR_TYPES = (
    T.StringType,
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.FloatType,
    T.DoubleType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.DecimalType,
)


def stat_leaves(schema: T.StructType, prefix: str = "") -> list[tuple[str, T.DataType, bool]]:
    """Flatten a schema to (dotted_name, type, minmax_eligible).

    Structs recurse (ref apply_min_max_for_column recursion,
    src/writer.rs:812-843); arrays stop at the array itself with
    minmax_eligible=False (null count only); maps/binary are null-count only.
    """
    out: list[tuple[str, T.DataType, bool]] = []
    for f in schema.fields:
        name = f"{prefix}{f.name}"
        dt = f.dataType
        if isinstance(dt, T.StructType):
            out.extend(stat_leaves(dt, prefix=f"{name}."))
        elif isinstance(dt, _SCALAR_TYPES):
            out.append((name, dt, True))
        else:  # ArrayType, MapType, BinaryType, ...
            out.append((name, dt, False))
    return out


def _render(col, dt: T.DataType):
    """Render a min/max value for the stats JSON (timestamps → ISO string)."""
    if isinstance(dt, T.TimestampType):
        return F.date_format(col, ISO_MS)
    if isinstance(dt, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    return col


def file_stats_df(df, schema: T.StructType, partition_cols: list[str]):
    """Aggregate per-file stats: one row per distinct ``input_file_name()``.

    Returns a DataFrame with columns:
      _file, num_records, min__<leaf>, max__<leaf>, nulls__<leaf>
    Leaf column names use ``.`` replaced by ``%2E``-safe ``__DOT__`` to stay
    valid identifiers.
    """
    leaves = [
        (n, dt, mm)
        for (n, dt, mm) in stat_leaves(schema)
        if n.split(".", 1)[0] not in set(partition_cols)
    ]
    aggs = [F.count(F.lit(1)).alias("num_records")]
    for name, dt, mm in leaves:
        safe = name.replace(".", "__DOT__")
        c = F.col(name)
        if mm:
            aggs.append(_render(F.min(c), dt).cast("string").alias(f"min__{safe}"))
            aggs.append(_render(F.max(c), dt).cast("string").alias(f"max__{safe}"))
        aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"nulls__{safe}"))
    return df.groupBy(F.input_file_name().alias("_file")).agg(*aggs)


_HIVE_ESC_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _unescape_hive(v: str) -> str:
    """Invert Spark/Hive partition-path escaping (%XX hex escapes for
    ':', '%', '=', '/' etc. — ExternalCatalogUtils.escapePathName). The
    recorded partition_values must be the LOGICAL value: pruning and
    MERGE's touched-file election compare them against
    str(py_value(...))/transform output, so an escaped recorded value
    ('a%3Ab' for 'a:b') would wrongly prune files that contain matching
    rows."""
    return _HIVE_ESC_RE.sub(lambda m: chr(int(m.group(1), 16)), v)


def _partition_values_from_path(rel_path: str, partition_cols: list[str]) -> dict[str, str]:
    vals: dict[str, str] = {}
    for seg in rel_path.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_cols:
                # Spark already writes __HIVE_DEFAULT_PARTITION__ for null;
                # other values arrive Hive-escaped from partitionBy
                vals[k] = (
                    v if v == HIVE_DEFAULT_PARTITION else _unescape_hive(v)
                )
    for k in partition_cols:
        vals.setdefault(k, HIVE_DEFAULT_PARTITION)
    return vals


def _typed(v: str | None, dt: T.DataType) -> Any:
    if v is None:
        return None
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dt, T.BooleanType):
        return v == "true"
    return v  # strings, timestamps (ISO), dates, decimals stay strings


def compute_add_entries(
    spark: SparkSession,
    table_root: str,
    staged_dir: str,
    schema: T.StructType,
    partition_cols: list[str],
    column_mapping: "dict[str, str] | None" = None,
) -> list[FileEntry]:
    """Build FileEntry (Add) records for every parquet file under
    ``staged_dir`` — from parquet *footers* (no data scan; the reference's
    approach, writer.rs:655-707). Falls back to the Spark aggregation path
    (``compute_add_entries_scan``) if footer reading fails.

    ``column_mapping`` (logical → physical, renamed columns only): staged
    files carry PHYSICAL column names (table/writer.py to_physical), so
    stats are extracted under the physical schema and the stat keys are
    mapped back to the CURRENT logical names — manifest stats always key
    by the logical name at write time, and pruning on a freshly renamed
    column works for new files immediately (old files degrade to the
    conservative no-stats path until a rewrite refreshes them)."""
    from kafka_delta_ingest_spark.table.footer_stats import footer_add_entries

    cmap = {k: v for k, v in (column_mapping or {}).items() if v != k}
    phys_schema = T.StructType(
        [
            T.StructField(cmap.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    try:
        entries = footer_add_entries(
            table_root, staged_dir, phys_schema, partition_cols
        )
    except Exception:  # noqa: BLE001 — exotic footer shapes: rescan instead
        entries = compute_add_entries_scan(
            spark, table_root, staged_dir, phys_schema, partition_cols
        )
    return _rekey_stats_logical(entries, cmap)


def _rekey_stats_logical(
    entries: list[FileEntry], cmap: "dict[str, str]"
) -> list[FileEntry]:
    """Map stat keys physical → logical (top-level path segment only:
    renames apply to top-level fields)."""
    if not cmap:
        return entries
    rev = {v: k for k, v in cmap.items()}

    def mk_key(key: str) -> str:
        head, sep, rest = key.partition(".")
        return rev.get(head, head) + sep + rest

    for e in entries:
        e.stats = {
            sect: (
                {mk_key(k): v for k, v in vals.items()}
                if isinstance(vals, dict)
                # "inexact" is a LIST of column names (truncated string
                # bounds) — its entries re-key too, or a renamed column's
                # truncated bound would read as exact downstream
                else [mk_key(k) for k in vals]
                if isinstance(vals, list)
                else vals
            )
            for sect, vals in e.stats.items()
        }
    return entries


def compute_add_entries_scan(
    spark: SparkSession,
    table_root: str,
    staged_dir: str,
    schema: T.StructType,
    partition_cols: list[str],
) -> list[FileEntry]:
    """Spark-aggregation stats path: one distributed pass grouped by
    input_file_name. Used by manifest rewrite (where recomputing stats
    *from data* is the point) and as the footer fallback."""
    # size via filesystem walk — metadata-scale work, one entry per file
    sizes: dict[str, int] = {}
    for dirpath, _dirnames, filenames in os.walk(staged_dir):
        for fn in filenames:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                sizes[os.path.abspath(p)] = os.path.getsize(p)
    if not sizes:
        return []

    df = spark.read.parquet(staged_dir)
    stats_rows = file_stats_df(df, schema, partition_cols).collect()

    leaves = [
        (n, dt, mm)
        for (n, dt, mm) in stat_leaves(schema)
        if n.split(".", 1)[0] not in set(partition_cols)
    ]
    entries: list[FileEntry] = []
    root_abs = os.path.abspath(table_root)
    for row in stats_rows:
        d = row.asDict()
        fpath = d["_file"]
        if fpath.startswith("file:"):
            fpath = fpath[len("file:") :]
        fpath = os.path.abspath(fpath)
        rel = os.path.relpath(fpath, root_abs)
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        nulls: dict[str, int] = {}
        for name, dt, mm in leaves:
            safe = name.replace(".", "__DOT__")
            if mm:
                mins[name] = _typed(d.get(f"min__{safe}"), dt)
                maxs[name] = _typed(d.get(f"max__{safe}"), dt)
            nulls[name] = int(d.get(f"nulls__{safe}") or 0)
        entries.append(
            FileEntry(
                path=rel,
                size=sizes.get(fpath, 0),
                num_records=int(d["num_records"]),
                partition_values=_partition_values_from_path(rel, partition_cols),
                stats=truncate_string_stats(
                    {"min": mins, "max": maxs, "null_count": nulls}, schema
                ),
            )
        )
    # determinism for ledgers/tests
    entries.sort(key=lambda e: e.path)
    return entries
