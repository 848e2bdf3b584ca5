"""File-level data skipping + Z-order clustering over plain parquet.

The lakehouse trick the reference's gold zone gets from Delta
(`3(1)_Gold_dim_model.py` writes Delta tables, whose transaction log
carries per-file column min/max that the reader uses to skip files):
delta-spark is absent in this environment, so the same contract is
built directly on parquet footers —

- **manifest**: at commit time, read the just-written files' parquet
  FOOTERS (no data pages) and record per-file min/max per column in a
  ``_manifest.json`` inside the version directory.  This is exactly the
  stats payload of a Delta ``add`` action; building it at write time
  keeps the cost O(files-in-this-commit), not O(files-in-table).
- **pruned read**: a range predicate consults the manifest and hands
  Spark only the overlapping files.  The predicate is STILL applied to
  the surviving rows — skipping is an optimization, never a semantics
  change (and parquet row-group pushdown then prunes within files).
- **Z-order**: multi-column locality so pruning works on EVERY listed
  column, not just a lead sort key.  Each column is bucketed by its
  approximate quantiles (rank space — robust to skew, unlike linear
  min/max bucketing) and the bucket bits are interleaved into one
  BIGINT z-value; ``repartitionByRange(z)`` + ``sortWithinPartitions``
  gives every output file a small hyper-rectangle of the key space.

Scale shape: quantile boundaries come from ``approxQuantile``
(Greenwald-Khanna sketch, one pass, driver gets O(buckets) numbers);
bucketing + bit interleave are pure JVM column expressions; the only
shuffle is the range partition that the write needs anyway.  Footer
reads touch KB-sized metadata per file.  Everything here is
driver-coordinated metadata over executor-written data — the same
division of labor as Delta's commit protocol.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, DataFrameReader
from pyspark.sql import functions as F

__all__ = [
    "write_manifest",
    "read_manifest",
    "pruned_files",
    "read_pruned",
    "zorder_frame",
]

_MANIFEST = "_manifest.json"


def _norm_stat(v):
    """Normalize a stat (or query bound) to ``(value, domain)`` —
    JSON-native, totally-ordered primitive plus a domain TAG so
    manifest values written by ``write_manifest`` and bounds passed to
    ``pruned_files`` only ever compare within the SAME domain (ADVICE
    r3 medium: date→epoch-days and datetime→epoch-micros are both
    integers; without the tag a datetime bound against a date column
    compared mismatched units and could silently prune matching files).

    Domains: ``num`` (int/float/bool/Decimal), ``str`` (lexicographic
    pruning is correct for strings), ``date`` (epoch days),
    ``timestamp`` (epoch microseconds).  Anything else (bytes, exotic
    logical types) returns ``(None, None)`` → stats unusable → file
    kept."""
    import datetime
    import decimal

    if v is None:
        return None, None
    if isinstance(v, bool):
        return int(v), "num"
    if isinstance(v, (int, float)):
        return v, "num"
    if isinstance(v, str):
        return v, "str"
    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000), "timestamp"
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days, "date"
    if isinstance(v, decimal.Decimal):
        return float(v), "num"
    return None, None


def _footer_stats(path: str, columns: list[str]) -> dict:
    """Per-column ``{"range": [min, max], "domain": tag,
    "null_count": n}`` for one parquet file, from the footer only.
    Columns with no usable stats map to None (reader must keep the
    file); ``null_count`` is None when any row group omits it.  Stats
    are normalized via ``_norm_stat`` — a value that doesn't normalize,
    or row groups whose values normalize into different domains,
    invalidate the column's range for this file (correctness over
    optimism)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {"rows": md.num_rows, "columns": {}}
    for col in columns:
        if col not in idx:
            out["columns"][col] = None
            continue
        lo = hi = dom = None
        nulls: int | None = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            (mn, dmn), (mx, dmx) = _norm_stat(st.min), _norm_stat(st.max)
            if mn is None or mx is None or dmn != dmx or (dom and dmn != dom):
                ok = False
                break
            dom = dmn
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
            if nulls is not None:
                nulls = nulls + st.null_count if st.has_null_count else None
        out["columns"][col] = (
            {"range": [lo, hi], "domain": dom, "null_count": nulls if ok else None}
            if ok
            else None
        )
    return out


def write_manifest(vdir: str, columns: list[str]) -> dict:
    """Build ``_manifest.json`` for every data file in ``vdir``."""
    files = sorted(
        f for f in os.listdir(vdir) if f.endswith(".parquet") and not f.startswith("_")
    )
    manifest = {
        "stats_columns": list(columns),
        "files": {f: _footer_stats(os.path.join(vdir, f), columns) for f in files},
    }
    tmp = os.path.join(vdir, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, default=str)
    os.replace(tmp, os.path.join(vdir, _MANIFEST))
    return manifest


def read_manifest(vdir: str) -> dict | None:
    try:
        with open(os.path.join(vdir, _MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def pruned_files(vdir: str, col: str, lo, hi) -> tuple[list[str], int]:
    """(surviving file paths, total file count) for range [lo, hi].

    A file survives unless its recorded [min, max] provably misses the
    range; missing stats keep the file (correctness over optimism).
    Bounds are normalized like the stored stats (dates/datetimes →
    epoch integers) and carry the same domain TAG, so callers may pass
    the column's natural types; a bound whose domain differs from the
    stats' recorded domain — a string bound against numeric stats, or a
    datetime bound against a date column (epoch MICROS vs epoch DAYS:
    both integers, incomparable units — ADVICE r3) — keeps every
    file."""
    manifest = read_manifest(vdir)
    if manifest is None:
        raise FileNotFoundError(f"no {_MANIFEST} under {vdir}")
    (nlo, dlo), (nhi, dhi) = _norm_stat(lo), _norm_stat(hi)
    keep = []
    for fname, st in manifest["files"].items():
        entry = (st.get("columns") or {}).get(col)
        rng = entry.get("range") if isinstance(entry, dict) else None
        dom = entry.get("domain") if isinstance(entry, dict) else None
        if (
            rng is None
            or rng[0] is None
            or nlo is None
            or nhi is None
            or dlo != dhi
            or dom != dlo
        ):
            keep.append(fname)
            continue
        if not (rng[1] < nlo or rng[0] > nhi):
            keep.append(fname)
    return [os.path.join(vdir, f) for f in keep], len(manifest["files"])


def read_pruned(reader: DataFrameReader, vdir: str, col: str, lo, hi) -> DataFrame:
    """Range scan that opens only manifest-surviving files.  The filter
    is re-applied — skipping must never change semantics.  ``reader``
    carries the version's schema (``VersionedTable._reader``), so the
    scan runs no schema-inference job."""
    files, _total = pruned_files(vdir, col, lo, hi)
    if not files:
        return reader.parquet(vdir).filter(F.lit(False))
    return reader.parquet(*files).filter(F.col(col).between(lo, hi))


def _bucket_expr(col: str, boundaries: list, *, as_string: bool = False):
    """Rank-space bucket id 0..len(boundaries): count of quantile
    boundaries ≤ value — a branch-free JVM expression over a literal
    array (no UDF, no join).  String boundaries compare
    lexicographically, matching parquet's string min/max order."""
    arr = F.array(*[F.lit(b) for b in boundaries])
    target = F.col(col) if as_string else F.col(col).cast("double")
    return F.size(F.filter(arr, lambda b: b <= target))


def _string_boundaries(
    df: DataFrame, cols: list[str], n_buckets: int
) -> dict[str, list[str]]:
    """Lexicographic bucket boundaries for the STRING z-columns from
    ONE bounded deterministic sample (seeded, capped at 100k rows —
    one upstream-plan execution total, mirroring the single
    multi-column approxQuantile call): per column, sort driver-side
    and take n_buckets-1 evenly spaced cut points.  Boundary quality
    only affects clustering BALANCE — correctness never depends on it
    (manifests record each file's actual min/max and the read path
    re-applies the predicate), so a skewed sample degrades skip rate,
    not results."""
    if not cols:
        return {}
    rows = (
        df.select(*cols).sample(fraction=0.1, seed=42).limit(100_000).collect()
    )
    if not rows:
        # small tables can sample to zero rows (review): fall back to a
        # direct bounded collect so string clustering never silently
        # no-ops on a dimension-sized input
        rows = df.select(*cols).limit(100_000).collect()
    out: dict[str, list[str]] = {}
    for c in cols:
        vals = sorted(r[c] for r in rows if r[c] is not None)
        if not vals:
            out[c] = []
            continue
        step = max(len(vals) // n_buckets, 1)
        bounds = sorted({vals[i] for i in range(step, len(vals), step)})
        out[c] = bounds[: n_buckets - 1]
    return out


def zorder_frame(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 4,
    num_files: int = 8,
) -> DataFrame:
    """Return ``df`` re-clustered on the interleaved z-value of ``cols``
    (each bucketed into 2**bits rank-space buckets), partitioned into
    ``num_files`` range slices and sorted within each — ready to write,
    with every output file covering a tight min/max box on EVERY listed
    column.

    2 cols × 4 bits ⇒ an 8-bit z-value whose bit i alternates between
    the columns: files slice the space into squares instead of stripes,
    so a predicate on either column alone still skips ~(1 - 1/2**bits)
    of the files (a lead-column linear sort skips nothing for the
    second column).

    Numeric columns bucket on approxQuantile boundaries; STRING
    columns (round 4) on sampled lexicographic boundaries — same
    rank-space idea, and parquet string min/max stats order matches
    the comparison, so manifests prune string ranges too.  Dates and
    timestamps must be cast to epoch integers by the caller.  Boundary
    derivation costs ONE upstream execution for all numeric columns
    (multi-column approxQuantile) plus one more for all string columns
    (one sampled collect) — mixed-type z-orders pay two passes; cache
    the input first if it is expensive to recompute."""
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    types = {f.name: f.dataType.typeName() for f in df.schema}
    numeric = {
        c
        for c, t in types.items()
        if t in ("byte", "short", "integer", "long", "float", "double", "decimal")
    }
    stringy = {c for c, t in types.items() if t == "string"}
    bad = [c for c in cols if c not in numeric and c not in stringy]
    if bad:
        raise TypeError(
            f"zorder_frame needs numeric or string columns; "
            f"cast dates to epoch days first: {bad}"
        )
    # ONE multi-column approxQuantile call for the numeric z-columns —
    # per-column calls re-run the whole upstream plan once per z-column
    # (review finding); string columns get sampled lexicographic
    # boundaries (round 4 — parity with Delta's string z-order)
    num_cols = [c for c in cols if c in numeric]
    num_bounds = dict(
        zip(num_cols, df.approxQuantile(num_cols, qs, 0.001) if num_cols else [])
    )
    str_bounds = _string_boundaries(df, [c for c in cols if c in stringy], n_buckets)
    zval = F.lit(0).cast("bigint")
    for ci, col in enumerate(cols):
        bounds = num_bounds[col] if col in numeric else str_bounds[col]
        if not bounds:  # all-NULL column: single bucket, contributes 0 bits
            continue
        b = _bucket_expr(col, bounds, as_string=col in stringy).cast("bigint")
        for i in range(bits):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            zval = zval + F.shiftleft(bit, i * len(cols) + ci)
    return (
        df.withColumn("_z", zval)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
