"""File-level data skipping over plain parquet.

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

Scale shape: footer reads touch KB-sized metadata per file.  Everything here is
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

