"""Text-analysis operators for training-data pipelines.

All column builders are pure ``pyspark.sql.functions`` compositions —
JVM-side, codegen'd, no Python in the hot path.  Determinism contract
(oracle parity with DuckDB):

- tokenization = regex split on ``\\s+`` (DuckDB ``string_split_regex``)
- hashes = md5 hex (identical in both engines)

Scale: every operator here is a narrow map over the documents table —
no shuffle at all until an explicit aggregation; safe at any corpus
size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "fingerprint_md5",
]

TOKEN_RE = r"\s+"


def fingerprint_md5(col: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))
