"""Text-analysis operators for training-data pipelines.

All column builders are pure ``pyspark.sql.functions`` compositions —
JVM-side, codegen'd, no Python in the hot path.  Determinism contract
(oracle parity with DuckDB):

- tokenization = regex split on ``\\s+`` (DuckDB ``string_split_regex``)
- hashes = md5 hex (identical in both engines)
- ratios = integer arithmetic (``div``) instead of float division

Scale: every operator here is a narrow map over the documents table —
no shuffle at all until an explicit aggregation; safe at any corpus
size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "fingerprint_md5",
    "quality_columns",
]

TOKEN_RE = r"\s+"
# Spark SQL string literals apply C-style escapes, so the regex needs a
# doubled backslash when embedded in F.expr SQL text.
TOKEN_RE_SQL = r"\\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the BPE-ish regex baseline)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, TOKEN_RE)


def fingerprint_md5(col: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def quality_columns(text_col: str = "text") -> list[Column]:
    """Document quality signals, all integer-exact:

    - ``n_chars``     raw length
    - ``n_tokens``    whitespace token count
    - ``n_types``     distinct token count
    - ``avg_tok_len_milli``  mean token length ×1000 (integer div)
    - ``ttr_permille``       type/token ratio ×1000 (lexical diversity)
    """
    toks = tokens(text_col)
    return [
        F.length(text_col).cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
        F.expr(
            f"div(1000 * aggregate(transform(split({text_col}, '{TOKEN_RE_SQL}'), "
            f"t -> length(t)), 0, (acc, x) -> acc + x), "
            f"size(split({text_col}, '{TOKEN_RE_SQL}')))"
        ).cast("bigint").alias("avg_tok_len_milli"),
        F.expr(
            f"div(1000 * size(array_distinct(split({text_col}, '{TOKEN_RE_SQL}'))), "
            f"size(split({text_col}, '{TOKEN_RE_SQL}')))"
        ).cast("bigint").alias("ttr_permille"),
    ]
