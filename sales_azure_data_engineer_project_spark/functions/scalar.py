"""Named scalar helpers.

Each cites the reference use-site it generalizes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["split_part", "safe_div"]


def split_part(col: Column | str, delim: str, index: int) -> Column:
    """`split(col, delim)[index]` — the model_category derivation at
    `2_Silver_Notebook.py:33` (`split(col('Model_ID'),'-')[0]`)."""
    return F.split(F.col(col) if isinstance(col, str) else col, delim).getItem(index)


def safe_div(num: Column | str, den: Column | str) -> Column:
    """Division with divide-by-zero → NULL, generalizing `Rev_Per_unit`
    at `2_Silver_Notebook.py:49`.  The reference ran Spark 3 non-ANSI
    (x/0 → NULL silently); Spark 4 defaults to ANSI where `/` throws, so
    ``try_divide`` reproduces the reference semantics without turning
    ANSI off globally.  long/long → double either way."""
    num = F.col(num) if isinstance(num, str) else num
    den = F.col(den) if isinstance(den, str) else den
    return F.try_divide(num, den)
