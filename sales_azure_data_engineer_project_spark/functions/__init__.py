"""Scalar/function library (SURVEY §2.7).

Everything here is a thin, named, unit-testable composition of built-in
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd.  No Python
UDFs (the reference also has zero UDFs, SURVEY §2.10).  Surrogate keys
are not a scalar: they come from the dimension window,
``operators.dimensions.assign_surrogate_keys``.
"""

from .scalar import safe_div, split_part

__all__ = ["safe_div", "split_part"]
