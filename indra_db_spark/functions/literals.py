"""Literal sets built in one JVM round trip.

``Column.isin(values)`` turns every Python value into its own literal
column, one py4j call each: 10,000 longs take seconds on the driver
before any Spark job starts. The same ``In`` predicate parsed from SQL
text is one call, and it plans identically — the same pushed parquet
filter, the same bucket pruning.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def in_longs(col: str, values: Iterable[int]) -> Column:
    """``col IN (values)`` over bigint literals; ``lit(False)`` when
    ``values`` is empty (``IN ()`` does not parse)."""
    items = ", ".join(f"{int(v)}L" for v in values)
    return F.expr(f"`{col}` IN ({items})") if items else F.lit(False)
