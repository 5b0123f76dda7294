"""Cross-engine-exact numeric helpers (oracle parity, SURVEY.md §5.3).

Floating-point aggregation order differs between Spark and any oracle
engine, so large double sums can disagree in the last ulps — enough to
break a value-hash comparison. The corpus money columns are exact
2-decimal values (measured: max |x - round(x,2)| = 0.0), so we aggregate
in integer cents: exact, associative, order-independent, and identical in
every engine. Divide back to doubles only after the sum.

This is also the right 100 TB pattern: long sums are cheaper than double
sums to merge exactly, and partial aggregation (map-side combine) stays
lossless.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """Exact 2-dp money column → integer cents (long)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def pct(col: Column | str) -> Column:
    """Exact 2-dp ratio column (discount/tax in [0,1]) → integer percent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


# DuckDB-side spellings of the same helpers, for oracle SQL strings.
def duck_cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100, 0) AS BIGINT)"


def duck_pct(expr: str) -> str:
    return f"CAST(round(({expr}) * 100, 0) AS BIGINT)"
