"""Hash-stable aggregates over double columns.

``SUM(double)`` is non-associative: Spark's partial (map-side)
aggregation adds in partition order while DuckDB adds sequentially, so
the two can differ in the last ulp and ``ROUND(x, n)`` then flips a
digit when the true value sits near a rounding boundary. The round-1
driver run (CORRECTNESS_r01.json) caught exactly this on
flagship_report / agg_groupby_sum / agg_groupby_multi.

Fix (VERDICT.md round 1, item 1): accumulate in DECIMAL(38,6) —
decimal addition is associative, so any partial-aggregation tree
produces the same exact value — then round and cast back to double.
Both engines round decimals half-away-from-zero (Spark HALF_UP,
DuckDB verified 1.255→1.26, 2.5→3), and the decimal→double cast of the
rounded sum is exact while the unscaled value stays < 2^53 (true for
every test-scale magnitude; the per-value double→decimal cast is
likewise exact-then-round on both engines for |v| < ~9e9 at scale 6).

DuckDB's AVG(DECIMAL) returns a sequentially-accumulated double, so
averages are expressed as exact-decimal SUM / COUNT instead.

Scale notes: decimal(38,6) sums hash-aggregate (fixed-width mutable
buffer, stays in WholeStageCodegen) and cost within ~2x of double
sums; map-side partials and shuffle shape are unchanged. This is the
right trade at 100 TB too — exact money-style accumulation is what
you'd deploy, not a floating sum that drifts with partition count.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec_sum(c: str | Column, scale: int) -> Column:
    """Order-independent SUM of a double column, rounded to ``scale``."""
    return F.round(F.sum(_col(c).cast(DEC)), scale).cast("double")


def dec_avg(c: str | Column, scale: int) -> Column:
    """Order-independent AVG of a double column: exact decimal sum /
    non-null count, both deterministic, then one double division."""
    c = _col(c)
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(c), scale)

