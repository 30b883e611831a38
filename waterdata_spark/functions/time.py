"""Timezone-proof time helpers.

The synthetic ``events.ts`` column is nanoseconds since the epoch
(UTC) carried as a long (see schemas.load_table). These helpers
derive calendar fields with exact integer arithmetic (SQL ``div`` on
longs) — no dependence on ``spark.sql.session.timeZone`` and no
double-precision rounding (epoch-ns values ~1.7e18 exceed the 2^53
exact-integer range of doubles, so ``/`` + cast would be off-by-one
near boundaries).

Helpers take a column NAME (they build ``div`` via expr).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NS_PER_SEC = 1_000_000_000
NS_PER_HOUR = 3_600 * NS_PER_SEC
NS_PER_DAY = 24 * NS_PER_HOUR


def ns_to_date(name: str) -> Column:
    """Epoch-ns column → DateType (UTC calendar date)."""
    days = F.expr(f"`{name}` div {NS_PER_DAY}").cast("int")
    return F.date_add(F.lit("1970-01-01").cast("date"), days)


def ns_hour_of_day(name: str) -> Column:
    """Epoch-ns column → hour of (UTC) day, as long."""
    return F.expr(f"(`{name}` div {NS_PER_HOUR}) % 24").cast("long")

