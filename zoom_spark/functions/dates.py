"""Date/time scalar functions (SURVEY.md §2.8 F1–F6).

All JVM-side built-ins — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def school_year_start(d: Column | str) -> Column:
    """F5 — fiscal/school-year floor: Aug 1 of the current year when
    month > 6, else Aug 1 of the previous year
    (/root/reference/main.py:242-249), generalized to any date column."""
    c = F.col(d) if isinstance(d, str) else d
    year = F.when(F.month(c) > 6, F.year(c)).otherwise(F.year(c) - 1)
    return F.make_date(year, F.lit(8), F.lit(1))


def next_day_date(ts: Column | str) -> Column:
    """F2+F3 — timestamp -> date -> +1 day (/root/reference/main.py:266)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_add(F.to_date(c), 1)


def fmt_ymd(d: Column | str) -> Column:
    """F4 — strftime('%Y-%m-%d') (/root/reference/main.py:239)."""
    c = F.col(d) if isinstance(d, str) else d
    return F.date_format(c, "yyyy-MM-dd")
