"""Scalar function surface (SURVEY.md §2.8) — reference idioms as Columns.

Everything here compiles to built-in Catalyst expressions (JVM-side,
whole-stage-codegen'd); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def ilike(col: Column | str, pattern: str) -> Column:
    """Postgres ILIKE '%pat%' (sql/etl/synthea-omop-ETL.sql:91-94)."""
    return _c(col).rlike("(?i)" + pattern.strip("%").replace("%", ".*"))


def date_plus_one_year_minus_day(col: Column | str) -> Column:
    """``d + INTERVAL '1 year - 1 day'`` (sql/etl/synthea-omop-ETL.sql:550)."""
    return F.date_sub(F.add_months(_c(col), 12), 1)


def age_in_years(at_date: Column | str, birth_date: Column | str) -> Column:
    """Completed years between birth_date and at_date (Achilles age calc)."""
    return F.floor(F.months_between(_c(at_date), _c(birth_date)) / 12).cast("int")


def safe_div(num: Column | str, den: Column | str) -> Column:
    """x / NULLIF(y, 0) (python/enhanced_synthea_to_omop.py:2423)."""
    d = _c(den)
    return _c(num) / F.when(d != 0, d)


def pct(num: Column | str, den: Column | str, scale: int = 2) -> Column:
    """ROUND(100.0 * x / NULLIF(y,0), 2) — the reference's ratio idiom."""
    return F.round(F.lit(100.0) * safe_div(num, den), scale)


def truncate_str(col: Column | str, n: int) -> Column:
    """SUBSTRING(v,1,n) varchar-fit (transform_measurement_and_observation.sql:54)."""
    return F.substring(_c(col), 1, n)


def source_value(system: Column | str, code: Column | str) -> Column:
    """CONCAT(system, ': ', code) (sql/etl/synthea-omop-ETL.sql:158)."""
    return F.concat_ws(": ", _c(system), _c(code))
