from synthea2omop_etl_spark.functions.scalar import (  # noqa: F401
    age_in_years,
    date_plus_one_year_minus_day,
    ilike,
    pct,
    safe_div,
    source_value,
    truncate_str,
)
