from synthea2omop_etl_spark.analytics.achilles_catalog import (  # noqa: F401
    ANALYSIS_NAMES,
    run_default_analyses,
)
from synthea2omop_etl_spark.analytics.achilles_lite import (  # noqa: F401
    drug_strength_rollup,
    list_tables,
    monthly_trend,
    records_per_person_distribution,
    run_sql,
    table_page,
)
