from synthea2omop_etl_spark.domains.events import (  # noqa: F401
    condition_occurrence,
    device_exposure,
    drug_exposure,
    measurement_and_observation,
    procedure_occurrence,
)
from synthea2omop_etl_spark.domains.payer import payer_plan_period  # noqa: F401
from synthea2omop_etl_spark.domains.person import person  # noqa: F401
from synthea2omop_etl_spark.domains.provider import care_site, provider  # noqa: F401
from synthea2omop_etl_spark.domains.visits import visit_occurrence  # noqa: F401
