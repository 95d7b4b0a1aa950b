from synthea2omop_etl_spark.sources.readers import (  # noqa: F401
    read_csv_all_text,
    read_csv_repaired,
    read_parquet,
    read_vocabulary_table,
)
from synthea2omop_etl_spark.sources.testdata import table_path  # noqa: F401
from synthea2omop_etl_spark.sources.writers import (  # noqa: F401
    insert_if_absent,
)
