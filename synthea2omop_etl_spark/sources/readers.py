"""Readers: CSV (all-text raw layer, permissive + malformed-row repair),
parquet, vocabulary TSV.

Reference behaviors re-expressed (SURVEY.md §2.1):

- S1/S2  COPY / batched CSV load → ``spark.read.csv(header=True)`` producing
  an all-string DataFrame (the reference's all-TEXT raw tables,
  etl_pipeline/etl_setup.py:326-336).
- S3  malformed-CSV repair (python/preprocess_synthea_csv.py:155-229):
  rows that lost their commas are recovered by matching a UUID prefix and
  splitting the remainder into even-width fields, padding/truncating to the
  header's column count. Implemented as a mapPartitions-style text parse —
  the one genuinely imperative per-row operator in the engine.
- S4  vocabulary TSV load with empty-string→NULL
  (python/enhanced_vocabulary_loader.py:607-756).
"""

from __future__ import annotations

import csv as _csv
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv_all_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw ingest layer: header-derived schema, every column a string.

    Mirrors the reference's all-TEXT temp tables; typing happens later via
    the cast-or-null operator (operators.typing).
    """
    return (
        spark.read.option("header", "true")
        .option("inferSchema", "false")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_vocabulary_table(
    spark: SparkSession, path: str, sep: str | None = None
) -> DataFrame:
    """OMOP vocabulary load: TSV/CSV, empty string → NULL, no inference.

    ``sep=None`` sniffs the delimiter from the header line (the reference's
    delimiter sniffing, python/enhanced_vocabulary_loader.py:607-650): tab
    if the header contains tabs, else comma.
    """
    if sep is None:
        header = spark.read.text(path).limit(1).collect()[0][0]
        sep = "\t" if "\t" in header else ","
    return (
        spark.read.option("header", "true")
        .option("sep", sep)
        .option("nullValue", "")
        .option("inferSchema", "false")
        .csv(path)
    )


def _make_repairer(header: list[str]):
    """Factory for the per-partition malformed-row repairer.

    A well-formed line parses to exactly ``len(header)`` fields. A malformed
    line (commas stripped/partially stripped) is repaired by:
      1. peeling a leading UUID if present (the reference's UUID-prefix
         heuristic),
      2. splitting the remainder into even-width chunks for the remaining
         columns,
      3. padding with "" / truncating to the header width.

    Returned as a SELF-CONTAINED closure (stdlib imports inside, no
    module-global references) so cloudpickle serializes it BY VALUE: a
    module-level function would be pickled as an import of
    ``synthea2omop_etl_spark.sources.readers``, which Python workers
    cannot resolve when the driver process runs from outside the repo
    (the package is sys.path-injected on the driver only).
    """
    ncols = len(header)

    def repair(lines):
        import csv as _c
        import io as _io
        import re as _re

        uuid_re = _re.compile(
            r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
            r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
        )
        for line in lines:
            if not line:
                continue
            row = next(_c.reader(_io.StringIO(line)))
            if len(row) == ncols:
                yield row
                continue
            if len(row) > ncols:  # extra commas: keep first n-1, rejoin
                yield row[: ncols - 1] + [",".join(row[ncols - 1 :])]
                continue
            # Too few fields: repair the single glued field heuristically.
            text = line
            out: list[str] = []
            m = uuid_re.match(text)
            if m:
                out.append(m.group(0))
                text = text[m.end() :].lstrip(",")
            remaining = ncols - len(out)
            if remaining > 0:
                if text:
                    width = max(1, len(text) // remaining)
                    chunks = [
                        text[i * width : (i + 1) * width]
                        for i in range(remaining - 1)
                    ]
                    chunks.append(text[(remaining - 1) * width :])
                    out.extend(chunks)
                out.extend([""] * (ncols - len(out)))
            yield out[:ncols]

    return repair


def read_csv_repaired(spark: SparkSession, path: str) -> DataFrame:
    """CSV reader with malformed-row repair (operator S3).

    Reads the file as text, repairs rows per-partition (distributed, no
    driver collect), and returns an all-string DataFrame with the header's
    columns. The header line is read once on the driver (it is one line).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    # One tiny driver-side read for the header only.
    header_line = spark.read.text(path).limit(1).collect()[0][0]
    header = next(_csv.reader(io.StringIO(header_line)))

    text = spark.read.text(path).filter(F.col("value") != header_line)
    repair = _make_repairer(header)

    def parse(partition: Iterator) -> Iterator[list[str]]:
        return repair(r.value for r in partition)

    rdd = text.rdd.mapPartitions(parse)
    # Explicit all-string schema: passing just the column names would make
    # createDataFrame run an extra type-inference job over the RDD.
    schema = StructType([StructField(c, StringType()) for c in header])
    return spark.createDataFrame(rdd, schema=schema)


INTERCHANGE_FORMATS = ("parquet", "orc", "json", "csv")


def read_interchange(
    spark: SparkSession, path: str, format: str = "parquet"
) -> DataFrame:
    """Format-pluggable layer read (parquet / ORC / JSON-lines / CSV).

    The reference's only interchange surface is CSV-in / Postgres-out; a
    Spark-native layer additionally speaks the columnar and line formats
    the surrounding lake does. parquet and ORC carry their own schema and
    footer stats (predicate pushdown + file skipping work identically);
    JSON and CSV are schema-on-read — pass the typed layer through
    operators.typing after loading, same as the CSV ingest path.
    """
    if format not in INTERCHANGE_FORMATS:
        raise ValueError(
            f"unsupported format {format!r}; one of {INTERCHANGE_FORMATS}"
        )
    reader = spark.read
    if format == "csv":
        return reader.option("header", "true").csv(path)
    if format == "json":
        return reader.json(path)
    return reader.format(format).load(path)
