"""The reference's ETL transform, Spark-first.

Re-expresses ``Glue Script/process_crime_data.py:19-39``:

  catalog scan -> toDF           ->  a DataFrame (the pipeline reads the
                                     landing zone as a file stream)
  withColumn new_date/month/day  ->  :func:`derive_date_parts`, identical
                                     built-ins (P1-P3)
  write glueparquet partitioned  ->  ``streaming/ingest.incremental_csv_ingest``
                                     (parquet partitioned by year, month)

Deliberate deviations (documented in SURVEY.md §4 X3):

* compression: the reference writes **uncompressed** parquet
  (``process_crime_data.py:37``, snappy commented out at ``:28``).
  The session writes zstd — strictly better at 100 TB (CPU cost is
  noise next to the S3/network savings).
* partition layout kept (``year, month``) — it is the reference's one
  real optimization (partition pruning for time-ranged queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The reference's date pattern for the Chicago-crimes `date` string
# (``process_crime_data.py:22``).
CRIME_DATE_PATTERN = "MM/dd/yyyy hh:mm:ss a"


def derive_date_parts(
    df: DataFrame,
    date_col: str = "date",
    pattern: str = CRIME_DATE_PATTERN,
) -> DataFrame:
    """``withColumn`` chain from ``process_crime_data.py:22-24``:
    parse the string date, derive month and day-of-month."""
    return (
        df.withColumn("new_date", F.to_date(F.col(date_col), pattern))
        .withColumn("month", F.month("new_date"))
        .withColumn("day", F.dayofmonth("new_date"))
    )
