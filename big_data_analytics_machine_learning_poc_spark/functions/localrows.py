"""Driver-local row lists → DataFrames without the parallelize fan-out.

``SparkSession.createDataFrame(list_of_rows, ddl)`` ships the rows through
a pickled Python RDD sliced into ``defaultParallelism`` partitions — for a
4-row metrics/audit frame at local[32] that is 32 Python-worker round
trips (~250 ms measured, r13 jobprof) on EVERY job that evaluates the
frame: the final collect, each broadcast build, a sort's range-sampling
pass. On a real cluster it is strictly worse: the slices are scheduled
across executors just to unpickle a handful of literal rows (guide §4:
the Python boundary is per-task, so don't multiply tasks for driver-size
data).

``local_rows_df`` keeps the same (rows, DDL schema) call shape but routes
through pandas + Arrow when enabled — the rows cross to the JVM as one
columnar batch, and a collect of the resulting frame never launches a
Python worker — and falls back to a ONE-slice pickled RDD otherwise.
Semantics match ``createDataFrame(rows, ddl)``: values are coerced to the
declared types, column order is the schema's, and a row whose arity is
not the schema's raises ``ValueError`` up front (pandas would otherwise
pad a short row with NULLs). One known difference: Arrow's safe cast is
more lenient than ``createDataFrame(rows, ddl)``'s type verification —
e.g. an integral float ``1.0`` lands in a BIGINT column on the Arrow path
where the row path rejects it. Use it for frames whose
size is O(driver state) — collected metrics, audit rows, per-partition
carries, file/seq maps — never for data-sized input (fixtures deliberately
keep the sliced path: their per-partition sampling IS the data shape).

The 1-slice fallback is taken only when pandas/pyarrow are missing or
Arrow cannot convert the values (and Spark's own Arrow fallback is off);
any other error propagates.
"""

from __future__ import annotations

from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_rows_df(spark: SparkSession, rows, ddl: str | T.StructType) -> DataFrame:
    """Small driver-local ``rows`` (list of tuples) as a DataFrame under
    the DDL (or StructType) schema, minimizing per-job task fan-out
    (module docstring)."""
    rows = list(rows)
    schema = T.StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    names = [f.name for f in schema.fields]
    for r in rows:
        if len(r) != len(names):
            raise ValueError(f"row {r!r} has {len(r)} fields; schema has {len(names)}")
    arrow = (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
        == "true"
    )
    if arrow:
        try:
            import pandas as pd
            import pyarrow as pa
        except ImportError:
            pass  # no Arrow stack: the 1-slice RDD path below
        else:
            # dtype=object keeps ints with NULLs from becoming NaN floats;
            # Arrow casts each column to the declared type on conversion
            pdf = pd.DataFrame(rows, columns=names, dtype=object)
            try:
                return spark.createDataFrame(pdf, schema=schema)
            except (pa.ArrowException, PySparkTypeError, PySparkValueError):
                pass  # Arrow could not convert: the 1-slice RDD path below
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
