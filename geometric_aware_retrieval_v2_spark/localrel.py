"""Driver-local relations as Arrow-backed LocalRelations.

Why this exists: ``spark.createDataFrame(small_list)`` parallelizes the
rows into a Python-pickled RDD spread over ``defaultParallelism`` slices
(31 of 32 empty for a one-row frame). Any plan evaluated on top of that
scan pays a Python-worker round trip PER SLICE — measured ~4.5 s for the
interactive term probe over a 1-row frame on local[32] — and collecting
256 such rows took 3.2 s on local[4].

``spark.createDataFrame(pa.Table)`` instead ships the columns to the JVM
as one Arrow stream and plans a ``LocalTableScan``: a ``collect()`` over
it (or over a projection of it, which ConvertToLocalRelation folds)
schedules no Spark job, and a broadcast of it needs no collect job.
Values keep their exact bits (float64 scores and idfs, arbitrary text)
with no SQL text to render or parse: the build cost is ~15-20 ms whatever
the row count, measured on local[4] from 1 to 256 query rows and up to
2,560 result rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# consumers introspect this tag to skip their own bounded row fetch;
# it holds the exact [(qid, text), ...] the relation was built from
LOCAL_ROWS_ATTR = "_spark_graft_local_rows"


def local_df(spark: SparkSession, **cols) -> DataFrame:
    """LocalRelation over driver-side columns (NumPy arrays or ``pa.Array``s,
    in keyword order); a collect() of it, or of a projection of it, runs
    no Spark job. Column types are the Arrow types of the arrays — pass a
    typed ``pa.array`` where a column may be empty or all-null."""
    return spark.createDataFrame(pa.table(cols))


def local_queries_df(
    spark: SparkSession, rows: list[tuple[int | None, str | None]]
) -> DataFrame:
    """(qid long, text string) LocalRelation from driver-side rows.

    The result is tagged with ``_spark_graft_local_rows`` so the
    query probe (operators/index._interactive_trip) can reuse
    the rows directly instead of re-fetching them with a take()."""
    clean = [
        (int(q) if q is not None else None, t if t is None else str(t))
        for q, t in rows
    ]
    df = local_df(
        spark,
        qid=pa.array([q for q, _ in clean], pa.int64()),
        text=pa.array([t for _, t in clean], pa.string()),
    )
    setattr(df, LOCAL_ROWS_ATTR, clean)
    return df
