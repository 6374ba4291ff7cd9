"""Driver-local query frames as parameterized VALUES LocalRelations.

Why this exists: ``spark.createDataFrame(small_list)`` parallelizes the
rows into a Python-pickled RDD spread over ``defaultParallelism`` slices
(31 of 32 empty for a one-row frame). Any plan evaluated on top of that
scan pays a Python-worker round trip PER SLICE — measured ~4.5 s for the
interactive term probe over a 1-row frame on local[32], vs ~0.1 s for the
identical plan over an inline VALUES LocalRelation. A VALUES relation
also folds through ConvertToLocalRelation, so downstream limit/collect
and broadcast steps schedule no Spark jobs at all.

Text rides named parameter markers (never string-formatted into the SQL):
quotes, backslashes, newlines, and unicode round-trip exactly, and there
is no injection surface. Parse+bind cost is linear, ~1.6 ms/row — the
interactive regime (<= 256 queries) pays < 0.5 s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# consumers introspect this tag to skip their own bounded row fetch;
# it holds the exact [(qid, text), ...] the relation was built from
LOCAL_ROWS_ATTR = "_spark_graft_local_rows"


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
    if not clean:
        df = spark.sql(
            "SELECT CAST(NULL AS LONG) AS qid, CAST(NULL AS STRING) AS text "
            "WHERE 1=0"
        )
    else:
        args: dict[str, int | str | None] = {}
        vals = []
        for i, (q, t) in enumerate(clean):
            args[f"q{i}"] = q
            args[f"t{i}"] = t
            vals.append(f"(:q{i},:t{i})")
        df = spark.sql(
            "SELECT CAST(col1 AS LONG) AS qid, CAST(col2 AS STRING) AS text "
            "FROM VALUES " + ",".join(vals),
            args=args,
        )
    setattr(df, LOCAL_ROWS_ATTR, clean)
    return df
