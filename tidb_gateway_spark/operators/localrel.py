"""Small driver-computed row sets as all-JVM literal plans.

``spark.createDataFrame(rows)`` is RDD-backed (the executed plan
carries ``Scan ExistingRDD (applySchemaToPythonRDD)``), so EVERY
execution of the consuming plan round-trips a Python worker just to
materialize a handful of driver-computed rows — measured ~0.3-1 s per
run at fixture scale, routinely dwarfing the data pass it feeds
(guide §4: eliminate the JVM↔Python boundary).  ``explode`` of a
literal struct array stays a JVM-local ``Range → Generate`` subtree:
zero Python in the executed plan, and the literals ride the plan
itself so nothing re-executes on reuse.

Used by every hybrid operator whose driver path returns metadata-sized
results (union-find labels, PageRank vectors, per-stratum rate
tables, expectation tables).  Above ``cap`` rows the literal plan
would bloat codegen, so those rows go through pandas and Arrow
instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Literal plans are built lit-by-lit over py4j — ~7 gateway round
# trips per row — so past a few dozen rows the CONSTRUCTION cost
# (measured ~7 s for ~500 rows) dwarfs the per-execution Python
# round-trip being avoided.  Larger sets take the pandas/Arrow route:
# one Arrow conversion at construction, JVM-held batches at execution,
# still zero Python workers per run.
_LITERAL_ROW_CAP = 32


def _schema_of(schema: StructType | str) -> StructType:
    if isinstance(schema, StructType):
        return schema
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema)


def local_rows_df(spark: SparkSession, rows: list,
                  schema: StructType | str,
                  cap: int = _LITERAL_ROW_CAP) -> DataFrame:
    """``rows`` (list of tuples, driver-computed, metadata-sized) as a
    DataFrame whose executed plan is pure JVM when ``len(rows) <= cap``.

    Exact-typed: every literal is cast to the declared field type, so
    the result schema matches ``createDataFrame``'s bit for bit (the
    oracle-hash contract).  Above ``cap`` rows the pandas/Arrow
    ``createDataFrame`` builds it; empty input takes the plain
    ``createDataFrame`` (zero-row literal plans need a typed empty
    relation anyway).
    """
    st = _schema_of(schema)
    if not rows:
        return spark.createDataFrame(rows, schema=st)
    if len(rows) > cap:
        # Above the literal cap, route through pandas so the session's
        # Arrow path (arrow.pyspark.enabled) serializes the rows as
        # JVM-held Arrow batches — still no Python worker per
        # execution, unlike the plain-rows form whose plan re-enters
        # applySchemaToPythonRDD every run.  An error here is raised,
        # never answered with that plain-rows form.
        import pandas as pd

        pdf = pd.DataFrame.from_records(
            list(rows), columns=[f.name for f in st.fields])
        return spark.createDataFrame(pdf, schema=st)
    structs = [
        F.struct(*[
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(row, st.fields)
        ])
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )
