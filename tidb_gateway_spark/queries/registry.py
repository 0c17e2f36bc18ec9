"""Declared-query registry.

Each :class:`QuerySpec` pairs a Spark implementation (DataFrame-API or
``spark.sql`` — whichever is the idiomatic Spark expression of the
operator) with an equivalent DuckDB oracle SQL string.  The correctness
driver executes both at sf0.01 and hash-matches row-count + schema +
values (columns sorted by name), so **every computed column is aliased to
the same name in both forms** (FIXTURES.md canonicalization rules).

An oracle is fixed when its query registers: a ``QuerySpec`` is frozen
and never replaced afterwards.  Oracles are assembled from the DuckDB
twins that ``operators/`` exports beside each shared Spark form (salted
hashes in ``sampling``, MinHash/SimHash in ``dedup``, count-min cells
in ``sketch``, the quality score in ``text``, payload bytes in
``multimodal``), never from another query module's private SQL.  Only
specs whose semantics are not SQL-expressible (stateful streaming,
multimodal decode stubs) register ``oracle=None`` and get a rows-only
check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    qid: str                  # registry key, e.g. "q22_tpch_q1_agg"
    spark: SparkFn            # (spark, sf_dir) -> DataFrame
    oracle: str | None        # DuckDB SQL over the fixture views, or None
    doc: str = ""             # operator description + survey/reference cites
    tags: tuple[str, ...] = field(default=())


def register(qid: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: register a Spark callable under ``qid``."""

    def wrap(fn: SparkFn) -> SparkFn:
        if qid in REGISTRY:
            raise ValueError(f"duplicate query id {qid!r}")
        REGISTRY[qid] = QuerySpec(qid=qid, spark=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return fn

    return wrap


def sql_query(qid: str, spark_sql: str, oracle: str | None = None, doc: str = "",
              tags: tuple[str, ...] = ()) -> None:
    """Register a query whose Spark form is a SQL string over the views.

    If ``oracle`` is None the same SQL text is used for DuckDB (dialect-
    shared queries).
    """
    from tidb_gateway_spark.catalog import register_views

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(spark_sql)

    fn.__doc__ = doc
    register(qid, oracle if oracle is not None else spark_sql, doc, tags)(fn)
