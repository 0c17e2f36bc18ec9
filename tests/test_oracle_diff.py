"""Differential oracle test: every SQL-expressible declared query runs on
Spark and on DuckDB and must produce identical canonical results
(SURVEY.md §5.2 item 1 — the primary correctness gate)."""

from __future__ import annotations

import pytest

from bench import duckdb_connect
from tidb_gateway_spark.catalog import TABLES
from tidb_gateway_spark.queries import REGISTRY

from tests.oracle_diff import diff_report

QIDS = sorted(REGISTRY)

# Every query whose oracle reads the text table, checked again on the
# whitespace-perturbed fixture copies (tests/perturbed_fixtures.py):
# the generated corpus has single spaces and no blank document, so a
# tokenizer or a per-text ratio that mishandles either passes on it.
TEXT_QIDS = sorted(q for q, s in REGISTRY.items()
                   if s.oracle and "documents" in s.oracle)


def _assert_matches_oracle(spark, ddb, sf_dir, qid):
    spec = REGISTRY[qid]
    sdf = spec.spark(spark, sf_dir)
    # Registry-wide output lint (VERDICT r7 directive 2): the driver's
    # pandas canonicalizer cannot hash complex cells, so no declared
    # output may carry a top-level array/map/struct column — serialize
    # via array_join / to_json instead (q190 was red in r7 for this).
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"{qid}: declared output has complex top-level columns "
        f"{complex_cols} — driver canonicalization would crash; "
        "serialize them (array_join / to_json)"
    )
    spark_pdf = sdf.toPandas()
    assert len(spark_pdf) >= 0  # smoke: executes
    if spec.oracle is None:
        assert spark_pdf is not None
        return
    ddb_pdf = ddb.execute(spec.oracle).fetchdf()
    problems = diff_report(spark_pdf, ddb_pdf, qid)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("qid", QIDS)
def test_query_matches_oracle(spark, ddb, sf_dir, qid):
    _assert_matches_oracle(spark, ddb, sf_dir, qid)


@pytest.fixture(scope="module")
def irregular_ddb(irregular_sf_dir):
    con = duckdb_connect(irregular_sf_dir, TABLES)
    yield con
    con.close()


@pytest.fixture(scope="module")
def blank_ddb(blank_sf_dir):
    con = duckdb_connect(blank_sf_dir, TABLES)
    yield con
    con.close()


def test_text_and_blank_qids_are_registered():
    assert len(TEXT_QIDS) > 100


@pytest.mark.parametrize("qid", TEXT_QIDS)
def test_query_matches_oracle_irregular_spacing(
        spark, irregular_ddb, irregular_sf_dir, qid):
    _assert_matches_oracle(spark, irregular_ddb, irregular_sf_dir, qid)


@pytest.mark.parametrize("qid", TEXT_QIDS)
def test_query_matches_oracle_blank_docs(spark, blank_ddb, blank_sf_dir, qid):
    _assert_matches_oracle(spark, blank_ddb, blank_sf_dir, qid)
