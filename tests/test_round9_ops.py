"""Round-9 operator tests: streaming index maintenance (q244) and the
distribution/quality additions (q245–q251) — semantics beyond the
oracle diff, plus the plan properties that matter at 100 TB."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tidb_gateway_spark.plans import inspect
from tidb_gateway_spark.queries import REGISTRY


def test_q244_stream_maintained_index_equals_batch_build(spark, sf_dir):
    """Losslessness end-to-end: serving the conjunctive probe from the
    STREAM-maintained index (4 micro-batches, delta dictionaries merged
    on read) must give exactly the batch-built q220 answer."""
    a = REGISTRY["q244_streaming_index_maintenance"].spark(spark, sf_dir)
    b = REGISTRY["q220_inverted_index_roundtrip"].spark(spark, sf_dir)
    assert [r["doc_id"] for r in a.collect()] == [
        r["doc_id"] for r in b.collect()]


def test_q244_companion_is_incremental(spark, sf_dir):
    """The companion must really be built from multiple micro-batches:
    meta records >1 batch and the delta dictionary holds >1 segment
    file (append-only LSM deltas, not one rewrite)."""
    from tidb_gateway_spark.queries.streaming_retrieval import _q244_index

    path = _q244_index(spark, sf_dir)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert meta["n_batches"] >= 2, meta
    dict_files = [
        f for root, _, fs in os.walk(os.path.join(path, "dict"))
        for f in fs if f.endswith(".parquet")
    ]
    assert len(dict_files) >= meta["n_batches"], dict_files


def test_q245_percentiles_are_monotone(spark, sf_dir):
    rows = REGISTRY["q245_grouped_weighted_percentiles"].spark(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["p50"] <= r["p90"] <= r["p99"], r


def test_q246_entropy_stays_jvm_side(spark, sf_dir):
    """The char-entropy pass must be whole-stage-codegen'd JVM work
    with a map-side partial aggregate — no Python stage."""
    df = REGISTRY["q246_char_entropy_buckets"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "BatchEvalPython" not in text, text
    assert inspect.has_partial_aggregate(df)


def test_q248_no_all_pairs(spark, sf_dir):
    """The duplication matrix must ride the banded candidate join —
    never a cartesian/nested-loop comparison."""
    df = REGISTRY["q248_cross_source_dup_matrix"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "CartesianProduct" not in text, text
    assert "NestedLoop" not in text, text


def test_q248_pairs_are_normalized(spark, sf_dir):
    for r in REGISTRY["q248_cross_source_dup_matrix"].spark(
            spark, sf_dir).collect():
        assert r["source_a"] <= r["source_b"], r


def test_q249_ci_brackets_mean(spark, sf_dir):
    [r] = REGISTRY["q249_block_jackknife_ci"].spark(
        spark, sf_dir).collect()
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"], r
    assert r["se"] >= 0, r


def test_q250_cosine_is_bounded(spark, sf_dir):
    rows = REGISTRY["q250_embedding_norm_drift"].spark(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r["cos_to_global"] <= 1.0 + 1e-9, r
        assert r["norm_std"] >= 0, r


def test_q251_topk_is_take_ordered(spark, sf_dir):
    """The anomaly top-k must plan TakeOrdered over the aggregated
    (type, day) frame, never a global sort of raw events."""
    df = REGISTRY["q251_seasonal_anomaly_residual"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "TakeOrderedAndProject" in text, text


def test_q245_no_python_stage(spark, sf_dir):
    df = REGISTRY["q245_grouped_weighted_percentiles"].spark(
        spark, sf_dir)
    assert "BatchEvalPython" not in inspect.explain_formatted(df)


def test_q252_gram_partials_are_batch_local(spark, sf_dir):
    """The covariance kernel must shuffle only the long-form partial
    rows (an aggregate above MapInPandas) — never N·D² exploded
    pairs."""
    df = REGISTRY["q252_embedding_covariance_block"].spark(
        spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "MapInPandas" in text, text
    assert "Generate" not in text.split("\n\n")[0], text


def test_q252_is_symmetric_psd_diagonal(spark, sf_dir):
    """Variances (diagonal) must be non-negative and the block upper
    triangular (i <= j) by construction."""
    rows = REGISTRY["q252_embedding_covariance_block"].spark(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["i"] <= r["j"], r
        if r["i"] == r["j"]:
            assert r["cov"] >= 0, r


def test_q253_kappa_bounds(spark, sf_dir):
    [r] = REGISTRY["q253_cohens_kappa"].spark(spark, sf_dir).collect()
    assert 0 <= r["po_"] <= 1 and 0 <= r["pe_"] <= 1, r
    assert -1 <= r["kappa"] <= 1, r


def test_semantic_pairs_consistent_with_report(spark, sf_dir):
    """The blocked pair emitter and the blocked report must agree:
    per-cell pair counts and dropped (distinct higher-id) counts from
    the pairs themselves equal the report's aggregates."""
    from tidb_gateway_spark.catalog import load_table
    from tidb_gateway_spark.operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    seeds = [
        (r["vec_id"], list(r["embedding"]))
        for r in e.orderBy("vec_id").limit(8).collect()
    ]
    assigned = similarity.semantic_cells(e, seeds)
    pairs = similarity.semantic_neardup_pairs(assigned, tau_bps=3500)
    got = {
        r["cell"]: (r["np"], r["nd"])
        for r in pairs.groupBy("cell").agg(
            F.count("*").alias("np"),
            F.countDistinct("b").alias("nd")).collect()
    }
    rep = similarity.semantic_dedup_report(assigned, tau_bps=3500)
    for r in rep.collect():
        assert got.get(r["cell"], (0, 0)) == (r["n_pairs"], r["n_dropped"]), r
