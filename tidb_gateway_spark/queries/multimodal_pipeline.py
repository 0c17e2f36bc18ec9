"""Q108–Q109: multimodal pipeline stages beyond q81's decode —
feature extraction and video frame sampling (operators/multimodal.py).

Both are Arrow-batched ``mapInPandas`` stages whose model/codec step is
a clearly-marked deterministic stub (the container carries no vision
codecs), with the Spark-side plumbing real and value-checked: the
DuckDB oracles recompute the stub arithmetic from md5 hex, so the
array<float> feature column, the 1→k frame expansion, and the batch
shapes are verified end-to-end, not just row-counted.

The reference relays any such workload as opaque bytes
(/root/reference/gateway/relay.go:47-66); these stages are
driver-mandated LLM-pipeline capability (SURVEY.md §2B-ext).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators import multimodal
from tidb_gateway_spark.operators.multimodal import ddb_payload_byte
from tidb_gateway_spark.operators.sampling import ddb_hex_int, hex_int
from tidb_gateway_spark.queries.registry import register

# ---------------------------------------------------------------- Q108
_FMT_CASE = (
    f"(CASE {ddb_payload_byte(2)} % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' "
    "ELSE 'webp' END)"
)
_Q108_ORACLE = (
    "WITH hx AS (SELECT md5(text) AS h FROM documents), "
    f"f AS (SELECT {_FMT_CASE} AS fmt, "
    + ", ".join(f"{ddb_payload_byte(d)} / 256.0 AS f{d}" for d in range(4))
    + " FROM hx) "
    "SELECT fmt, COUNT(*) AS n, "
    + ", ".join(
        f"FLOOR(AVG(f{d}) * 1000000 + 0.5) / 1000000 AS a{d}"
        for d in range(4)
    )
    + " FROM f GROUP BY fmt ORDER BY fmt"
)


@register(
    "q108_multimodal_feature_extract",
    _Q108_ORACLE,
    doc="Multimodal feature extraction: payload bytes → array<float> "
        "embedding via Arrow-batched mapInPandas (CLIP-encoder shape; "
        "operators/multimodal.py:extract_features), aggregated to "
        "per-format feature centroids. The stub feature (byte/256 — "
        "exact in f32 AND f64) lets the oracle verify the whole Arrow "
        "array path bit-identically.",
    tags=("multimodal", "llm", "pandas_udf"),
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = multimodal.extract_features(multimodal.with_synthetic_binary(d))
    return (
        feats.groupBy("fmt")
        .agg(
            F.count("*").alias("n"),
            *[
                stable_round(F.avg(F.col("feat")[d]), 6).alias(f"a{d}")
                for d in range(4)
            ],
        )
        .orderBy("fmt")
    )


# ---------------------------------------------------------------- Q109
_Q109_ORACLE = (
    "WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents), "
    f"nf AS (SELECT doc_id, h, {ddb_payload_byte(3)} % 30 + 1 AS n FROM hx), "
    "fr AS (SELECT doc_id, UNNEST(range(0, n, 5)) AS idx, h FROM nf), "
    "k AS (SELECT doc_id, CAST(idx AS INT) AS frame_idx, "
    "md5(h || '|' || CAST(idx AS VARCHAR)) AS key FROM fr) "
    "SELECT COUNT(*) AS frames, COUNT(DISTINCT doc_id) AS docs, "
    "CAST(MAX(frame_idx) AS INT) AS max_idx, "
    f"CAST(SUM({ddb_hex_int('key', 1, 8)}) AS BIGINT) AS ck FROM k"
)


@register(
    "q109_video_frame_sampling",
    _Q109_ORACLE,
    doc="Video frame sampling: every 5th frame of each clip emitted as "
        "its own row via mapInPandas (1→k Arrow batch expansion; "
        "operators/multimodal.py:sample_frames), verified by a frame-"
        "key checksum the oracle recomputes. The expansion shape — not "
        "the stub decode — is the load-bearing part: real video "
        "pipelines fan out exactly like this, then repartition to "
        "rebalance long-clip skew.",
    tags=("multimodal", "llm", "pandas_udf"),
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(multimodal.with_synthetic_binary(d))
    return frames.agg(
        F.count("*").alias("frames"),
        F.countDistinct("doc_id").alias("docs"),
        F.max("frame_idx").alias("max_idx"),
        F.sum(hex_int(F.col("frame_key"), 1, 8)).alias("ck"),
    )


# ---------------------------------------------------------------- Q149
_Q149_RMS = " + ".join(
    f"({ddb_payload_byte(k)} - 128) * ({ddb_payload_byte(k)} - 128)" for k in range(16)
)
_Q149_ORACLE = (
    "WITH hx AS (SELECT md5(text) AS h FROM documents), "
    f"a AS (SELECT (CASE {ddb_payload_byte(0)} % 3 WHEN 0 THEN 16000 "
    "WHEN 1 THEN 22050 ELSE 44100 END) AS sample_rate, "
    f"CAST({_Q149_RMS} AS BIGINT) AS rms_q FROM hx) "
    "SELECT CAST(sample_rate AS INT) AS sample_rate, COUNT(*) AS n, "
    "CAST(SUM(rms_q) AS BIGINT) AS energy "
    "FROM a GROUP BY 1 ORDER BY sample_rate"
)


@register(
    "q149_audio_feature_stub",
    _Q149_ORACLE,
    doc="Audio leg of the multimodal triple (image q108 / video q109 / "
        "audio here): synthetic payload → Arrow-batched mapInPandas "
        "feature extraction (operators/multimodal.py:"
        "extract_audio_features) → per-sample-rate clip counts and "
        "integer-quantized RMS energy. The waveform decode is the "
        "documented stub (bytes as 8-bit samples); the energy sum is "
        "integer-exact, so the oracle recomputes the whole mapInPandas "
        "path from md5 hex bit-identically.",
    tags=("multimodal", "llm", "pandas_udf", "audio"),
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = multimodal.extract_audio_features(
        multimodal.with_synthetic_binary(d))
    return (
        feats.groupBy("sample_rate")
        .agg(F.count("*").alias("n"), F.sum("rms_q").alias("energy"))
        .orderBy("sample_rate")
    )
