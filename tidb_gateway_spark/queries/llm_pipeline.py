"""Q60–Q66: LLM-data-pipeline operators (driver-mandated, SURVEY.md §2B).

Exact dedup, near-dup candidates, similarity top-k, tokenize/TF, and
profiling over the ``documents`` / ``embeddings`` fixtures.  The extended
operator families (MinHash-LSH, SimHash, Jaccard verify, ANN, language
ID, quality scoring, fingerprinting — Q72+) live in
``queries/llm_extended.py`` on top of ``operators/``.

Scale notes: everything here is shuffle-by-key DataFrame code.  Exact
dedup at 100 TB = hash-groupBy on md5(text) — one shuffle of (hash,
doc_id) pairs, never of full text.  The top-k similarity is a broadcast
of the single query vector — no shuffle at all on the embeddings side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators.text import ddb_word_rows, word_rows
from tidb_gateway_spark.queries.registry import register


@register(
    "q60_exact_dedup_hash",
    "SELECT COUNT(DISTINCT MD5(text)) AS u, COUNT(*) AS n FROM documents",
    doc="Exact dedup by content hash: unique-hash count vs total. The "
        "shuffle carries 16-byte hashes, not document text.",
    tags=("dedup", "llm"),
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.countDistinct(F.md5("text")).alias("u"), F.count("*").alias("n")
    )


@register(
    "q61_dedup_keep_first",
    "SELECT COUNT(*) AS n FROM (SELECT doc_id, ROW_NUMBER() OVER "
    "(PARTITION BY MD5(text) ORDER BY doc_id) AS rn FROM documents) t WHERE rn = 1",
    doc="Keep-first dedup: row_number over content-hash partitions, keep "
        "rn=1 (deterministic winner = lowest doc_id).",
    tags=("dedup", "llm"),
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.select("doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .agg(F.count("*").alias("n"))
    )


@register(
    "q62_neardup_prefix_candidates",
    "SELECT LOWER(SUBSTR(text,1,40)) AS p, COUNT(*) AS n FROM documents "
    "GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY p",
    doc="Near-dup candidate buckets by normalized prefix — the "
        "deterministic declared proxy for MinHash banding (full "
        "MinHash-LSH is q72, same bucket-join shape).",
    tags=("dedup", "llm"),
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.lower(F.substring("text", 1, 40)).alias("p"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("p")
    )


@register(
    "q63_similarity_topk",
    "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) "
    "SELECT e.vec_id, "
    "FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))*10000 + 0.5)/10000 AS dp "
    "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0 "
    "ORDER BY dp DESC, e.vec_id LIMIT 5",
    doc="Brute-force similarity search top-k against a broadcast query "
        "vector, via operators.similarity.brute_force_topk. At 100 TB the "
        "LSH-bucketed variant (q76) prunes candidates before the exact "
        "rerank; this brute-force path is the exact baseline.",
    tags=("similarity", "llm"),
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0)
    return brute_force_topk(e.filter(F.col("vec_id") != 0), qvec, k=5, metric="dot")


@register(
    "q64_tokenize_tf",
    f"SELECT w, COUNT(*) AS n FROM ({ddb_word_rows()}) t "
    "GROUP BY w ORDER BY n DESC, w LIMIT 20",
    doc="Whitespace tokenize + explode + term frequency (top-20).",
    tags=("text", "llm"),
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        word_rows(d)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(20)
    )


@register(
    "q65_profile_by_lang_source",
    "SELECT lang, source, COUNT(*) AS n, FLOOR(AVG(n_chars)*100 + 0.5)/100 AS ac "
    "FROM documents GROUP BY lang, source ORDER BY lang, source",
    doc="Corpus profiling by language × source.",
    tags=("text", "llm"),
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("n"), stable_round(F.avg("n_chars"), 2).alias("ac"))
        .orderBy("lang", "source")
    )


@register(
    "q66_embedding_label_stats",
    "SELECT label, COUNT(*) AS n, FLOOR(AVG(CAST(embedding[1] AS DOUBLE))*1000000 + 0.5)/1000000 AS a0 "
    "FROM embeddings GROUP BY label ORDER BY label",
    doc="Aggregates over an array (multimodal-adjacent) column.",
    tags=("llm", "array"),
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            stable_round(F.avg(F.col("embedding")[0].cast("double")), 6).alias("a0"),
        )
        .orderBy("label")
    )
