"""Q201–Q203, Q207: corpus-curation operators a large-scale
training-data pipeline runs between dedup and packing — epoch
upsampling, per-domain caps, vocabulary/OOV audit, and the padding-
waste report that motivates length bucketing.

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q201's upsampling is a deterministic row multiplication —
  explode(sequence(1, k)) with k from a literal per-language map.
  Nothing shuffles to replicate (the explode is map-side); only the
  dimension-sized report aggregate exchanges.  This is how mixtures
  with >1 epoch over a small high-quality source (wiki×4, books×2)
  are actually materialized for training runs.
* q202's per-domain cap is the crawl-curation group-limit: ONE
  row_number window per domain, ordered by a salted hash (so "which
  docs survive" is deterministic but unbiased), group sizes bounded
  by the cap afterwards.  The window key is the domain — high
  cardinality at scale, so the shuffle is well-spread; a skewed
  mega-domain is exactly what the cap cuts.
* q203 builds the vocabulary as a top-K global token rank (two
  map-side-combined aggregates over token counts — the vocabulary is
  dimension-sized) and broadcasts it back as membership flags; the
  OOV rate per language is then one more partial-aggregated scan.
  At 100 TB the vocab build and the OOV audit share the token-count
  exchange.
* q207 is a pure single-scan report: per-doc token counts against a
  broadcast global max — the padding-waste arithmetic (naive global
  padding vs 32-token length buckets) that justifies q96's packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators import text as text_ops
from tidb_gateway_spark.operators.sampling import ddb_salted_md5, salted_md5
from tidb_gateway_spark.queries.registry import register

_DDB_TOKS = "len(list_filter(string_split(text, ' '), x -> x <> ''))"

# ---------------------------------------------------------------- Q201
# Per-language epoch factors: the high-quality/low-volume sources get
# repeated, the bulk crawl does not — literal in BOTH engines.
_Q201_EPOCHS = {"de": 2, "en": 1, "es": 3, "fr": 2, "zh": 4}

_Q201_ORACLE = (
    "WITH ep AS ("
    + " UNION ALL ".join(
        f"SELECT '{lang}' AS lang, {k} AS k"
        for lang, k in sorted(_Q201_EPOCHS.items()))
    + "), up AS (SELECT d.lang, d.doc_id, u.i AS epoch, "
    f"{_DDB_TOKS} AS toks "
    "FROM documents d JOIN ep ON ep.lang = d.lang, "
    "UNNEST(range(1, ep.k + 1)) AS u(i)) "
    "SELECT lang, CAST(epoch AS INT) AS epoch, "
    "CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(toks) AS BIGINT) AS n_tokens "
    "FROM up GROUP BY 1, 2 ORDER BY lang, epoch"
)


@register(
    "q201_source_upsampling",
    _Q201_ORACLE,
    doc="Epoch upsampling for mixture training: each language is "
        "materialized k times (wiki-style high-quality sources get "
        "k>1, bulk crawl k=1) via explode(sequence(1, k)) with k from "
        "a literal CASE map — a deterministic map-side row "
        "multiplication, the way multi-epoch mixtures are actually "
        "written out for training runs.  The epoch index is kept as a "
        "column (so downstream shuffling can interleave epochs) and "
        "the declared report is the per-(lang, epoch) doc/token "
        "count — only dimension-sized keys ever reach an exchange.",
    tags=("llm", "sampling", "curation"),
)
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    k = F.element_at(
        F.create_map(*[
            x for lang, kk in sorted(_Q201_EPOCHS.items())
            for x in (F.lit(lang), F.lit(kk))
        ]),
        F.col("lang"),
    )
    up = d.select(
        "lang",
        text_ops.ws_token_count(F.col("text")).cast("bigint").alias("toks"),
        F.explode(F.sequence(F.lit(1), k)).alias("epoch"),
    )
    return (
        up.groupBy("lang", F.col("epoch").cast("int").alias("epoch"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
        )
        .orderBy("lang", "epoch")
    )


# ---------------------------------------------------------------- Q202
_Q202_CAP = 5

_Q202_ORACLE = (
    "WITH r AS (SELECT source, ROW_NUMBER() OVER (PARTITION BY source "
    f"ORDER BY {ddb_salted_md5('doc_id', 'cap')}, doc_id) AS rk, "
    f"{_DDB_TOKS} AS toks FROM documents) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS total_docs, "
    f"CAST(SUM(CASE WHEN rk <= {_Q202_CAP} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS kept_docs, "
    f"CAST(SUM(CASE WHEN rk <= {_Q202_CAP} THEN toks ELSE 0 END) AS BIGINT) "
    "AS kept_tokens "
    "FROM r GROUP BY source ORDER BY source"
)


@register(
    "q202_domain_doc_cap",
    _Q202_ORACLE,
    doc="Per-domain document cap — the crawl-curation step that stops "
        "one mega-site from dominating the corpus: ONE row_number "
        "window per domain ordered by a salted md5 of the doc id "
        "(deterministic but unbiased 'random' survivors), keep the "
        "first CAP rows.  The window shuffle keys on the domain — "
        "high-cardinality at crawl scale, and the skewed mega-domain "
        "is exactly what the cap truncates, so post-cap group sizes "
        "are bounded by construction.  Declared report: per-domain "
        "total vs kept docs and kept tokens.",
    tags=("llm", "sampling", "curation"),
)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        salted_md5(F.col("doc_id"), "cap"), "doc_id")
    r = d.select(
        "source",
        text_ops.ws_token_count(F.col("text")).cast("bigint").alias("toks"),
        F.row_number().over(w).alias("rk"),
    )
    kept = F.col("rk") <= _Q202_CAP
    return (
        r.groupBy("source")
        .agg(
            F.count("*").alias("total_docs"),
            F.sum(kept.cast("long")).alias("kept_docs"),
            F.sum(F.when(kept, F.col("toks")).otherwise(F.lit(0)))
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q203
_Q203_TOPK = 30

_Q203_ORACLE = (
    "WITH tok AS (SELECT d.lang, t.w FROM documents d, "
    "UNNEST(list_filter(string_split(d.text, ' '), x -> x <> '')) "
    "AS t(w)), "
    "vocab AS (SELECT w FROM (SELECT w, ROW_NUMBER() OVER "
    "(ORDER BY COUNT(*) DESC, w) AS rk FROM tok GROUP BY w) "
    f"WHERE rk <= {_Q203_TOPK}) "
    "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens, "
    "CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS oov_tokens, "
    "CAST(FLOOR(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 10000.0 "
    "/ COUNT(*)) AS BIGINT) AS oov_bps "
    "FROM tok LEFT JOIN vocab v USING (w) GROUP BY lang ORDER BY lang"
)


@register(
    "q203_vocab_oov_rate",
    _Q203_ORACLE,
    doc="Top-K vocabulary build + per-language out-of-vocabulary "
        "audit — the tokenizer-coverage check run before committing a "
        "vocab.  ONE corpus tokenize pass (r12 — the r6 form "
        "evaluated the token explode twice, once for the vocab count "
        "and once for the OOV join, while DuckDB materializes its tok "
        "CTE once): the explode partial-aggregates into (lang, word) "
        "counts — a VOCABULARY × |langs| sized exchange — and that "
        "small persisted frame serves both the global top-K rank "
        "(single-partition window, dimension-sized by construction, "
        "like q104) and the per-lang OOV aggregate (weighted by the "
        "counts, so no second corpus pass exists).  At 100 TB the "
        "corpus stream is touched exactly once; everything after the "
        "first exchange is dimension-sized state.",
    tags=("llm", "text", "curation"),
)
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    t = F.trim(F.col("text"))
    tok = d.filter(t != "").select(
        "lang",
        F.explode(text_ops.nonempty_words(F.col("text"))).alias("w"),
    )
    # the ONLY corpus-scale stage: map-side combined into (lang, w)
    # counts; persisted because both the vocab rank and the OOV
    # aggregate read it (recompute would re-tokenize the corpus)
    lw = tracked_persist(
        tok.groupBy("lang", "w").agg(F.count("*").alias("c")))
    rk = Window.orderBy(F.desc("cnt"), "w")
    vocab = (
        lw.groupBy("w").agg(F.sum("c").alias("cnt"))
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= _Q203_TOPK)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    joined = lw.join(F.broadcast(vocab), "w", "left")
    oov = F.col("in_vocab").isNull()
    return (
        joined.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.when(oov, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint").alias("oov_tokens"),
        )
        .select(
            "lang", "n_tokens", "oov_tokens",
            F.floor(F.col("oov_tokens") * 10000.0 / F.col("n_tokens"))
            .cast("bigint").alias("oov_bps"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q207
_Q207_BUCKET = 32

_Q207_ORACLE = (
    f"WITH t AS (SELECT lang, {_DDB_TOKS} AS toks FROM documents), "
    "mx AS (SELECT MAX(toks) AS mx FROM t) "
    "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(toks) AS BIGINT) AS n_tokens, "
    "CAST(SUM(mx.mx - toks) AS BIGINT) AS naive_pad, "
    f"CAST(SUM(CEIL(toks / {_Q207_BUCKET}.0) * {_Q207_BUCKET} - toks) "
    "AS BIGINT) AS bucketed_pad, "
    "CAST(CASE WHEN SUM(mx.mx - toks) = 0 THEN 0 ELSE "
    "FLOOR((SUM(mx.mx - toks) - "
    f"SUM(CEIL(toks / {_Q207_BUCKET}.0) * {_Q207_BUCKET} - toks)) "
    "* 10000.0 / SUM(mx.mx - toks)) END AS BIGINT) AS saving_bps "
    "FROM t, mx GROUP BY lang ORDER BY lang"
)


@register(
    "q207_padding_waste_report",
    _Q207_ORACLE,
    doc="Length-bucketing padding-waste report — the measurement that "
        "justifies sequence packing (q96) and length-bucketed "
        "batching: per language, tokens padded under naive "
        "pad-to-global-max vs pad-to-32-token-bucket, and the saving "
        "in integer bps.  One scan of per-doc token counts against a "
        "broadcast 1-row global max (BroadcastNestedLoopJoin on a "
        "single row, like q181's min/max); all arithmetic integer.",
    tags=("llm", "text", "curation"),
)
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "lang",
        text_ops.ws_token_count(F.col("text")).cast("bigint").alias("toks"),
    )
    mx = t.agg(F.max("toks").alias("mx"))
    b = _Q207_BUCKET
    bucket_pad = (F.ceil(F.col("toks") / float(b)) * b - F.col("toks"))
    return (
        t.crossJoin(F.broadcast(mx))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.sum(F.col("mx") - F.col("toks")).alias("naive_pad"),
            F.sum(bucket_pad).cast("bigint").alias("bucketed_pad"),
        )
        .select(
            "lang", "n_docs", "n_tokens", "naive_pad", "bucketed_pad",
            # naive_pad = 0 (every doc of a lang at the global max, e.g.
            # a single-doc corpus) leaves the saving undefined — pin 0
            # so neither engine divides by zero
            F.when(F.col("naive_pad") == 0, F.lit(0))
            .otherwise(F.floor(
                (F.col("naive_pad") - F.col("bucketed_pad")) * 10000.0
                / F.col("naive_pad")
            )).cast("bigint").alias("saving_bps"),
        )
        .orderBy("lang")
    )
