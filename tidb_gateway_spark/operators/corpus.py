"""Corpus-level statistical text operators: TF-IDF keyword extraction
and PMI collocation detection.

Both are curation staples for large text corpora: TF-IDF surfaces the
terms that characterize a document against the corpus (topic tagging,
boilerplate spotting), PMI surfaces word pairs that co-occur far more
than chance (fixed phrases, templated text — a signal for machine-
generated or scraped-boilerplate content).

100 TB shape: everything is explode → partial-aggregated groupBy.
Vocabulary and bigram tables are corpus-sized-sublinear (vocab grows
~O(corpus^0.5..0.7) by Heaps' law), so the count joins shuffle tables
that are orders of magnitude smaller than the corpus; the corpus-wide
scalars (doc count, token totals) ride along as 1-row broadcast cross
joins, never a driver collect.  The per-document TF branch can be
filtered to the docs of interest *before* counting, while document
frequencies still aggregate the full corpus — both branches derive
from one tokenize subtree, which Spark's ReuseExchange de-duplicates.

No counterpart in the reference (it relays bytes; SQL belonged to its
TiDB backends) — this is part of the training-data-pipeline surface
the rebuild adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators.text import word_rows, words


def tfidf_top_terms(
    documents: DataFrame,
    doc_filter: Column,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 4,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per selected document.

    ``score = tf(term, doc) * ln(N / df(term))`` with raw counts and
    the unsmoothed natural-log IDF — every factor is an exact integer
    ratio, so the only float step is one ``ln`` and one multiply,
    reproducible to rounding in any engine.

    ``doc_filter`` restricts the per-document TF branch (pushed below
    the count — at scale you score a slice, not the corpus), while
    document frequency and N always cover the full corpus.  Ranking
    compares the *rounded* score with a term-name tie-break so the
    cut is stable across engines' last-ulp ``ln`` differences.
    """
    toks = word_rows(documents, id_col, text=text_col)
    # one row per (doc, term): basis for both tf and df
    tf = toks.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("dfc"))
    n = documents.agg(F.count("*").alias("n_docs"))

    from pyspark.sql import Window

    score = stable_round(
        F.col("tf") * F.log(F.col("n_docs") / F.col("dfc")), round_digits
    )
    win = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.filter(doc_filter)
        .join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .select(id_col, F.col("w").alias("term"), score.alias("tfidf"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy(id_col, F.desc("tfidf"), "term")
    )


def pmi_bigrams(
    documents: DataFrame,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information.

    ``pmi(x,y) = ln( (c(xy)/B) / ((c(x)/U) * (c(y)/U)) )`` over
    corpus-wide counts (U unigram total, B bigram total), with a
    ``min_count`` support floor to kill noise pairs.  Bigrams are
    built JVM-side from the token array (``slice`` + ``arrays_zip``,
    codegen'd — no self-join on positions); the two unigram lookups
    are joins against the vocabulary-sized count table.  Ranking uses
    the rounded PMI with a bigram tie-break (cross-engine stable).
    """
    from tidb_gateway_spark.operators.cache import tracked_persist

    docs = documents.select(words(F.col(text_col)).alias("l"))

    # The corpus is tokenized exactly TWICE (unigram pass, bigram
    # pass); every downstream consumer rides a PERSISTED aggregate.
    # The naive plan re-executed the tokenize up to 5× — `uni` feeds
    # three consumers (u_tot, cx, cy) and column pruning specializes
    # each copy of the subtree, breaking ReuseExchange (the q214/q215
    # diamond lesson).  Both persisted frames are aggregate-sized
    # (|vocab| and |bigram types|), never corpus-sized.
    uni = tracked_persist(
        docs.select(F.explode("l").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pairs = docs.filter(F.size("l") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice("l", 1, F.size("l") - 1).alias("x"),
                F.slice("l", 2, F.size("l") - 1).alias("y"),
            )
        ).alias("p")
    )
    big_all = tracked_persist(
        pairs.select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("cxy"))
    )
    big = big_all.filter(F.col("cxy") >= min_count)
    totals = F.broadcast(
        uni.agg(F.sum("c").cast("double").alias("u_tot")).crossJoin(
            # bigram total = every adjacent pair, pre-threshold — the
            # column sum of the persisted bigram table (Σ_doc len-1
            # over docs with ≥2 tokens equals it term-for-term; len==1
            # docs contribute 0), so no third corpus pass
            big_all.agg(F.sum("cxy").cast("double").alias("b_tot"))
        )
    )

    cx = uni.select(F.col("w").alias("x"), F.col("c").alias("cx"))
    cy = uni.select(F.col("w").alias("y"), F.col("c").alias("cy"))
    pmi = stable_round(
        F.log(
            (F.col("cxy") / F.col("b_tot"))
            / ((F.col("cx") / F.col("u_tot")) * (F.col("cy") / F.col("u_tot")))
        ),
        round_digits,
    )
    return (
        big.join(cx, "x")
        .join(cy, "y")
        .crossJoin(totals)
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            F.col("cxy").alias("n"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(k)
    )
