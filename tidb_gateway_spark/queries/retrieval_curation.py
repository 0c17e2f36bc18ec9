"""Q214–Q222: retrieval + corpus-statistics operators — the search and
distribution-audit surface a training-data platform serves next to its
dedup/curation passes: BM25 ranking, inverted-index serving, source
drift (Jensen-Shannon), vocabulary growth (Heaps' law), near-dup graph
triangles, GDPR cascade audits, exact medians at scale, name-similarity
blocking, and deterministic epoch shuffles.

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q214 (BM25) joins the corpus-sized TF table against a BROADCAST
  query-term table that CARRIES its df (the vocabulary-sized dfreq
  table is never broadcast — r9 fix); N/avgdl ride 1-row broadcasts.
  Nothing query×corpus sized shuffles — the exchanges carry
  (doc, term) hit rows and the per-doc score aggregate.
* q215 (JS divergence) restricts to a top-K corpus vocabulary
  (metadata-sized), so every exchange after the one tokenize pass is
  |V|- or |sources|-sized.
* q216 (Heaps) is ONE pass: per-word min(first-decile-seen), then a
  10-row cumulative window — the vocabulary-sized aggregate is the
  only real exchange.
* q217 (triangles) joins the near-dup candidate edge list to itself
  twice on node keys — graph-sized, never corpus-sized, the standard
  a<b<c enumeration that counts each triangle once.
* q218 (GDPR cascade) is the fan-out a deletion request actually
  takes: subject keys → orders → lineitems, all equi-joins on the
  foreign keys the tables already carry.
* q219 (exact median) is the scale-safe exact form
  (rank.grouped_exact_median): value-range buckets + a metadata-sized
  (group, bucket) count table derived declaratively, then local ranks
  only inside the 1–2 buckets per group that can hold a middle rank —
  full parallelism where Window.partitionBy(group) would give one
  task per group, exact where approx_percentile is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators.dedup import (
    DDB_BANDS,
    DDB_CAND_CHAIN,
    DDB_SHINGLES,
    DDB_SIGS,
)
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators.sampling import ddb_hash_bps, salted_md5
from tidb_gateway_spark.queries.registry import register
from tidb_gateway_spark.sources import derived

_TOK_SQL_DDB = (
    "SELECT doc_id, UNNEST(list_filter(string_split(trim(text), ' '), "
    "x -> x <> '')) AS w FROM documents WHERE trim(text) <> ''"
)


def _tok(d: DataFrame) -> DataFrame:
    """(doc_id, w) exploded nonempty words — the shared tokenizer shape
    (split on space runs, codegen'd; matches _TOK_SQL_DDB)."""
    t = F.trim(F.col("text"))
    return (
        d.filter(t != "")
        .select("doc_id", F.explode(F.split(t, " +")).alias("w"))
    )


# ---------------------------------------------------------------- Q214
_Q214_K1 = 1.2
_Q214_B = 0.75
_Q214_NTERMS = 5
_Q214_TOPK = 10

_Q214_ORACLE = (
    f"WITH tok AS ({_TOK_SQL_DDB}), "
    "tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2), "
    "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1), "
    "dfreq AS (SELECT w, COUNT(*) AS dfc FROM tf GROUP BY 1), "
    "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, "
    "(SELECT AVG(CAST(dl AS DOUBLE)) FROM dl) AS avgdl FROM documents), "
    # query = the NTERMS mid-frequency corpus terms: highest df with
    # df <= n_docs/2, ties word-ascending — data-driven, deterministic
    "q AS (SELECT w FROM (SELECT dfreq.w, dfreq.dfc, ROW_NUMBER() OVER ("
    "ORDER BY dfreq.dfc DESC, dfreq.w) AS rn FROM dfreq CROSS JOIN n "
    "WHERE dfreq.dfc * 2 <= n.n_docs) "
    f"WHERE rn <= {_Q214_NTERMS}), "
    "s AS (SELECT tf.doc_id, "
    "SUM(ln((n.n_docs - dfreq.dfc + 0.5) / (dfreq.dfc + 0.5) + 1) * "
    f"(tf.tf * ({_Q214_K1} + 1)) / "
    f"(tf.tf + {_Q214_K1} * (1 - {_Q214_B} + {_Q214_B} * dl.dl / n.avgdl))"
    ") AS sc FROM tf JOIN q USING (w) JOIN dfreq USING (w) "
    "JOIN dl USING (doc_id) CROSS JOIN n GROUP BY 1) "
    "SELECT doc_id, FLOOR(sc * 10000 + 0.5) / 10000 AS score FROM s "
    f"ORDER BY score DESC, doc_id LIMIT {_Q214_TOPK}"
)


@register(
    "q214_bm25_retrieval",
    _Q214_ORACLE,
    doc="BM25 (Okapi, Lucene idf form) top-10 retrieval over the "
        "document corpus — the lexical-retrieval counterpart to the "
        "ANN family (q75/q76/q94): one tokenize pass feeds TF, "
        "doc-length and DF aggregates (ReuseExchange diamond), the "
        "query-term table (the 5 mid-frequency corpus terms — "
        "data-driven, deterministic) and the N/avgdl scalars are "
        "broadcast, and the score is one per-doc aggregate over the "
        "(doc, query-term) hit rows.  At 100 TB the TF/DF tables are "
        "the materialized inverted index (q220 serves that form); this "
        "declared form proves the scoring algebra end-to-end.  "
        "k1=1.2, b=0.75 — the textbook operating point.",
    tags=("llm", "text", "retrieval"),
)
def q214(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    tok = _tok(d)
    # EVERYTHING derives from the tf aggregate (dl = Σ tf per doc ≡ the
    # raw token count), and tf is PERSISTED for the life of the query:
    # it feeds four consumers (scoring probe, dfreq, dl, avgdl) and
    # column pruning specializes each copy's projection, which breaks
    # exchange-reuse canonical equality — without the persist the plan
    # tokenizes the corpus 4-5× (measured: 2.2 → 0.9 s at sf1).  tf IS
    # the inverted-index table (q220 serves the materialized form); at
    # 100 TB this cache is the index build, spillable to disk.
    from tidb_gateway_spark.operators.cache import tracked_persist

    tf = tracked_persist(
        tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("dfc"))
    n = d.agg(
        F.count("*").cast("double").alias("n_docs")
    ).crossJoin(dl.agg(F.avg(F.col("dl").cast("double")).alias("avgdl")))

    # the query-term table CARRIES its dfc: q is derived from dfreq, so
    # re-joining broadcast(dfreq) would broadcast the full corpus
    # vocabulary (10^8+ rows at 100 TB — driver OOM); keeping dfc on the
    # bounded 5-row table makes every broadcast side genuinely
    # query-sized (the q152 lesson: broadcast the model-sized side only).
    # Top-NTERMS via orderBy().limit() = TakeOrdered — never a one-task
    # global Window over the vocabulary.
    q = (
        dfreq.crossJoin(F.broadcast(n))
        .filter(F.col("dfc") * 2 <= F.col("n_docs"))
        .select("w", "dfc")
        .orderBy(F.desc("dfc"), "w")
        .limit(_Q214_NTERMS)
    )

    idf = F.log(
        (F.col("n_docs") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5) + 1
    )
    tf_part = (F.col("tf") * (_Q214_K1 + 1)) / (
        F.col("tf")
        + _Q214_K1 * (1 - _Q214_B + _Q214_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(q), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_part).alias("sc"))
    )
    return (
        scored.select("doc_id", stable_round(F.col("sc"), 4).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(_Q214_TOPK)
    )


# ---------------------------------------------------------------- Q215
_Q215_V = 100  # vocabulary cap: top-K corpus words

_Q215_ORACLE = (
    f"WITH tok AS ({_TOK_SQL_DDB}), "
    "src AS (SELECT t.doc_id, d.source, t.w FROM tok t "
    "JOIN documents d USING (doc_id)), "
    "v AS (SELECT w FROM (SELECT w, ROW_NUMBER() OVER (ORDER BY "
    "COUNT(*) DESC, w) AS rn FROM tok GROUP BY w) "
    f"WHERE rn <= {_Q215_V}), "
    "sw AS (SELECT source, w, COUNT(*) AS c FROM src "
    "WHERE w IN (SELECT w FROM v) GROUP BY 1, 2), "
    "st AS (SELECT source, SUM(c) AS t FROM sw GROUP BY 1), "
    "cw AS (SELECT w, SUM(c) AS c FROM sw GROUP BY 1), "
    "ct AS (SELECT SUM(c) AS t FROM sw), "
    "terms AS (SELECT sw.source, "
    "sw.c / st.t AS p, cw.c / ct.t AS q "
    "FROM sw JOIN st USING (source) JOIN cw USING (w) CROSS JOIN ct), "
    "js AS (SELECT source, "
    "0.5 * SUM(p * ln(2 * p / (p + q))) + "
    "0.5 * SUM(q * ln(2 * q / (p + q))) AS js_raw, "
    # the q-side sum must cover the FULL vocabulary, not just this
    # source's rows: add the missing mass where p = 0 (q*ln(2))
    "(1 - SUM(q)) * ln(2) * 0.5 AS q_missing "
    "FROM terms GROUP BY source) "
    "SELECT source, FLOOR((js_raw + q_missing) * 1e6 + 0.5) / 1e6 AS js "
    "FROM js ORDER BY source"
)


@register(
    "q215_source_js_divergence",
    _Q215_ORACLE,
    doc="Jensen-Shannon divergence of each source's unigram "
        "distribution from the corpus distribution, over the top-100 "
        "corpus vocabulary — the drift audit that catches a crawl "
        "whose language mix shifted between snapshots (JS is "
        "symmetric and bounded by ln 2, unlike raw KL).  Zero-p terms "
        "contribute their exact closed-form mass q·ln2/2 (a source "
        "missing a vocab word entirely), so the score is the true JS "
        "over V, not a support-restricted approximation.  One "
        "tokenize pass; every later exchange is |V|- or "
        "|sources|-sized.  Rounded at 1e-6 — double-sum "
        "order-divergence is ~1e-15·|V|, nine orders below the "
        "quantum (the q209 argument).",
    tags=("llm", "text", "audit", "statistics"),
)
def q215(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    t = F.trim(F.col("text"))
    tok = (
        d.filter(t != "")
        .select("source", F.explode(F.split(t, " +")).alias("w"))
    )
    # ONE tokenize pass: the (source, w) count table feeds both the
    # vocabulary selection and the per-source distribution; it is
    # persisted because column pruning specializes each consumer's
    # projection and breaks exchange-reuse (the q214 lesson — without
    # it the corpus tokenizes twice).  |sources × vocab|-sized.
    sw_all = tracked_persist(
        tok.groupBy("source", "w").agg(F.count("*").alias("c")))
    # corpus top-V vocabulary via orderBy().limit() = TakeOrdered —
    # never a one-task global Window over the vocabulary
    v = (
        sw_all.groupBy("w").agg(F.sum("c").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_Q215_V)
        .select("w")
    )
    sw = sw_all.join(F.broadcast(v), "w")
    st = sw.groupBy("source").agg(F.sum("c").alias("t"))
    cw = sw.groupBy("w").agg(F.sum("c").alias("cw"))
    ct = sw.agg(F.sum("c").alias("ct"))
    p = F.col("c") / F.col("t")
    q = F.col("cw") / F.col("ct")
    terms = (
        sw.join(st, "source")
        .join(F.broadcast(cw), "w")
        .crossJoin(F.broadcast(ct))
        .select("source", p.alias("p"), q.alias("q"))
    )
    import math

    js = (
        terms.groupBy("source").agg(
            (
                0.5 * F.sum(F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q"))))
                + 0.5 * F.sum(F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q"))))
                + (1 - F.sum("q")) * math.log(2) * 0.5
            ).alias("js_raw")
        )
    )
    return (
        js.select("source", stable_round(F.col("js_raw"), 6).alias("js"))
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q216
_Q216_ORACLE = (
    f"WITH tok AS ({_TOK_SQL_DDB}), "
    "n AS (SELECT MAX(doc_id) + 1 AS nd FROM documents), "
    "fs AS (SELECT w, MIN(CAST(doc_id * 10 / nd AS INT)) AS decile "
    "FROM tok CROSS JOIN n GROUP BY w), "
    "g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_words "
    "FROM fs GROUP BY decile) "
    "SELECT decile, new_words, "
    "CAST(SUM(new_words) OVER (ORDER BY decile) AS BIGINT) AS vocab_size "
    "FROM g ORDER BY decile"
)


@register(
    "q216_heaps_vocab_growth",
    _Q216_ORACLE,
    doc="Heaps'-law vocabulary growth curve: new distinct words and "
        "cumulative vocabulary size per corpus decile (doc_id order — "
        "the fixture's ids are dense, so deciles are ingestion "
        "slices).  A flattening curve says more data adds tokens but "
        "not types; a linearly-growing one flags OCR noise / junk "
        "vocabulary — a standard pre-training corpus diagnostic.  ONE "
        "pass: per-word MIN(first-decile-seen) is the only "
        "vocabulary-sized exchange; the cumulative sum is a 10-row "
        "window.",
    tags=("llm", "text", "statistics"),
)
def q216(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    tok = _tok(d)
    n = d.agg((F.max("doc_id") + 1).alias("nd"))
    fs = (
        tok.crossJoin(F.broadcast(n))
        .select("w", (F.col("doc_id") * 10 / F.col("nd"))
                .cast("int").alias("decile"))
        .groupBy("w").agg(F.min("decile").alias("decile"))
    )
    g = fs.groupBy("decile").agg(F.count("*").alias("new_words"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.select(
            "decile", "new_words",
            F.sum("new_words").over(w).alias("vocab_size"),
        ).orderBy("decile")
    )


# ---------------------------------------------------------------- Q218
_Q218_BPS = 100  # 1% of customers are deletion subjects

_Q218_ORACLE = (
    "WITH subj AS (SELECT c_custkey, c_nationkey FROM customer "
    f"WHERE {ddb_hash_bps('c_custkey', 'gdpr')} < {_Q218_BPS}), "
    "o AS (SELECT s.c_nationkey, o.o_orderkey FROM subj s "
    "JOIN orders o ON o.o_custkey = s.c_custkey), "
    "l AS (SELECT o.c_nationkey, COUNT(*) AS n_lineitems FROM o "
    "JOIN lineitem li ON li.l_orderkey = o.o_orderkey GROUP BY 1), "
    "agg AS (SELECT s.c_nationkey, COUNT(*) AS n_subjects FROM subj s "
    "GROUP BY 1), "
    "oc AS (SELECT c_nationkey, COUNT(*) AS n_orders FROM o GROUP BY 1) "
    "SELECT n.n_name AS nation, "
    "CAST(a.n_subjects AS BIGINT) AS n_subjects, "
    "CAST(COALESCE(oc.n_orders, 0) AS BIGINT) AS n_orders, "
    "CAST(COALESCE(l.n_lineitems, 0) AS BIGINT) AS n_lineitems "
    "FROM agg a JOIN nation n ON n.n_nationkey = a.c_nationkey "
    "LEFT JOIN oc USING (c_nationkey) LEFT JOIN l USING (c_nationkey) "
    "ORDER BY nation"
)


@register(
    "q218_gdpr_cascade_audit",
    _Q218_ORACLE,
    doc="Right-to-erasure cascade audit: for a deterministic 1% "
        "subject set (hash_bps — the sampling family's engine-"
        "reproducible selector), count every row a deletion request "
        "would cascade to through the foreign-key chain customer → "
        "orders → lineitem, by nation.  This is the scoping query a "
        "data-governance run executes BEFORE the destructive MERGE "
        "(q180 is the apply side).  Subject keys are a 1%-sized "
        "broadcast; the lineitem probe is one equi-join on the key "
        "the table is already bucketed by in q205's layout.",
    tags=("governance", "join"),
)
def q218(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.sampling import hash_bps

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    na = load_table(spark, sf_dir, "nation")

    subj = c.filter(hash_bps(F.col("c_custkey"), "gdpr") < _Q218_BPS).select(
        "c_custkey", "c_nationkey")
    so = F.broadcast(subj).join(
        o.select("o_custkey", "o_orderkey"),
        subj["c_custkey"] == F.col("o_custkey"),
    ).select("c_nationkey", "o_orderkey")
    # `so` is subject-sized — broadcast it into the lineitem probe
    # too, or Spark shuffles the whole fact table for a join whose
    # build side is request-batch-sized (sf1: 3.1 s → 1.4 s, the
    # residual being the one linear lineitem column scan).  Real
    # erasure batches are bounded request sets; a subject set too big
    # to broadcast degrades gracefully by dropping the hint.
    l_cnt = (
        F.broadcast(so).join(
            li.select("l_orderkey"),
            so["o_orderkey"] == F.col("l_orderkey"))
        .groupBy("c_nationkey").agg(F.count("*").alias("n_lineitems"))
    )
    o_cnt = so.groupBy("c_nationkey").agg(F.count("*").alias("n_orders"))
    s_cnt = subj.groupBy("c_nationkey").agg(F.count("*").alias("n_subjects"))
    return (
        s_cnt.join(F.broadcast(na),
                   s_cnt["c_nationkey"] == F.col("n_nationkey"))
        .join(o_cnt, "c_nationkey", "left")
        .join(l_cnt, "c_nationkey", "left")
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_subjects").cast("bigint").alias("n_subjects"),
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce("n_lineitems", F.lit(0)).cast("bigint")
            .alias("n_lineitems"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------- Q219
_Q219_ORACLE = (
    "WITH r AS (SELECT o_orderpriority, o_totalprice, "
    "ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice, o_orderkey) AS rn, "
    "COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders) "
    "SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n, "
    "FLOOR(AVG(o_totalprice) * 100 + 0.5) / 100 AS median "
    "FROM r WHERE rn IN ((n + 1) // 2, (n + 2) // 2) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)


@register(
    "q219_exact_group_median",
    _Q219_ORACLE,
    doc="EXACT per-group median of order totals — the scale-safe "
        "construction: ROW_NUMBER and COUNT windows partitioned BY THE "
        "GROUP (per-partition sort, never a global one), keep the one "
        "or two middle rows, average them.  Complements q143's "
        "approx-percentile sketches with the exact answer where the "
        "group count is what a sketch cannot give: percentile_cont "
        "semantics, bit-identical across engines because the middle "
        "elements are exact row values (the only float op is the "
        "final two-value average).  Spark's percentile() aggregate "
        "collects per-group value arrays on the heap; this form's "
        "memory is the sort buffer, spillable and partition-local.  "
        "r8 rework: with 5 groups a Window.partitionBy(group) gives "
        "5-way parallelism (one 20 TB sort per task at scale); "
        "rank.grouped_exact_median restores full parallelism by "
        "value-range-bucketing FIRST, deriving counts/offsets/"
        "middle-ranks declaratively over the metadata-sized "
        "(group, bucket) table, and locally ranking only the 1–2 "
        "buckets per group that can contain a middle rank; one "
        "repartition(group, bucket) feeds both branches via "
        "ReuseExchange (one scan).  sf1 2.11 s → 1.06 s best-of-5; "
        "DuckDB's 0.2–0.45 s puts the residual in the fixed-cost "
        "class (below the 0.5 s data-path threshold).",
    tags=("analytics", "window", "statistics"),
)
def q219(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.rank import grouped_exact_median

    o = load_table(spark, sf_dir, "orders")
    med = grouped_exact_median(
        o, "o_orderpriority", "o_totalprice", "o_orderkey")
    return (
        med.select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n"),
            stable_round(F.col("median_raw"), 2).alias("median"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q217
def _q217_oracle() -> str:
    return (
        f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
        "cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id "
        "AS b FROM bands x JOIN bands y ON x.band = y.band AND "
        "x.bv = y.bv AND x.doc_id < y.doc_id), "
        "deg AS (SELECT d, COUNT(*) AS dg FROM "
        "(SELECT a AS d FROM cand UNION ALL SELECT b FROM cand) "
        "GROUP BY d), "
        "tri AS (SELECT COUNT(*) AS nt FROM cand e1 "
        "JOIN cand e2 ON e2.a = e1.b "
        "JOIN cand e3 ON e3.a = e1.a AND e3.b = e2.b), "
        "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        "CAST(SUM(dg * (dg - 1) / 2) AS BIGINT) AS wedges FROM deg), "
        "ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM cand) "
        "SELECT agg.n_nodes, ne.n_edges, CAST(tri.nt AS BIGINT) "
        "AS n_triangles, CAST(CASE WHEN agg.wedges = 0 THEN 0 ELSE "
        "3 * tri.nt * 10000 // agg.wedges END AS BIGINT) "
        "AS clustering_bps FROM agg, ne, tri"
    )


@register(
    "q217_neardup_triangle_census",
    _q217_oracle(),
    doc="Triangle census + global clustering coefficient of the "
        "near-duplicate candidate graph (q72's MinHash-LSH edges) — "
        "the graph-shape audit between q101's components and q209's "
        "PageRank: a high clustering coefficient says near-dup "
        "families are cliquish (template boilerplate); a low one with "
        "many components says chains (incremental edits).  Triangles "
        "enumerate once each via the a<b<c two-join (e1=(a,b), "
        "e2=(b,c), e3=(a,c)); wedges = Σ d(d−1)/2; coefficient = "
        "3·triangles/wedges in exact integer bps.  All joins are "
        "edge-keyed — graph-sized, never corpus-sized; the persisted "
        "edge list is the same tracked companion q209 reads.",
    tags=("llm", "dedup", "graph"),
)
def q217(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import dedup
    from tidb_gateway_spark.operators.cache import tracked_persist

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    cand = tracked_persist(dedup.minhash_lsh_candidates(d))

    deg = (
        cand.select(F.col("a").alias("d"))
        .unionAll(cand.select(F.col("b").alias("d")))
        .groupBy("d").agg(F.count("*").alias("dg"))
    )
    e1 = cand.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = cand.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = cand.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count("*").alias("nt"))
    )
    agg = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.col("dg") * (F.col("dg") - 1) / 2).cast("bigint")
        .alias("wedges"),
    )
    ne = cand.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        agg.crossJoin(ne).crossJoin(tri)
        .select(
            "n_nodes", "n_edges",
            F.col("nt").cast("bigint").alias("n_triangles"),
            F.when(F.col("wedges") == 0, F.lit(0))
            .otherwise(F.floor(3 * F.col("nt") * 10000 / F.col("wedges")))
            .cast("bigint").alias("clustering_bps"),
        )
    )


# ---------------------------------------------------------------- Q221
_Q221_TAU_BPS = 5000  # Jaccard >= 0.5 on character-trigram sets

_Q221_ORACLE = (
    "WITH names AS (SELECT DISTINCT p_name AS nm FROM part), "
    "tg AS (SELECT nm, UNNEST(list_transform("
    "range(1, len(nm) - 1), i -> substr(nm, CAST(i AS INT), 3))) AS t "
    "FROM names WHERE len(nm) >= 3), "
    "td AS (SELECT DISTINCT nm, t FROM tg), "
    "rk AS (SELECT t, ROW_NUMBER() OVER (ORDER BY COUNT(*), t) AS r "
    "FROM td GROUP BY t), "
    "lst AS (SELECT nm, list(t ORDER BY r) AS ts, COUNT(*) AS n "
    "FROM td JOIN rk USING (t) GROUP BY nm), "
    # prefix filter (Bayardo et al.): for J >= tau, two sets must share
    # a token among each one's (1-tau)|s|+1 rarest tokens
    "pf AS (SELECT nm, n, UNNEST(ts[1 : CAST(floor("
    f"(1 - {_Q221_TAU_BPS}/10000.0) * n) AS INT) + 1]) AS t FROM lst), "
    "cp AS (SELECT DISTINCT x.nm AS na, y.nm AS nb FROM pf x "
    "JOIN pf y ON x.t = y.t AND x.nm < y.nm), "
    "ver AS (SELECT cp.na, cp.nb, CAST(len(list_intersect(a.ts, b.ts)) "
    "AS BIGINT) AS i, a.n + b.n AS nn FROM cp "
    "JOIN lst a ON a.nm = cp.na JOIN lst b ON b.nm = cp.nb) "
    "SELECT na, nb, CAST(i * 10000 // (nn - i) AS BIGINT) AS jac_bps "
    f"FROM ver WHERE i * 10000 >= {_Q221_TAU_BPS} * (nn - i) "
    "ORDER BY jac_bps DESC, na, nb LIMIT 50"
)


@register(
    "q221_name_similarity_join",
    _Q221_ORACLE,
    doc="Prefix-filtered set-similarity self-join (Bayardo/PPJoin "
        "family) over character-trigram sets of DISTINCT part names — "
        "the record-linkage blocker for short strings where word "
        "shingles (q72) are useless: candidates must share a trigram "
        "among each side's ⌊(1−τ)·|s|⌋+1 RAREST trigrams (frequency-"
        "ascending order), which is complete for Jaccard ≥ τ and "
        "prunes the quadratic candidate space without MinHash's "
        "false negatives; then exact integer-bps Jaccard verifies via "
        "array_intersect (the q74 idiom).  Exact-dedup to distinct "
        "names FIRST (the real pipeline order) keeps the join "
        "name-cardinality-sized at any part count.",
    tags=("dedup", "join", "text"),
)
def q221(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("nm")).distinct().filter(
        F.length("nm") >= 3)
    from tidb_gateway_spark.operators.cache import tracked_persist

    # tg feeds the rarity rank AND the per-name list; lst feeds FOUR
    # consumers (the prefix explode's two self-join branches, a, b).
    # Unpersisted, each subtree copy re-ran the trigram explode /
    # collect+sort pipeline (the q100/q214 diamond lesson).  Both are
    # |names|-proportional, never corpus-sized.
    tg = tracked_persist(names.select(
        "nm",
        F.explode(F.expr(
            "transform(sequence(1, length(nm) - 2), "
            "i -> substring(nm, i, 3))")).alias("t"),
    ).distinct())
    rk = (
        tg.groupBy("t").agg(F.count("*").alias("c"))
        .select("t", F.row_number().over(Window.orderBy("c", "t")).alias("r"))
    )
    lst = tracked_persist(
        tg.join(rk, "t")
        .groupBy("nm")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(r, t))), "
                   "s -> s.t)").alias("ts"),
            F.count("*").alias("n"),
        )
    )
    pfx_len = (
        F.floor((1 - _Q221_TAU_BPS / 10000.0) * F.col("n")).cast("int") + 1
    )
    pf = lst.select(
        "nm", "n", F.explode(F.slice(F.col("ts"), 1, pfx_len)).alias("t"))
    x = pf.select(F.col("nm").alias("na"), F.col("t"))
    y = pf.select(F.col("nm").alias("nb"), F.col("t"))
    cp = (
        x.join(y, "t")
        .filter(F.col("na") < F.col("nb"))
        .select("na", "nb")
        .distinct()
    )
    a = lst.select(F.col("nm").alias("na"), F.col("ts").alias("tsa"),
                   F.col("n").alias("nna"))
    b = lst.select(F.col("nm").alias("nb"), F.col("ts").alias("tsb"),
                   F.col("n").alias("nnb"))
    ver = (
        cp.join(a, "na").join(b, "nb")
        .select(
            "na", "nb",
            F.size(F.array_intersect("tsa", "tsb")).cast("bigint").alias("i"),
            (F.col("nna") + F.col("nnb")).alias("nn"),
        )
    )
    return (
        ver.filter(F.col("i") * 10000 >= _Q221_TAU_BPS * (F.col("nn") - F.col("i")))
        .select(
            "na", "nb",
            F.floor(F.col("i") * 10000 / (F.col("nn") - F.col("i")))
            .cast("bigint").alias("jac_bps"),
        )
        .orderBy(F.desc("jac_bps"), "na", "nb")
        .limit(50)
    )


# ---------------------------------------------------------------- Q222
_Q222_TOP = 10

_Q222_ORACLE = (
    "WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2), "
    "h AS (SELECT e.epoch, d.doc_id, "
    "('0x' || substr(md5('epoch' || CAST(e.epoch AS VARCHAR) || '|' || "
    "CAST(d.doc_id AS VARCHAR)), 1, 16)) AS hk "
    "FROM documents d CROSS JOIN e), "
    "r AS (SELECT epoch, doc_id, ROW_NUMBER() OVER ("
    "PARTITION BY epoch ORDER BY hk, doc_id) AS pos FROM h) "
    f"SELECT epoch, CAST(pos AS INT) AS pos, doc_id FROM r "
    f"WHERE pos <= {_Q222_TOP} ORDER BY epoch, pos"
)


@register(
    "q222_seeded_epoch_shuffle",
    _Q222_ORACLE,
    doc="Deterministic epoch shuffle: training-order permutation as "
        "ORDER BY md5(seed|doc_id) — a pure row function, so the "
        "permutation is identical across engines, partitionings and "
        "re-runs (df.orderBy(rand(seed)) is partitioning-dependent, "
        "the same trap the sampling family documents), and different "
        "seeds give independent permutations for epochs 1 and 2.  "
        "Declared output: the first 10 positions of each epoch.  "
        "Top-k-by-hash is TakeOrdered at scale — no full sort; the "
        "full permutation form is a range-partitioned sort on the "
        "hash key (the writer path the shard splitter q105 uses).",
    tags=("llm", "sampling", "curation"),
)
def q222(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    epochs = None
    for ep in (1, 2):
        hk = F.concat(
            F.lit("0x"),
            F.substring(salted_md5(F.col("doc_id"), f"epoch{ep}"), 1, 16),
        )
        r = (
            d.select(F.lit(ep).alias("epoch"), "doc_id", hk.alias("hk"))
            .orderBy("hk", "doc_id")
            .limit(_Q222_TOP)
        )
        epochs = r if epochs is None else epochs.unionAll(r)
    w = Window.partitionBy("epoch").orderBy("hk", "doc_id")
    return (
        epochs.select(
            "epoch", F.row_number().over(w).cast("int").alias("pos"),
            "doc_id")
        .orderBy("epoch", "pos")
    )


# ---------------------------------------------------------------- Q220
_Q220_NPROBE = 3
_Q220_TOPK = 20

_Q220_ORACLE = (
    f"WITH tok AS ({_TOK_SQL_DDB}), "
    "td AS (SELECT DISTINCT doc_id, w FROM tok), "
    "dfreq AS (SELECT w, COUNT(*) AS dfc FROM td GROUP BY 1), "
    "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents), "
    "probe AS (SELECT w FROM (SELECT dfreq.w, ROW_NUMBER() OVER ("
    "ORDER BY dfreq.dfc DESC, dfreq.w) AS rn FROM dfreq) "
    f"WHERE rn <= {_Q220_NPROBE}) "
    "SELECT doc_id FROM td JOIN probe USING (w) "
    f"GROUP BY doc_id HAVING COUNT(*) = {_Q220_NPROBE} "
    f"ORDER BY doc_id LIMIT {_Q220_TOPK}"
)


def conjunctive_serve(dfc: DataFrame, post: DataFrame) -> DataFrame:
    """q220's probe tail, shared by every inverted-index companion:
    the top-``_Q220_NPROBE`` terms of ``dfc`` (a (w, dfc) frame with
    one row per term; ties word-ascending) are collected driver-side,
    then the prefix-partitioned postings ``post`` are pruned to those
    terms' prefixes and the docs holding all of them are returned.

    The top-k is orderBy().limit() — TakeOrdered (partial top-k per
    partition + driver merge), never a one-task global window over the
    vocabulary-sized dictionary."""
    probes = [
        r["w"]
        for r in dfc.orderBy(F.desc("dfc"), "w")
        .limit(_Q220_NPROBE)
        .collect()
    ]
    pfxs = sorted({w[:1] for w in probes})
    return (
        post.filter(F.col("pfx").isin(pfxs) & F.col("w").isin(probes))
        .groupBy("doc_id")
        .agg(F.count("*").alias("nw"))
        .filter(F.col("nw") == _Q220_NPROBE)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(_Q220_TOPK)
    )


def _q220_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) the inverted-index companion:
    ``dict/`` = (w, dfc); ``postings/`` = (w, doc_id) parquet.  BOTH
    are PARTITIONED BY first-char prefix — a probe reads only its
    prefix directories and neither write has a single-task
    (coalesce(1)) stage, since the dictionary is vocabulary-sized at
    100 TB.  ``meta.json`` is the freshness marker, written last.
    Returns the companion root path."""
    import hashlib
    import json
    import os

    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    # v2: dictionary prefix-partitioned (layout change ⇒ key bump)
    key = hashlib.md5(f"invidx-v2|{src}".encode()).hexdigest()[:16]
    path = derived.derived_path("invidx", key)
    if not derived.is_fresh(path, src, marker="meta.json"):
        d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
        td = _tok(d).distinct()

        def build(tmp: str) -> None:
            os.makedirs(tmp, exist_ok=True)
            # dictionary is vocabulary-sized (10^8+ rows at 100 TB) —
            # prefix-partition it like the postings so the build has no
            # single-task stage and term lookups prune to one directory
            (td.groupBy("w").agg(F.count("*").alias("dfc"))
             .select(F.substring("w", 1, 1).alias("pfx"), "w", "dfc")
             .repartition("pfx")
             .write.mode("overwrite")
             .partitionBy("pfx")
             .parquet(os.path.join(tmp, "dict")))
            (td.select(F.substring("w", 1, 1).alias("pfx"), "w", "doc_id")
             .repartition("pfx")
             .write.mode("overwrite")
             .partitionBy("pfx")
             .parquet(os.path.join(tmp, "postings")))
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump({}, f)

        derived.build_atomic(path, build)
    return path


@register(
    "q220_inverted_index_roundtrip",
    _Q220_ORACLE,
    doc="Inverted-index round-trip: the corpus is materialized ONCE as "
        "a dictionary (term → df, the memory-resident part of every IR "
        "system) plus prefix-PARTITIONED postings (term, doc_id), and "
        "the declared query serves a 3-term conjunctive AND from the "
        "index — partition pruning holds the postings scan to the "
        "probe terms' prefix directories, the layout-roundtrip family's "
        "contract (q199/q200/q205) applied to text retrieval.  Probe "
        "terms are the 3 top-df dictionary terms (ties "
        "word-ascending): collected driver-side from the "
        "dictionary like rank boundaries — metadata-class.  The oracle "
        "recomputes containment from raw text, proving the index "
        "lossless.  At 100 TB postings gain a second partition level "
        "(doc-id block) and per-term skip metadata; the declared shape "
        "— dictionary probe → pruned posting intersection — is "
        "unchanged.  BM25 (q214) is the scoring side of this index.  "
        "Probes are the 3 highest-df terms so the conjunction is "
        "selective-but-nonempty (~51% of docs at the fixture's ~0.8 "
        "per-term df) — a 0-row result would certify nothing.",
    tags=("llm", "text", "retrieval", "layout"),
)
def q220(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    path = _q220_index(spark, sf_dir)
    dct = spark.read.parquet(os.path.join(path, "dict"))
    post = spark.read.parquet(os.path.join(path, "postings"))
    return conjunctive_serve(dct.select("w", "dfc"), post)


# ---------------------------------------------------------------- Q223
_Q223_BPS = 50      # 0.5% of orders define audit windows
_Q223_DAYS = 7      # window length = bucket width (intervals span <= 2 buckets)
_Q223_TOPK = 20

_Q223_ORACLE = (
    "WITH win AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS ws, "
    f"CAST(o_orderdate AS DATE) + {_Q223_DAYS} AS we FROM orders "
    f"WHERE {ddb_hash_bps('o_orderkey', 'win')} < {_Q223_BPS}) "
    "SELECT w.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipped "
    "FROM win w JOIN lineitem l "
    "ON CAST(l.l_shipdate AS DATE) >= w.ws "
    "AND CAST(l.l_shipdate AS DATE) < w.we "
    "GROUP BY w.o_orderkey "
    f"ORDER BY n_shipped DESC, w.o_orderkey LIMIT {_Q223_TOPK}"
)


@register(
    "q223_interval_bucket_join",
    _Q223_ORACLE,
    doc="PURE interval join (no equi-key): shipments falling inside "
        "per-order audit windows [orderdate, orderdate+7d), counted "
        "per window — the range-join class (q19 has an equi component; "
        "q20/q144 are as-of) that a naive plan executes as "
        "BroadcastNestedLoop with an O(rows×windows) probe.  The "
        "scale rewrite is BUCKETIZATION (the technique behind "
        "dedicated range-join optimizers): bucket width = window "
        "length, so each fact row has exactly ONE bucket and each "
        "interval overlaps ≤2 — explode the interval side to its "
        "buckets, equi-join on the bucket id, post-filter the exact "
        "bounds.  No dedup pass is needed: a fact row's single bucket "
        "makes each (window, row) pair matchable exactly once.  The "
        "plan is a plain hash join that shuffles on the bucket key — "
        "works at any scale where the nested loop cannot.",
    tags=("join", "analytics"),
)
def q223(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.sampling import hash_bps

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    day0 = F.lit("1990-01-01").cast("date")

    win = (
        o.filter(hash_bps(F.col("o_orderkey"), "win") < _Q223_BPS)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("ws"),
            F.date_add(F.col("o_orderdate").cast("date"), _Q223_DAYS)
            .alias("we"),
        )
    )
    # interval → its ≤2 overlapped buckets (bucket width == window
    # length makes the explode factor exactly 2, independent of data)
    wb0 = F.floor(F.datediff(F.col("ws"), day0) / _Q223_DAYS)
    wb1 = F.floor(F.datediff(F.date_sub(F.col("we"), 1), day0) / _Q223_DAYS)
    winx = win.select(
        "o_orderkey", "ws", "we",
        F.explode(F.array_distinct(F.array(wb0, wb1))).alias("bkt"),
    )
    ship = li.select(F.col("l_shipdate").cast("date").alias("sd")).select(
        "sd", F.floor(F.datediff(F.col("sd"), day0) / _Q223_DAYS).alias("bkt"))
    return (
        ship.join(winx, "bkt")
        .filter((F.col("sd") >= F.col("ws")) & (F.col("sd") < F.col("we")))
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_shipped"))
        .orderBy(F.desc("n_shipped"), "o_orderkey")
        .limit(_Q223_TOPK)
    )


# ---------------------------------------------------------------- Q224
_Q224_BASE_BPS = 8000  # 80% of docs form the base snapshot


def _q224_oracle() -> str:
    def base_pred(c: str) -> str:
        return f"{ddb_hash_bps(c, 'ivmbase')} < {_Q224_BASE_BPS}"

    return (
        f"WITH RECURSIVE {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
        f"{DDB_CAND_CHAIN}, "
        "ver AS MATERIALIZED (SELECT t.a, t.b FROM inter t "
        "JOIN sizes sa ON sa.doc_id = t.a JOIN sizes sb ON sb.doc_id = t.b "
        "WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5), "
        "edges AS (SELECT a AS u, b AS v FROM ver UNION SELECT b, a FROM ver), "
        "walk(n, m) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
        "UNION SELECT e.u, w.m FROM edges e JOIN walk w ON w.n = e.v), "
        "cc_full AS (SELECT n AS doc_id, MIN(m) AS cid FROM walk GROUP BY n), "
        "bedges AS (SELECT u, v FROM edges WHERE "
        + base_pred("u") + " AND " + base_pred("v") + "), "
        "bwalk(n, m) AS (SELECT u, u FROM (SELECT DISTINCT u FROM bedges) "
        "UNION SELECT e.u, w.m FROM bedges e JOIN bwalk w ON w.n = e.v), "
        "cc_base AS (SELECT n AS doc_id, MIN(m) AS cid FROM bwalk GROUP BY n), "
        "per AS (SELECT f.cid, COUNT(*) AS n_docs, "
        "COUNT(DISTINCT b.cid) AS n_base_clusters FROM cc_full f "
        "LEFT JOIN cc_base b ON b.doc_id = f.doc_id GROUP BY f.cid) "
        "SELECT CAST(n_base_clusters AS BIGINT) AS n_base_clusters, "
        "CAST(COUNT(*) AS BIGINT) AS n_clusters, "
        "CAST(SUM(n_docs) AS BIGINT) AS n_docs "
        "FROM per GROUP BY 1 ORDER BY 1"
    )


@register(
    "q224_incremental_cluster_merge_audit",
    _q224_oracle(),
    doc="Incremental-dedup maintenance audit: with an 80% hash-defined "
        "base snapshot and the remaining 20% arriving as a delta, how "
        "do near-dup clusters change?  Per FULL-corpus cluster, count "
        "the distinct BASE clusters it absorbs: n_base_clusters = 0 → "
        "a brand-new cluster of delta docs, 1 → an existing cluster "
        "(possibly grown), ≥2 → the delta MERGED formerly-separate "
        "clusters (the case that forces canonical-doc reassignment in "
        "a production dedup store, and the reason incremental dedup "
        "cannot just append).  The verified pair set is computed ONCE "
        "(persisted); base edges are a pure hash filter of it (base "
        "membership is a pure function of doc_id), so the second "
        "closure runs on a subgraph, not a recomputed pipeline.  "
        "Output: histogram over n_base_clusters.",
    tags=("dedup", "llm", "graph", "cdc"),
)
def q224(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import dedup
    from tidb_gateway_spark.operators.cache import tracked_persist
    from tidb_gateway_spark.operators.sampling import hash_bps

    d = load_table(spark, sf_dir, "documents")
    ver = tracked_persist(dedup.near_dup_pairs(d).select("a", "b"))
    cc_full = dedup.connected_components(ver).select(
        "doc_id", F.col("cluster_id").alias("cid"))
    in_base = lambda c: hash_bps(F.col(c), "ivmbase") < _Q224_BASE_BPS  # noqa: E731
    bver = ver.filter(in_base("a") & in_base("b"))
    cc_base = dedup.connected_components(bver).select(
        F.col("doc_id").alias("bdoc"), F.col("cluster_id").alias("bcid"))
    per = (
        cc_full.join(cc_base, cc_full["doc_id"] == cc_base["bdoc"], "left")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("bcid").alias("n_base_clusters"),
        )
    )
    return (
        per.groupBy("n_base_clusters")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .select(
            F.col("n_base_clusters").cast("bigint").alias("n_base_clusters"),
            "n_clusters", "n_docs",
        )
        .orderBy("n_base_clusters")
    )


# ---------------------------------------------------------------- Q225
_Q225_SMALL_FILES = 64    # fragmented generation: 64 tiny files
_Q225_TARGET_FILES = 4    # compacted generation

_Q225_ORACLE = (
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(CAST(doc_id AS BIGINT)) AS BIGINT) AS id_sum, "
    "CAST(SUM(len(text)) AS BIGINT) AS chars "
    "FROM documents GROUP BY source ORDER BY source"
)


def _q225_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per fixture) a FRAGMENTED copy of documents
    (64 tiny files — the shape a streaming ingest or over-parallel
    writer leaves behind) and its COMPACTED generation (4 target-size
    files via one coalesce-free repartition).  Returns the companion
    root; the declared query reads the compacted generation."""
    import hashlib
    import os

    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    key = hashlib.md5(f"compact|{src}".encode()).hexdigest()[:16]
    path = derived.derived_path("compact", key)
    if not derived.is_fresh(path, src, marker="_COMPACT_DONE"):
        d = load_table(spark, sf_dir, "documents")

        def build(tmp: str) -> None:
            os.makedirs(tmp, exist_ok=True)
            (d.repartition(_Q225_SMALL_FILES)
             .write.mode("overwrite")
             .parquet(os.path.join(tmp, "small")))
            frag = spark.read.parquet(os.path.join(tmp, "small"))
            (frag.repartition(_Q225_TARGET_FILES)
             .write.mode("overwrite")
             .parquet(os.path.join(tmp, "compacted")))
            with open(os.path.join(tmp, "_COMPACT_DONE"), "w"):
                pass

        derived.build_atomic(path, build)
    return path


@register(
    "q225_compaction_roundtrip",
    _Q225_ORACLE,
    doc="Small-file compaction round-trip — the table-maintenance "
        "operation every long-lived 100 TB table needs (streaming "
        "ingest and over-parallel writers leave thousands of tiny "
        "files; footer and task-scheduling overhead then dominates "
        "scans): a 64-tiny-file generation of documents is rewritten "
        "into 4 target-size files (one repartition — the OPTIMIZE/"
        "compact primitive), and the declared query serves per-source "
        "aggregates WITH AN ID-SUM AND CHAR-COUNT CHECKSUM from the "
        "compacted generation while the oracle recomputes them from "
        "the RAW fixture — the hash match proves compaction lost and "
        "duplicated nothing.  File-count mechanics are asserted in "
        "tests/test_derived.py (not SQL-observable).  At scale the "
        "repartition keys on the table's layout columns so compaction "
        "preserves partition/bucket structure.",
    tags=("layout", "sources"),
)
def q225(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    path = _q225_compacted(spark, sf_dir)
    c = spark.read.parquet(os.path.join(path, "compacted"))
    return (
        c.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("doc_id").cast("bigint")).cast("bigint")
            .alias("id_sum"),
            F.sum(F.length("text")).cast("bigint").alias("chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q226
_Q226_RANKS = 1000  # fit over the top-1000 rank-frequency points

_Q226_ORACLE = (
    f"WITH tok AS ({_TOK_SQL_DDB}), "
    "cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w), "
    "rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r "
    f"FROM cnt QUALIFY r <= {_Q226_RANKS}), "
    "pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, "
    "ln(CAST(c AS DOUBLE)) AS y FROM rk), "
    "m AS (SELECT AVG(x) AS mx, AVG(y) AS my, "
    "CAST(COUNT(*) AS BIGINT) AS n FROM pts), "
    "f AS (SELECT m.n, "
    "SUM((x - mx) * (y - my)) / SUM((x - mx) * (x - mx)) AS slope "
    "FROM pts, m GROUP BY m.n) "
    "SELECT n, FLOOR(slope * 1e6 + 0.5) / 1e6 AS zipf_slope FROM f"
)


@register(
    "q226_zipf_slope",
    _Q226_ORACLE,
    doc="Zipf exponent of the corpus word distribution: OLS slope of "
        "ln(frequency) on ln(rank) over the top-1000 rank-frequency "
        "points — natural text sits near −1; a flat slope flags "
        "word-soup/templated corpora and a cliff flags boilerplate "
        "(the rank-frequency counterpart to q216's Heaps curve; "
        "together they are the two classic corpus-statistics "
        "diagnostics).  One tokenize pass → vocabulary-sized count "
        "aggregate → top-1000 ranks → a 1000-point regression whose "
        "sums are metadata-sized.  Rounded at 1e-6 (double-sum "
        "order-divergence is ~1e-13, the q215 argument).",
    tags=("llm", "text", "statistics"),
)
def q226(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    cnt = _tok(d).groupBy("w").agg(F.count("*").alias("c"))
    rk = (
        cnt.select("c", F.row_number().over(
            Window.orderBy(F.desc("c"), "w")).alias("r"))
        .filter(F.col("r") <= _Q226_RANKS)
    )
    pts = rk.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.count("*").cast("bigint").alias("n"),
    )
    f = (
        pts.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            (F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
             / F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))))
            .alias("slope")
        )
    )
    return f.select("n", stable_round(F.col("slope"), 6).alias("zipf_slope"))


# ---------------------------------------------------------------- Q272
# Hybrid retrieval fusion (VERDICT r13 directive 7: the one family-
# completing addition — lexical BM25 × dense-vector ranking fused by
# reciprocal rank).
_Q272_RRF_K = 60       # the standard RRF damping constant
_Q272_LEG_K = 10       # depth of each leg's ranked list

_Q272_ORACLE = (
    # lexical leg = q214's certified BM25 top-10, re-ranked 1..10 on
    # its ROUNDED score (determinism borrows q214's certified rounding)
    f"WITH lex AS ({_Q214_ORACLE}), "
    "lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER "
    "(ORDER BY score DESC, doc_id) AS INT) AS lr FROM lex), "
    # dense leg = exact cosine vs the vec_id=0 probe, rounded 1e-4
    # (the q75-certified comparison), top-10
    "dv AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings "
    "WHERE vec_id = 0), "
    "dc AS (SELECT vec_id, FLOOR(("
    "list_dot_product(CAST(b.embedding AS DOUBLE[]), dv.e) / "
    "(sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(dv.e, dv.e)))) * 10000 + 0.5) / 10000 "
    "AS cs FROM embeddings b CROSS JOIN dv WHERE b.vec_id <> 0), "
    "dtop AS (SELECT vec_id, CAST(rnk AS INT) AS dr FROM "
    "(SELECT vec_id, cs, ROW_NUMBER() OVER "
    "(ORDER BY cs DESC, vec_id) AS rnk FROM dc "
    f"ORDER BY cs DESC, vec_id LIMIT {_Q272_LEG_K})), "
    # reciprocal-rank fusion over the union of both lists; absent leg
    # contributes nothing; ×1e6 floor makes the hash integer-exact
    "f AS (SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id, "
    "COALESCE(l.lr, 0) AS lex_rank, COALESCE(d.dr, 0) AS dense_rank, "
    f"COALESCE(1.0 / ({_Q272_RRF_K} + l.lr), 0) + "
    f"COALESCE(1.0 / ({_Q272_RRF_K} + d.dr), 0) AS rrf "
    "FROM lexr l FULL JOIN dtop d ON l.doc_id = d.vec_id) "
    "SELECT doc_id, lex_rank, dense_rank, "
    "CAST(FLOOR(rrf * 1000000 + 0.5) AS BIGINT) AS rrf_x1e6 "
    "FROM f ORDER BY rrf_x1e6 DESC, doc_id "
    f"LIMIT {_Q272_LEG_K}"
)


@register(
    "q272_hybrid_rrf_fusion",
    _Q272_ORACLE,
    doc="Hybrid retrieval: q214's lexical BM25 top-10 fused with a "
        "dense cosine top-10 (probe = doc 0's embedding; doc_id ≡ "
        "vec_id in the fixture corpus) by reciprocal-rank fusion "
        "score Σ 1/(60+rank) — the standard lexical×dense ensembling "
        "(Cormack et al.'s RRF), completing the retrieval family "
        "(BM25 q214, inverted index q220, ANN q75/q94/q269/q271).  "
        "Determinism: each leg ranks on its already-certified ROUNDED "
        "score (q214's 1e-4 BM25, q75's 1e-4 cosine), and the fused "
        "score ships as an exact integer (×1e6 floor of a ≤2-term "
        "IEEE sum).  Scale shape: the legs are top-k aggregates "
        "(TakeOrdered, partial map-side), the fusion itself touches "
        "2k rows — at 100 TB swap the dense leg for q271's "
        "partition-pruned IVFADC serve and the lexical leg for the "
        "q220 materialized index; the fusion algebra is unchanged.",
    tags=("llm", "retrieval", "similarity"),
)
def q272(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import (
        norm_expr,
        probe_dot,
        topk,
    )

    lex = q214(spark, sf_dir)
    wl = Window.orderBy(F.desc("score"), "doc_id")
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))

    e = load_table(spark, sf_dir, "embeddings")

    def probe_vector():
        row = e.filter(F.col("vec_id") == 0).select("embedding").first()
        return [float(x) for x in row["embedding"]]

    probe = derived.memo("q272", f"{sf_dir}/embeddings.parquet",
                         probe_vector)
    pn = float(sum(x * x for x in probe)) ** 0.5
    cs = probe_dot("embedding", probe) / (norm_expr("embedding") * F.lit(pn))
    dtop = topk(e, "vec_id", cs, _Q272_LEG_K, exclude_id=0, name="cs")
    wd = Window.orderBy(F.desc("cs"), "vec_id")
    dr = dtop.select("vec_id", F.row_number().over(wd).alias("dense_rank"))

    f = lexr.join(dr, lexr.doc_id == dr.vec_id, "full_outer")
    rrf = (
        F.coalesce(1.0 / (_Q272_RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (_Q272_RRF_K + F.col("dense_rank")), F.lit(0.0))
    )
    return (
        f.select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("dense_rank", F.lit(0)).alias("dense_rank"),
            F.floor(rrf * 1000000 + F.lit(0.5)).cast("bigint")
            .alias("rrf_x1e6"),
        )
        .orderBy(F.desc("rrf_x1e6"), "doc_id")
        .limit(_Q272_LEG_K)
    )
