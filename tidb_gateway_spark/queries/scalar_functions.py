"""Q46–Q55: scalar function families — string / regex / date / math /
JSON / array (SURVEY.md §2B).

All expressions are built-in ``pyspark.sql.functions`` (JVM-side, inside
whole-stage codegen) — no Python UDFs on these paths.  Oracle forms carry
the DuckDB dialect (strpos, regexp_matches, ->>, 1-indexed lists,
list_dot_product) with integer widths cast to match Spark's output types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators.text import ddb_words, words
from tidb_gateway_spark.queries.registry import register


@register(
    "q46_string_basics",
    "SELECT p_partkey, UPPER(SUBSTR(p_name,1,5)) AS u, CAST(LENGTH(p_name) AS INT) AS l, "
    "REPLACE(p_brand,'#','-') AS r, CONCAT(p_type,'/',p_brand) AS c "
    "FROM part ORDER BY p_partkey",
    doc="UPPER/SUBSTR/LENGTH/REPLACE/CONCAT.",
    tags=("scalar", "string"),
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 5)).alias("u"),
        F.length("p_name").alias("l"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("r"),
        F.concat(F.col("p_type"), F.lit("/"), F.col("p_brand")).alias("c"),
    ).orderBy("p_partkey")


@register(
    "q47_pad_position",
    "SELECT p_partkey, LPAD(CAST(p_size AS VARCHAR),4,'0') AS z, "
    "CAST(strpos(p_name,'a') AS INT) AS i FROM part ORDER BY p_partkey",
    doc="LPAD + INSTR (oracle uses strpos).",
    tags=("scalar", "string"),
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("z"),
        F.instr("p_name", "a").alias("i"),
    ).orderBy("p_partkey")


@register(
    "q48_regex_match",
    "SELECT COUNT(*) AS n FROM part WHERE regexp_matches(p_name,'^[a-m]')",
    doc="Regex filter (Spark RLIKE ↔ DuckDB regexp_matches).",
    tags=("scalar", "string"),
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("^[a-m]")).agg(F.count("*").alias("n"))


@register(
    "q49_date_extract",
    "SELECT CAST(YEAR(o_orderdate) AS INT) AS y, CAST(MONTH(o_orderdate) AS INT) AS m, "
    "COUNT(*) AS n FROM orders GROUP BY 1, 2 ORDER BY y, m",
    doc="YEAR/MONTH extraction and grouping.",
    tags=("scalar", "date"),
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(F.count("*").alias("n"))
        .orderBy("y", "m")
    )


@register(
    "q50_date_trunc",
    "SELECT strftime(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS m, COUNT(*) AS n "
    "FROM orders GROUP BY 1 ORDER BY m",
    doc="date_trunc to month (emitted as ISO string — dates cross the "
        "engine boundary as text to dodge date-vs-datetime repr skew).",
    tags=("scalar", "date"),
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("m")
        )
        .agg(F.count("*").alias("n"))
        .orderBy("m")
    )


@register(
    "q51_date_arith",
    "SELECT o_orderkey, CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS d "
    "FROM orders ORDER BY o_orderkey LIMIT 100",
    doc="DATEDIFF day arithmetic (Spark datediff(end,start) ↔ DuckDB "
        "datediff('day',start,end)).",
    tags=("scalar", "date"),
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("d"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


@register(
    "q52_math_funcs",
    "SELECT l_orderkey, l_linenumber, FLOOR(SQRT(l_extendedprice)*1000 + 0.5)/1000 AS s, "
    "CAST(FLOOR(l_quantity/7) AS BIGINT) AS f, "
    "CAST(MOD(CAST(l_quantity AS INT),5) AS INT) AS m, "
    "FLOOR(POWER(1+l_discount,2)*10000 + 0.5)/10000 AS p "
    "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500",
    doc="ABS/ROUND/FLOOR/SQRT/POWER/MOD family.",
    tags=("scalar", "math"),
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            stable_round(F.sqrt("l_extendedprice"), 3).alias("s"),
            F.floor(F.col("l_quantity") / 7).alias("f"),
            (F.col("l_quantity").cast("int") % 5).alias("m"),
            stable_round(F.pow(F.lit(1) + F.col("l_discount"), 2), 4).alias("p"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


def _q53_variant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parse-on-read form of q53 (Spark 4 VARIANT), kept as the
    companion-less fallback and pinned equal to the shredded serving
    plan by tests/test_round10_ops.py.  The parse is projected ABOVE
    the ORDER BY's exchange, not below it, for two measured reasons
    (sf1, r6): (1) a range sort samples its child to pick partition
    bounds, so a pre-sort parse runs TWICE; (2) a compact parquet
    source can be a single input split, serializing a pre-shuffle
    parse onto one task — post-exchange it spreads across the sort
    partitions (4.5 s → 0.9 s at sf1).  r7 swept the parse strategies
    at sf1, best-of-6 idle-host: try_variant_get(try_parse_json)
    0.82 s < get_json_object 0.87 s < from_json 0.90 s."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_id", "props")
        .orderBy("event_id")
        .select(
            "event_id",
            F.try_variant_get(
                F.try_parse_json("props"), "$.k", "int").alias("k"),
        )
    )


@register(
    "q53_json_extract",
    "SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events ORDER BY event_id",
    doc="JSON field extraction ($.k from the events props column), "
        "PARSE-ON-READ via Spark 4 VARIANT (try_variant_get over "
        "try_parse_json — r7's measured-best of 3 parse strategies at "
        "sf1).  r11 ADVICE: the r10 form served the shredded companion, "
        "which made q53 and q102 two certifications of one identical "
        "plan and left NO registered query exercising a live JSON "
        "parse; q53 is back on the parse path so the registry covers "
        "both halves — q53 = parse-on-read (this entry), q102 = the "
        "ingest-time shredded serving (the 100 TB contract).  The two "
        "plans are pinned value-equal by tests/test_round10_ops.py.  "
        "The r7 MEASURED FLOOR stands: the parse-free sort+Arrow "
        "skeleton alone is 2.7× DuckDB's whole query in this ORDER BY "
        "form, so the perf story for repeated JSON access is q102's "
        "companion, not a faster parse.",
    tags=("scalar", "json"),
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q53_variant_parse(spark, sf_dir)


@register(
    "q102_json_extract_shredded",
    "SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events ORDER BY event_id",
    doc="The scale-correct form of q53: the SAME answer served from the "
        "ingest-time shredded companion (catalog.shredded_table — props "
        "parsed ONCE into a typed props_k column, materialized parquet) "
        "instead of re-running get_json_object over the raw JSON text "
        "per query.  The oracle recomputes from the raw parquet, proving "
        "the shred is lossless.  This is the plan the gateway's dialect "
        "rewrite serves to MySQL clients; declaring it makes the benched "
        "JSON path the one a 100 TB deployment would actually run.",
    tags=("scalar", "json", "materialized"),
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events_shredded")
    return e.select(
        "event_id", F.col("props_k").cast("int").alias("k")
    ).orderBy("event_id")


@register(
    "q54_array_access",
    "SELECT vec_id, CAST(len(embedding) AS INT) AS d, "
    "FLOOR(CAST(embedding[1] AS DOUBLE)*1000000 + 0.5)/1000000 AS e0 FROM embeddings ORDER BY vec_id",
    doc="Array length + element access (Spark 0-indexed ↔ DuckDB 1-indexed).",
    tags=("scalar", "array"),
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("d"),
        stable_round(F.col("embedding")[0].cast("double"), 6).alias("e0"),
    ).orderBy("vec_id")


# Dot product against the vec_id=0 query vector.  Both engines accumulate
# left-to-right over 64 doubles → bit-identical sums.
_Q55_ORACLE = (
    "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) "
    "SELECT e.vec_id, "
    "FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))*10000 + 0.5)/10000 AS dp "
    "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0 "
    "ORDER BY dp DESC, e.vec_id LIMIT 5"
)


@register(
    "q55_array_dot_product",
    _Q55_ORACLE,
    doc="Array dot product via zip_with + aggregate (higher-order "
        "functions, JVM-side) — top-5 by similarity to vec 0.",
    tags=("scalar", "array", "similarity"),
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import dot_expr, topk

    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe")))
    return topk(e.crossJoin(q), "vec_id", dot_expr("embedding", "qe"), 5,
                exclude_id=0)


@register(
    "q161_nested_struct_ops",
    "WITH n AS (SELECT {'key': o_orderkey, 'who': {'cust': o_custkey, "
    "'seg': o_orderpriority}, 'amt': o_totalprice} AS rec "
    "FROM orders), "
    "f AS (SELECT rec FROM n WHERE rec.who.cust % 3 = 0) "
    "SELECT rec.who.seg AS seg, COUNT(*) AS cnt, "
    "FLOOR(SUM(rec.amt)*100 + 0.5)/100 AS amt "
    "FROM f GROUP BY 1 ORDER BY seg",
    doc="Nested STRUCT construction + dotted-path access: rows packed "
        "into a two-level struct, filtered and aggregated through "
        "nested field paths — the semi-structured shape parquet "
        "pipelines carry everywhere. Catalyst prunes nested fields "
        "(schema pruning reaches rec.who.cust / rec.amt only) and the "
        "whole path stays codegen'd; the oracle uses DuckDB's native "
        "STRUCT literals for the same shape.",
    tags=("scalar", "struct", "nested"),
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    n = o.select(
        F.struct(
            F.col("o_orderkey").alias("key"),
            F.struct(
                F.col("o_custkey").alias("cust"),
                F.col("o_orderpriority").alias("seg"),
            ).alias("who"),
            F.col("o_totalprice").alias("amt"),
        ).alias("rec")
    )
    f = n.filter(F.col("rec.who.cust") % 3 == 0)
    return (
        f.groupBy(F.col("rec.who.seg").alias("seg"))
        .agg(
            F.count("*").alias("cnt"),
            stable_round(F.sum("rec.amt"), 2).alias("amt"),
        )
        .orderBy("seg")
    )


@register(
    "q162_explode_outer_empty_arrays",
    # DuckDB UNNEST drops empty lists; emulate *_outer by padding empty
    # lists with a NULL element.
    "WITH a AS (SELECT doc_id, "
    f"list_filter({ddb_words()}, x -> len(x) >= 9) AS long_w "
    "FROM documents), "
    "p AS (SELECT doc_id, CASE WHEN len(long_w) = 0 "
    "THEN [NULL] ELSE long_w END AS lw FROM a), "
    "e AS (SELECT doc_id, UNNEST(lw) AS w FROM p) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS rows_out, "
    "CAST(COUNT(w) AS BIGINT) AS with_word, "
    "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs "
    "FROM e",
    doc="explode_outer semantics: documents exploded on their ≥9-char "
        "words, with EMPTY-array rows KEPT as a NULL row (plain "
        "explode silently drops them — losing documents from the "
        "output is the classic explode bug in per-doc pipelines; "
        "docs == total document count is the proof). The oracle "
        "emulates outer-explode by NULL-padding empty lists, pinning "
        "the exact row-multiplicity contract.",
    tags=("scalar", "array", "explode"),
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    long_w = F.filter(words(), lambda x: F.length(x) >= 9)
    e = d.select(
        "doc_id", F.explode_outer(long_w).alias("w"))
    return e.agg(
        F.count("*").alias("rows_out"),
        F.count("w").alias("with_word"),
        F.countDistinct("doc_id").alias("docs"),
    )


@register(
    "q163_string_parsing_family",
    "WITH p AS (SELECT c_custkey, c_name, "
    "string_split(c_name, '#')[1] AS prefix, "
    "CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS parsed_id, "
    "len(regexp_extract_all(c_name, '[0-9]')) AS digit_count "
    "FROM customer) "
    "SELECT prefix, COUNT(*) AS n, "
    "CAST(SUM(CASE WHEN parsed_id = c_custkey + 1 OR parsed_id = "
    "c_custkey THEN 1 ELSE 0 END) AS BIGINT) AS id_consistent, "
    "CAST(MAX(digit_count) AS BIGINT) AS max_digits "
    "FROM p GROUP BY prefix ORDER BY prefix",
    doc="String parsing family (split_part / regexp_extract / "
        "regexp_extract_all) over the structured-identifier column "
        "shape ('Customer#000000001'): split on the separator, extract "
        "the numeric id, count digit occurrences — the log/identifier "
        "parsing battery. Regex stays in the codegen'd scan; the "
        "id-consistency cross-check certifies the parse against the "
        "typed key column, not just row counts.",
    tags=("scalar", "string", "regex"),
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    p = c.select(
        "c_custkey",
        F.split(F.col("c_name"), "#")[0].alias("prefix"),
        F.regexp_extract(F.col("c_name"), r"([0-9]+)", 1)
        .cast("bigint").alias("parsed_id"),
        F.size(
            F.regexp_extract_all(F.col("c_name"), F.lit(r"[0-9]"), F.lit(0))
        ).alias("digit_count"),
    )
    ok = (F.col("parsed_id") == F.col("c_custkey") + 1) | (
        F.col("parsed_id") == F.col("c_custkey"))
    return (
        p.groupBy("prefix")
        .agg(
            F.count("*").alias("n"),
            F.sum(ok.cast("long")).alias("id_consistent"),
            F.max("digit_count").alias("max_digits"),
        )
        .orderBy("prefix")
    )


@register(
    "q164_keyset_pagination",
    "WITH page AS (SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_orderkey > 1000 ORDER BY o_orderkey LIMIT 100) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(MIN(o_orderkey) AS BIGINT) AS first_key, "
    "CAST(MAX(o_orderkey) AS BIGINT) AS last_key, "
    "FLOOR(SUM(o_totalprice)*100 + 0.5)/100 AS page_total FROM page",
    doc="Keyset pagination (seek method): the next page is `key > "
        "last_seen ORDER BY key LIMIT n` — at 100 TB, OFFSET k scans "
        "and discards k rows per page (O(pages²) total) while the "
        "keyset predicate pushes into the parquet scan and reads ~one "
        "row group; q40 declares the OFFSET form, this declares the "
        "scale-correct replacement a reference user should migrate to. "
        "The range predicate lands in PushedFilters and TakeOrdered "
        "bounds the sort.",
    tags=("sort", "pagination"),
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    page = (
        o.filter(F.col("o_orderkey") > 1000)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(100)
    )
    return page.agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
        stable_round(F.sum("o_totalprice"), 2).alias("page_total"),
    )
