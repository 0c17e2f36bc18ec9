"""Operator-level unit tests: UDF-surface parity (SURVEY.md §2B UDF
table), approx-op property tests (§5.2 item 5), dedup/similarity
operator behavior, and source/sink round-trips."""

from __future__ import annotations

import math
import string

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import udf_surface
from tidb_gateway_spark.operators import dedup, multimodal, similarity
from tidb_gateway_spark.operators.localrel import (
    _LITERAL_ROW_CAP,
    local_rows_df,
)
from tidb_gateway_spark.sources import io as sources_io


# ---- UDF surface parity ----

def test_pandas_udf_equals_row_udf_equals_builtin(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").limit(500)
    out = li.select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("builtin"),
        udf_surface.discounted_price_rowudf("l_extendedprice", "l_discount").alias("rowu"),
        udf_surface.discounted_price_pandas("l_extendedprice", "l_discount").alias("vec"),
    ).collect()
    for r in out:
        assert math.isclose(r["builtin"], r["rowu"], rel_tol=1e-12)
        assert math.isclose(r["builtin"], r["vec"], rel_tol=1e-12)


def test_grouped_agg_udaf_equals_builtin_avg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    # GROUPED_AGG pandas UDFs cannot share an agg() with builtin
    # aggregates — compute separately and join.
    udaf = e.groupBy("user_id").agg(udf_surface.mean_grouped_agg("value").alias("udaf"))
    builtin = e.groupBy("user_id").agg(F.avg("value").alias("builtin"))
    for r in udaf.join(builtin, "user_id").collect():
        assert math.isclose(r["udaf"], r["builtin"], rel_tol=1e-9)


def test_applyinpandas_normalize(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    out = udf_surface.normalize_per_group(e, "user_id", "value")
    stats = out.groupBy("user_id").agg(
        F.avg("znorm").alias("mu"), F.stddev_samp("znorm").alias("sd"),
        F.count("*").alias("n"),
    ).collect()
    for r in stats:
        assert abs(r["mu"]) < 1e-6
        if r["n"] > 1 and r["sd"] is not None and r["sd"] > 0:
            assert math.isclose(r["sd"], 1.0, rel_tol=1e-6)


def test_posexplode_tokens(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(10)
    toks = udf_surface.explode_tokens(d).collect()
    assert toks and all(t["token"] != "" for t in toks)
    first = [t for t in toks if t["doc_id"] == toks[0]["doc_id"]]
    assert [t["pos"] for t in first] == sorted(t["pos"] for t in first)


# ---- approx ops property test ----

def test_approx_count_distinct_within_5pct(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey").alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


# ---- dedup / similarity operators ----

def test_keep_first_is_deterministic_winner(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    kept = dedup.keep_first(d, F.md5("text"), "doc_id")
    assert kept.count() == d.select(F.md5("text")).distinct().count()
    # winner must be the minimum doc_id of its hash group
    joined = (
        kept.select(F.md5("text").alias("h"), F.col("doc_id").alias("winner"))
        .join(d.select(F.md5("text").alias("h"), "doc_id"), "h")
        .groupBy("h", "winner")
        .agg(F.min("doc_id").alias("mn"))
        .collect()
    )
    assert all(r["winner"] == r["mn"] for r in joined)


def test_minhash_lsh_finds_exact_duplicates(spark, sf_dir):
    """Identical texts have identical signatures → every exact-dup pair
    must appear in the candidate set (recall=1 for exact dups)."""
    d = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(d)
    cand_set = {(r["a"], r["b"]) for r in cand.collect()}
    dups = (
        d.alias("x")
        .join(d.alias("y"), (F.expr("md5(x.text) = md5(y.text)"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    )
    if not dups:
        pytest.skip("no exact duplicates at this scale factor (present at sf0.01)")
    missing = [(r["a"], r["b"]) for r in dups if (r["a"], r["b"]) not in cand_set]
    assert not missing


def test_lsh_band_rows_match_oracle(spark, sf_dir, ddb):
    """The (doc_id, band, bv) rows themselves — not only the candidate
    pairs they induce — equal the DuckDB oracle chain's: persisted band
    indexes (q262/q265/q267) are joined on these exact values."""
    from tidb_gateway_spark.operators.dedup import (
        DDB_BANDS, DDB_SHINGLES, DDB_SIGS,
    )

    d = load_table(spark, sf_dir, "documents")
    bl = dedup.lsh_bands(
        dedup.minhash_signatures(dedup.doc_shingles(d, distinct=False)))
    got = {(r["doc_id"], r["band"], r["bv"]) for r in bl.collect()}
    want = set(ddb.execute(
        f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS} "
        "SELECT doc_id, band, bv FROM bands").fetchall())
    assert got and got == want


# ---- shared hash twins: each Spark form against its DuckDB text ----

@given(
    keys=st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                  min_size=1, max_size=40),
    salt=st.text(alphabet=string.ascii_letters + string.digits + "_",
                 max_size=12),
)
@example(keys=[0, -1, 2**31 - 1, 2**31, -2**31 - 1, 2**63 - 1, -2**63],
         salt="split")
@settings(max_examples=25, deadline=None)
def test_hash_bps_matches_ddb_twin(spark, ddb, keys, salt):
    """sampling.hash_bps and ddb_hash_bps bucket every BIGINT key the
    same way, for any salt: the registry's sampling oracles rest on it."""
    from tidb_gateway_spark.operators.sampling import ddb_hash_bps, hash_bps

    got = {
        (r["k"], r["bps"])
        for r in spark.createDataFrame([(k,) for k in keys], "k bigint")
        .select("k", hash_bps(F.col("k"), salt).alias("bps")).collect()
    }
    want = set(ddb.execute(
        f"SELECT k, {ddb_hash_bps('k', salt)} AS bps "
        "FROM (SELECT UNNEST(CAST(? AS BIGINT[])) AS k)", [keys]).fetchall())
    assert got == want


def test_simhash_rows_match_ddb_twin(spark, sf_dir, ddb):
    """The (doc_id, sh) SimHash signatures equal dedup.DDB_SIMHASH_SIGS's
    rows, not only the aggregates q73/q114 declare."""
    d = load_table(spark, sf_dir, "documents")
    got = {(r["doc_id"], r["sh"])
           for r in dedup.simhash(d).collect()}
    want = set(ddb.execute(
        f"WITH {dedup.DDB_SIMHASH_SIGS} SELECT doc_id, sh FROM sh").fetchall())
    assert got and got == want


def test_cms_cells_match_ddb_twin(spark, sf_dir, ddb):
    """Every (j, bucket, cnt) count-min cell equals sketch.ddb_cms_cells's,
    not only the top-10 estimates q179 declares."""
    from tidb_gateway_spark.operators import sketch

    o = load_table(spark, sf_dir, "orders")
    got = {(r["j"], r["bucket"], r["cnt"])
           for r in sketch.cms_cells(o, F.col("o_custkey")).collect()}
    want = set(ddb.execute(
        sketch.ddb_cms_cells("orders", "o_custkey")).fetchall())
    assert got and got == want


# ---- tokenizer twins: each text.py shape against its DuckDB text ----

# Space runs, edge spaces, blank and all-space text, tabs, NBSP and
# other non-ASCII; only U+0020 separates words.
_PIECES = [" ", "  ", "   ", "\t", "\u00a0", "\u3000", "a", "b", "ab",
           "é", "中文", "x\ty", "\u00a0z"]
_texts = st.lists(
    st.lists(st.sampled_from(_PIECES), max_size=14).map("".join),
    min_size=1, max_size=8)
_BLANKS = ["", " ", "   ", "\t", "\u00a0", " a  b ", "  中文\t é  "]


def _twin_frames(spark, texts):
    import duckdb
    import pandas as pd

    rows = list(enumerate(texts))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["id", "text"]))
    return spark.createDataFrame(rows, "id long, text string"), con


@given(texts=_texts)
@example(texts=_BLANKS)
@settings(max_examples=25, deadline=None)
def test_words_and_count_match_ddb_twins(spark, texts):
    """text.words / word_count equal ddb_words / ddb_word_count on any
    spacing: [] and 0 for blank text, no trimming of NBSP or tabs."""
    from tidb_gateway_spark.operators import text as tx

    df, con = _twin_frames(spark, texts)
    got = {r["id"]: (list(r["w"]), r["n"]) for r in df.select(
        "id", tx.words().alias("w"), tx.word_count().alias("n")).collect()}
    want = {i: (w, n) for i, w, n in con.execute(
        f"SELECT id, {tx.ddb_words()}, {tx.ddb_word_count()} FROM documents"
    ).fetchall()}
    assert got == want
    for i, t in enumerate(texts):
        assert got[i][0] == [w for w in t.split(" ") if w]


@given(texts=_texts)
@example(texts=_BLANKS)
@settings(max_examples=25, deadline=None)
def test_word_rows_match_ddb_twin(spark, texts):
    """text.word_rows equals ddb_word_rows as a multiset of (id, w);
    a blank text has no row."""
    from collections import Counter

    from tidb_gateway_spark.operators import text as tx

    df, con = _twin_frames(spark, texts)
    got = Counter((r["id"], r["w"])
                  for r in tx.word_rows(df, "id").collect())
    want = Counter(con.execute(tx.ddb_word_rows("id")).fetchall())
    assert got == want


@given(texts=st.lists(
    st.lists(st.tuples(st.sampled_from(["a", "b", "é"]),
                       st.sampled_from([" ", "  ", "   "])),
             max_size=20)
    .map(lambda ws: " " + "".join(w + s for w, s in ws)),
    min_size=1, max_size=6))
@settings(max_examples=25, deadline=None)
def test_gram_digests_match_ddb_twin(spark, texts):
    """(id, pos, gh) from posexplode(text.gram_digests) over text.words
    equals text.DDB_GRAMS over ddb_words — including texts shorter
    than GRAM_K words, which have no gram."""
    from tidb_gateway_spark.operators import text as tx

    df, con = _twin_frames(spark, texts)
    got = {(r["id"], r["pos"], r["gh"]) for r in
           df.select("id", tx.words().alias("wlist"))
           .select("id", F.posexplode(tx.gram_digests()).alias("pos", "gh"))
           .collect()}
    want = set(con.execute(
        f"WITH wl AS (SELECT id AS doc_id, {tx.ddb_words()} AS wl "
        f"FROM documents), "
        f"{tx.DDB_GRAMS} SELECT doc_id, pos, gh FROM g").fetchall())
    assert got == want


def test_hash_twins_live_only_in_operators():
    """Query modules assemble oracles from the operators' DuckDB twins:
    no salted md5 is spelled by hand outside operators/, no whitespace
    split of the ``text`` column is spelled outside operators/text.py,
    no string literal outside operators/ spells a stage of the near-dup
    chain (band join, sizes/inter, Jaccard ratio or threshold,
    recursive closure) or the IVF argmax cell assignment, no query
    module reaches into another one's ``_``-prefixed names, and no
    registered QuerySpec is patched with dataclasses.replace."""
    import ast
    import pathlib
    import re

    import tidb_gateway_spark

    pkg = pathlib.Path(tidb_gateway_spark.__file__).parent
    salted = re.compile(r"md5\('[^']*\|' \|\||F\.md5\(F\.concat\(F\.lit\(")
    private = re.compile(r"^_(DDB|ddb)_")
    # split(<first arg>, <separator>) in Spark code, Spark SQL or DuckDB
    # SQL; the first arg is "of text" when it names text (text,
    # trim(text), d.text, F.col("text"), text_col) or is the trimmed-text
    # local ``t``
    split_call = re.compile(
        r"\b(?:string_|str_|regexp_)?split(?:_to_array)?\(\s*"
        r"((?:[^,()]|\([^()]*(?:\([^()]*\))?[^()]*\))*),\s*"
        r"(\"[^\"]*\"|'[^']*')")
    # stages owned by dedup.ddb_cand / ddb_sizes_inter / ddb_jaccard /
    # ddb_near_dup / ddb_components and similarity.ddb_ivf_assign; the
    # epoch-ordered band joins of the q263/q265/q266 gate stay their own
    twin_stages = {
        "band join": re.compile(
            r"x\.band = y\.band AND x\.bv = y\.bv AND x\.doc_id < y\.doc_id"),
        "sizes/inter": re.compile(r"\b(?:sizes|inter) AS \("),
        "Jaccard ratio": re.compile(r"sz \+ sb\.sz -"),
        "verify threshold": re.compile(r"2 \* (?:t\.)?i >="),
        "recursive closure": re.compile(r"walk\("),
        "argmax cell": re.compile(r"ORDER BY s DESC, cid"),
    }

    def literals(tree):
        """(line, text) of every string literal; adjacent literals are
        one node, and an f-string's fields read as {}."""
        for n in ast.walk(tree):
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                yield n.lineno, n.value
            elif isinstance(n, ast.JoinedStr):
                yield n.lineno, "".join(
                    v.value if isinstance(v, ast.Constant) else "{}"
                    for v in n.values)

    split_exceptions = {
        ("functions/udf_surface.py", 'F.col(text_col)', '" "'):
            "explode_tokens' posexplode positions count empty tokens",
        ("queries/distribution_quality.py", 'F.col("text")', '""'):
            "a character split, not a word split",
    }
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg).as_posix()
        src = p.read_text()
        if not rel.startswith("operators/"):
            offenders += [f"{rel}:{i} salted md5"
                          for i, line in enumerate(src.splitlines(), 1)
                          if salted.search(line)]
            offenders += [f"{rel}:{i} spells the {stage}"
                          for i, text in literals(ast.parse(src))
                          for stage, pat in twin_stages.items()
                          if pat.search(text)]
        if rel != "operators/text.py":
            for m in split_call.finditer(src):
                arg, sep = m.group(1).strip(), m.group(2)
                if (("text" in arg or arg == "t")
                        and (rel, arg, sep) not in split_exceptions):
                    line = src.count("\n", 0, m.start()) + 1
                    offenders.append(f"{rel}:{line} splits {arg}")
        if not rel.startswith("queries/"):
            continue
        tree = ast.parse(src)
        # names bound to other query modules, to the dataclasses module
        # or to dataclasses.replace
        query_mods = {a.asname or a.name for n in ast.walk(tree)
                      if isinstance(n, ast.ImportFrom)
                      and n.module == "tidb_gateway_spark.queries"
                      for a in n.names}
        dc_mods = {a.asname or a.name for n in ast.walk(tree)
                   if isinstance(n, ast.Import)
                   for a in n.names if a.name == "dataclasses"}
        dc_replace = {a.asname or a.name for n in ast.walk(tree)
                      if isinstance(n, ast.ImportFrom)
                      and n.module == "dataclasses"
                      for a in n.names if a.name == "replace"}
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").startswith(
                        "tidb_gateway_spark.queries")):
                offenders += [f"{rel}:{node.lineno} imports {a.name}"
                              for a in node.names if a.name.startswith("_")]
            if isinstance(node, ast.Attribute) and (
                    private.match(node.attr)
                    or (node.attr.startswith("_")
                        and isinstance(node.value, ast.Name)
                        and node.value.id in query_mods)):
                offenders.append(f"{rel}:{node.lineno} reads .{node.attr}")
            if isinstance(node, ast.Call) and (
                    (isinstance(node.func, ast.Name)
                     and node.func.id in dc_replace)
                    or (isinstance(node.func, ast.Attribute)
                        and node.func.attr == "replace"
                        and isinstance(node.func.value, ast.Name)
                        and node.func.value.id in dc_mods)):
                offenders.append(f"{rel}:{node.lineno} dataclasses.replace")
    assert offenders == []


def test_lsh_ann_is_exact_within_bucket(spark, sf_dir):
    """The fixture embeddings are random (no cluster structure), so the
    meaningful ANN invariant is: bucket-restricted top-k == brute-force
    top-k over the candidates in the query's bucket, and scores never
    exceed the global optimum."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    query = e.filter(F.col("vec_id") == 0)
    bucketed = similarity.with_lsh_bucket(e, 4, 64)
    qb = bucketed.filter(F.col("vec_id") == 0).collect()[0]["bucket"]
    in_bucket = bucketed.filter((F.col("bucket") == qb) & (F.col("vec_id") != 0)).drop("bucket")
    expected = similarity.brute_force_topk(in_bucket, query, k=10).collect()
    got = similarity.lsh_bucket_topk(corpus, query, k=10, n_planes=4).collect()
    assert [(r["vec_id"], r["dp"]) for r in got] == [
        (r["vec_id"], r["dp"]) for r in expected
    ]
    global_best = similarity.brute_force_topk(corpus, query, k=1).collect()[0]["dp"]
    assert all(r["dp"] <= global_best for r in got)


def test_arrow_bucketing_matches_hof_bucketing(spark, sf_dir):
    """The vectorized (numpy matmul) bucketing must assign every vector
    the same bucket as the left-to-right JVM HOF form — the numeric
    margin is ~10^9x the summation-reorder error (similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    hof = {r["vec_id"]: r["bucket"]
           for r in similarity.with_lsh_bucket(e, 6, 64).collect()}
    arrow = {r["vec_id"]: r["bucket"]
             for r in similarity.with_lsh_bucket_arrow(e, 6, 64).collect()}
    assert hof == arrow


def test_ann_index_query_matches_inline_lsh(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """A query against the materialized bucketed index returns exactly
    what the index-less inline bucketing path returns, and the index is
    reused (not rebuilt) on the second call."""
    import os

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    query = e.filter(F.col("vec_id") == 0)
    inline = similarity.lsh_bucket_topk(corpus, query, k=10, n_planes=4).collect()

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path))
    idx = similarity.ann_index(spark, f"{sf_dir}/embeddings.parquet",
                               n_planes=4, dim=64)
    qrow = (idx.filter(F.col("vec_id") == 0)
            .select("embedding", "bucket").head())
    got = similarity.ann_query(
        idx, qrow["bucket"], list(qrow["embedding"]), k=10, exclude_id=0
    ).collect()
    assert [(r["vec_id"], r["dp"]) for r in got] == [
        (r["vec_id"], r["dp"]) for r in inline
    ]
    # second call must reuse, not rebuild: _SUCCESS mtime unchanged
    marker = next(
        os.path.join(r, f) for r, _, fs in os.walk(tmp_path)
        for f in fs if f == "_SUCCESS"
    )
    mt = os.path.getmtime(marker)
    similarity.ann_index(spark, f"{sf_dir}/embeddings.parquet",
                         n_planes=4, dim=64)
    assert os.path.getmtime(marker) == mt


def test_ivf_query_is_exact_within_probed_cells(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """IVF top-k == brute-force top-k over the vectors assigned to the
    probe's nprobe cells, and never beats the global optimum."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path))
    path = f"{sf_dir}/embeddings.parquet"
    cents = similarity.ivf_centroids(spark, path, 8)
    idx = similarity.ivf_index(spark, path, n_cells=8)
    got = similarity.ivf_query(idx, cents, cents[0], k=10, nprobe=2,
                               exclude_id=0).collect()
    # expected: assign cells with the same argmax rule, brute-force
    # within the probed cells
    C = np.array(cents, dtype=np.float64)
    q = np.array(cents[0], dtype=np.float64)
    order = sorted(range(len(C)), key=lambda j: (-(C[j] @ q), j))
    probe = set(order[:2])
    rows = e.collect()
    def sr4(x):  # stable_round: FLOOR(x*1e4 + 0.5)/1e4, not banker's
        return math.floor(x * 10000 + 0.5) / 10000

    cand = []
    for r in rows:
        v = np.array(list(r["embedding"]), dtype=np.float64)
        cell = int((C @ v).argmax())
        if cell in probe and r["vec_id"] != 0:
            cand.append((r["vec_id"], sr4(float(v @ q))))
    expected = sorted(cand, key=lambda t: (-t[1], t[0]))[:10]
    assert [(r["vec_id"], r["dp"]) for r in got] == expected
    global_best = similarity.brute_force_topk(
        e.filter(F.col("vec_id") != 0),
        e.filter(F.col("vec_id") == 0), k=1,
    ).collect()[0]["dp"]
    assert all(r["dp"] <= global_best for r in got)


def test_ivf_cells_match_ddb_twins(spark, sf_dir, ddb):
    """similarity.DDB_IVF_CELLS assigns every fixture vector the cell
    with_ivf_cell_arrow assigns, and ddb_top_cells probes the cells
    top_cells picks."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(
        spark, f"{sf_dir}/embeddings.parquet", similarity.IVF_CELLS)
    got = {(r["vec_id"], r["cell"])
           for r in similarity.with_ivf_cell_arrow(e, cents).collect()}
    want = set(ddb.execute(
        f"WITH {similarity.DDB_IVF_CELLS} "
        "SELECT vec_id, cell FROM cells").fetchall())
    assert got and got == want

    C = np.array(cents, dtype=np.float64)
    probes = e.filter(F.col("vec_id") < 40).collect()
    got = {(r["vec_id"], cid) for r in probes
           for cid in similarity.top_cells(
               C @ np.array(list(r["embedding"]), dtype=np.float64),
               similarity.IVF_NPROBE)}
    want = set(ddb.execute(
        f"WITH {similarity.DDB_IVF_CELLS}, "
        "p AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 40), "
        f"{similarity.ddb_top_cells('pc', 'p')} "
        "SELECT qid, cid FROM pc").fetchall())
    assert got == want


def test_salted_join_equals_plain_join(spark, sf_dir):
    """salted_join must be set-equal to the plain join (salting spreads
    a hot key across n_salt tasks without changing semantics), and its
    plan must join on (key, _salt) so the shuffle keys carry the salt."""
    from tidb_gateway_spark.operators.skew import salted_join
    from tidb_gateway_spark.plans import inspect

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    plain = e.join(c, "user_id", "inner")
    salted = salted_join(e, c, "user_id", n_salt=4,
                         salt_on=F.col("event_id"))
    assert salted.columns == plain.columns
    assert salted.subtract(plain).count() == 0
    assert plain.subtract(salted).count() == 0
    text = inspect.explain_formatted(salted)
    assert "_salt" in text


# ---- Spark Connect compatibility fallbacks ----
#
# A Connect session exposes no SparkContext and no .rdd; grpc is not
# installed in this container, so the fallback paths are exercised with
# a context-less stand-in rather than a live Connect server.

class _ConnectishSession:
    """Mimics pyspark.sql.connect's session surface: conf only."""

    class _Conf:
        def __init__(self, values):
            self._values = values

        def get(self, key, default=None):
            if key in self._values:
                return self._values[key]
            if default is None:
                raise KeyError(key)
            return default

    def __init__(self, confs):
        self.conf = self._Conf(confs)

    @property
    def sparkContext(self):
        raise AttributeError("sparkContext is not available in Spark Connect")


def test_session_parallelism_connect_fallback():
    from tidb_gateway_spark.operators.partitioning import session_parallelism

    s = _ConnectishSession({"spark.sql.shuffle.partitions": "17"})
    assert session_parallelism(s) == 17
    assert session_parallelism(_ConnectishSession({}), default=99) == 99


def test_app_token_connect_fallback():
    from tidb_gateway_spark.operators.rank import _app_token

    s = _ConnectishSession({"spark.app.id": "app-via-conf"})
    assert _app_token(s) == "app-via-conf"
    bare = _ConnectishSession({})
    assert _app_token(bare) == f"session-{id(bare)}"


def test_ensure_min_partitions_connect_rebalances(spark, sf_dir):
    """Without a SparkContext the guard must fall back to an AQE
    REBALANCE hint (never crash, never silently skip)."""
    from unittest import mock

    from tidb_gateway_spark.operators.partitioning import ensure_min_partitions

    def _raise(self):
        raise AttributeError("sparkContext is not available in Spark Connect")

    d = load_table(spark, sf_dir, "documents")
    with mock.patch.object(type(spark), "sparkContext", property(_raise)):
        out = ensure_min_partitions(d)
    assert "rebalance" in out._jdf.queryExecution().logical().toString().lower()


def test_simhash_identical_docs_collide(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sh = dedup.simhash(d)
    pair = (
        d.alias("x")
        .join(d.alias("y"), (F.expr("md5(x.text) = md5(y.text)"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .limit(1)
        .collect()
    )
    if pair:
        a, b = pair[0]["a"], pair[0]["b"]
        sig = {r["doc_id"]: r["sh"] for r in sh.filter(F.col("doc_id").isin(a, b)).collect()}
        assert sig[a] == sig[b]


# ---- multimodal plumbing ----

def test_multimodal_decode_matches_python_oracle(spark, sf_dir):
    import hashlib

    d = load_table(spark, sf_dir, "documents").limit(50)
    decoded = multimodal.decode_metadata(multimodal.with_synthetic_binary(d)).collect()
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    assert decoded
    for r in decoded:
        payload = bytes.fromhex(hashlib.md5(texts[r["doc_id"]].encode()).hexdigest())
        assert r["byte_len"] == 16
        assert r["width"] == payload[0] % 64 + 16
        assert r["height"] == payload[1] % 64 + 16
        assert r["fmt"] == ("jpeg", "png", "webp")[payload[2] % 3]


def test_resize_stub_raises_without_codec():
    if multimodal.HAVE_CODEC:
        pytest.skip("codec present")
    with pytest.raises(NotImplementedError):
        multimodal.resize_stub(None)


# ---- sources / sinks ----

def test_csv_json_roundtrip_and_ctas(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    csv_path = str(tmp_path / "region_csv")
    region.write.option("header", "true").csv(csv_path)
    back = sources_io.read_csv(spark, csv_path)
    assert sorted(r["r_name"] for r in back.collect()) == sorted(
        r["r_name"] for r in region.collect()
    )

    json_path = str(tmp_path / "region_json")
    region.write.json(json_path)
    backj = sources_io.read_json(spark, json_path)
    assert backj.count() == region.count()

    out = str(tmp_path / "ctas")
    sources_io.write_parquet_table(
        load_table(spark, sf_dir, "orders"), out, partition_by=None
    )
    assert spark.read.parquet(out).count() == load_table(spark, sf_dir, "orders").count()


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/source round-trip; filters must push to the ORC scan
    just like parquet (Spark-native columnar path)."""
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    sources_io.write_orc_table(orders, out)
    back = sources_io.read_orc(spark, out)
    assert back.count() == orders.count()
    filtered = back.filter(F.col("o_custkey") < 10).select("o_orderkey")
    from tidb_gateway_spark.plans.inspect import pushed_filters

    pf = pushed_filters(filtered)
    assert any("o_custkey" in f for f in pf), pf
    expected = orders.filter(F.col("o_custkey") < 10).select("o_orderkey")
    assert filtered.subtract(expected).count() == 0
    assert expected.subtract(filtered).count() == 0


def test_shred_json_column_matches_per_query_parse(spark, sf_dir, tmp_path):
    """Ingest-time JSON shredding: parse props ONCE into a typed column,
    materialize to parquet, and the stored values equal what per-query
    get_json_object would extract — while later scans read a pruned INT
    column instead of re-parsing text (the 100 TB answer to q53's
    per-query JSON cost, BASELINE.md)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "props")
    shredded = sources_io.shred_json_column(e, "props", "k INT")
    out = str(tmp_path / "events_shredded")
    sources_io.write_parquet_table(shredded, out)

    back = spark.read.parquet(out).select("event_id", "k")
    expected = e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    assert back.subtract(expected).count() == 0
    assert expected.subtract(back).count() == 0
    # the shredded table no longer carries the raw JSON text
    assert "props" not in spark.read.parquet(out).columns
    # and the typed read prunes to exactly the two requested columns
    from tidb_gateway_spark.plans.inspect import read_schema_columns
    assert read_schema_columns(back) == [{"event_id", "k"}]


def test_load_data_infile_analog(spark, tmp_path):
    p = tmp_path / "infile.csv"
    p.write_text("1,alpha\n2,beta\n3,gamma\n")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("name", T.StringType())]
    )
    df = sources_io.load_data_infile(spark, str(p), "infile_t", schema=schema)
    assert df.count() == 3
    assert spark.sql("SELECT name FROM infile_t WHERE id = 2").collect()[0][0] == "beta"


# ---- scalable global rank ----

def test_global_row_number_matches_window(spark, sf_dir):
    """Two-pass range-partitioned rank == single-partition window rank
    (the 100 TB replacement for global windows; operators/rank.py)."""
    from pyspark.sql import Window
    from tidb_gateway_spark.operators.rank import global_row_number

    o = load_table(spark, sf_dir, "orders")
    scalable = global_row_number(
        o, ["o_totalprice", "o_orderkey"], out_col="rn", num_partitions=7
    ).select("o_orderkey", "rn")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    reference = o.select(
        "o_orderkey", F.row_number().over(w).alias("rn")
    )
    assert scalable.subtract(reference).count() == 0
    assert reference.subtract(scalable).count() == 0
    # and it really is distributed: no single-partition exchange
    from tidb_gateway_spark.plans import inspect
    text = inspect.explain_formatted(scalable)
    assert "SinglePartition" not in text, text


def test_global_row_number_is_permutation_sf001(spark):
    """Regression: repartitionByRange-based ranking re-sampled boundaries
    per execution, so the counts job and final job could disagree →
    duplicate/gapped ranks (caught at sf0.01 by the driver sim).  The
    literal-boundary bucketing must yield an exact 1..N permutation."""
    from tidb_gateway_spark.operators.rank import global_row_number

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    r = global_row_number(
        o.select("o_orderkey", "o_totalprice"),
        ["o_totalprice", "o_orderkey"],
        out_col="rn",
        num_partitions=8,
    )
    agg = r.agg(
        F.count("*").alias("n"),
        F.countDistinct("rn").alias("d"),
        F.min("rn").alias("mn"),
        F.max("rn").alias("mx"),
    ).collect()[0]
    assert agg["n"] == agg["d"] == agg["mx"], agg
    assert agg["mn"] == 1, agg


def test_global_dense_rank_matches_window(spark, sf_dir):
    from pyspark.sql import Window
    from tidb_gateway_spark.operators.rank import global_dense_rank

    o = load_table(spark, sf_dir, "orders")
    scalable = global_dense_rank(
        o, ["o_orderpriority"], out_col="dr", num_partitions=3
    ).select("o_orderkey", "dr")
    w = Window.orderBy("o_orderpriority")
    reference = o.select("o_orderkey", F.dense_rank().over(w).alias("dr"))
    assert scalable.subtract(reference).count() == 0
    assert reference.subtract(scalable).count() == 0


def test_global_dense_rank_desc_order(spark, sf_dir):
    from pyspark.sql import Window
    from tidb_gateway_spark.operators.rank import global_dense_rank

    o = load_table(spark, sf_dir, "orders")
    scalable = global_dense_rank(
        o, ["o_orderpriority"], order_cols=[("o_orderpriority", "desc")],
        out_col="dr", num_partitions=3,
    ).select("o_orderkey", "dr")
    w = Window.orderBy(F.desc("o_orderpriority"))
    reference = o.select("o_orderkey", F.dense_rank().over(w).alias("dr"))
    assert scalable.subtract(reference).count() == 0
    assert reference.subtract(scalable).count() == 0


def test_global_dense_rank_null_keys(spark, sf_dir):
    """Regression (ADVICE r2): rows whose ranking key is NULL were
    silently dropped by the plain equi-join-back; DENSE_RANK must rank
    NULL keys (nulls-first asc) via the null-safe join."""
    from pyspark.sql import Window
    from tidb_gateway_spark.operators.rank import global_dense_rank

    o = load_table(spark, sf_dir, "orders").withColumn(
        "pr", F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(
            F.col("o_orderpriority"))
    )
    scalable = global_dense_rank(
        o, ["pr"], out_col="dr", num_partitions=3
    ).select("o_orderkey", "dr")
    assert scalable.count() == o.count()  # no rows dropped
    w = Window.orderBy("pr")
    reference = o.select("o_orderkey", F.dense_rank().over(w).alias("dr"))
    assert scalable.subtract(reference).count() == 0
    assert reference.subtract(scalable).count() == 0


def test_global_ntile_matches_window(spark, sf_dir):
    from pyspark.sql import Window
    from tidb_gateway_spark.operators.rank import global_ntile

    o = load_table(spark, sf_dir, "orders")
    for n in (4, 7):  # 7 does not divide the row count → uneven tiles
        scalable = global_ntile(
            o, n, ["o_totalprice", "o_orderkey"], out_col="q",
            num_partitions=5,
        ).select("o_orderkey", "q")
        w = Window.orderBy("o_totalprice", "o_orderkey")
        reference = o.select("o_orderkey", F.ntile(n).over(w).alias("q"))
        assert scalable.subtract(reference).count() == 0, f"ntile({n})"
        assert reference.subtract(scalable).count() == 0, f"ntile({n})"


def test_global_ntile_fewer_rows_than_tiles(spark, sf_dir):
    from pyspark.sql import Window
    from tidb_gateway_spark.operators.rank import global_ntile

    r = load_table(spark, sf_dir, "region")  # 5 rows
    scalable = global_ntile(
        r, 8, ["r_regionkey"], out_col="q", num_partitions=3
    ).select("r_regionkey", "q")
    w = Window.orderBy("r_regionkey")
    reference = r.select("r_regionkey", F.ntile(8).over(w).alias("q"))
    assert scalable.subtract(reference).count() == 0
    assert reference.subtract(scalable).count() == 0


# ---- remaining §2B engine-surface rows (map functions, RANGE frames) ----

def test_map_functions_with_literals(spark):
    df = spark.sql(
        "SELECT map('a', 1, 'b', 2) AS m"
    ).select(
        F.map_keys("m").alias("ks"),
        F.map_values("m").alias("vs"),
        F.element_at("m", "b").alias("vb"),
    )
    row = df.collect()[0]
    assert sorted(row["ks"]) == ["a", "b"]
    assert sorted(row["vs"]) == [1, 2]
    assert row["vb"] == 2


def test_range_frame_window(spark, sf_dir):
    """RANGE BETWEEN on numeric ordering: sum of values of all events
    within the preceding 300s (inclusive) per user."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").limit(2000)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-300_000_000, Window.currentRow)
    )
    got = e.select("event_id", "user_id", "ts_us", "value",
                   F.sum("value").over(w).alias("s")).collect()
    by_user: dict = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        for r in rows:
            expect = sum(x["value"] for x in rows
                         if r["ts_us"] - 300_000_000 <= x["ts_us"] <= r["ts_us"])
            assert abs(expect - r["s"]) < 1e-9


# ---- generic as-of join ----

def test_asof_join_matches_correlated_semantics(spark, sf_dir):
    """operators/asof.py against a brute-force per-row oracle: for each
    purchase event, the value of the latest strictly-earlier event of
    the same user (any type)."""
    from tidb_gateway_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    right = e.select("user_id", "ts_us", F.col("value").alias("prev_value"),
                     F.col("event_id").alias("prev_id"))
    got = asof_join(left, right, "user_id", "ts_us",
                    ["prev_value", "prev_id"]).collect()

    rows = e.select("event_id", "user_id", "ts_us", "value").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for v in by_user.values():
        v.sort(key=lambda r: r["ts_us"])
    expect = {}
    for r in rows:
        prev = [x for x in by_user[r["user_id"]] if x["ts_us"] < r["ts_us"]]
        expect[r["event_id"]] = prev[-1]["event_id"] if prev else None
    assert got, "no purchase events?"
    for r in got:
        assert r["prev_id_asof"] == expect[r["event_id"]], r


# ---- sequence packing / mixture resampling / repetition filter ----

def test_pack_sequences_next_fit_semantics(spark):
    """pack_id = exclusive-prefix-sum DIV budget: a doc straddling the
    boundary lands in the pack its prefix starts in (next-fit with
    overflow), and a doc starting exactly at a multiple opens a pack."""
    from tidb_gateway_spark.operators.packing import pack_sequences

    rows = [("a", 1, 60), ("a", 2, 60), ("a", 3, 60),   # prefixes 0,60,120
            ("a", 4, 100),                              # prefix 180
            ("b", 1, 100), ("b", 2, 100)]               # prefixes 0,100
    df = spark.createDataFrame(rows, "shard string, k int, tok int")
    got = {(r["shard"], r["k"]): r["pack_id"]
           for r in pack_sequences(df, "k", "tok", 100, ("shard",)).collect()}
    assert got == {("a", 1): 0, ("a", 2): 0,  # prefix 60 < 100 -> overflow pack 0
                   ("a", 3): 1, ("a", 4): 1,
                   ("b", 1): 0, ("b", 2): 1}  # prefix exactly 100 -> pack 1


def test_pack_sequences_stable_under_repartition(spark, sf_dir):
    from tidb_gateway_spark.operators.packing import pack_sequences
    from tidb_gateway_spark.operators.text import word_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", word_count().alias("tok"))
    a = pack_sequences(d, "doc_id", "tok", 2048).collect()
    b = pack_sequences(d.repartition(7), "doc_id", "tok", 2048).collect()
    assert sorted((r["doc_id"], r["pack_id"]) for r in a) == \
           sorted((r["doc_id"], r["pack_id"]) for r in b)


def test_mixture_resample_rates_and_default(spark, sf_dir):
    """Kept fraction per stratum tracks its target rate; strata absent
    from the map are kept in full; the keep set is a subset (pure row
    filter, no resampling jitter)."""
    from tidb_gateway_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    rates = {"en": 2_500, "fr": 7_500}
    kept = sampling.mixture_resample(d, "doc_id", "lang", rates)
    tot = {r["lang"]: r["n"] for r in
           d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in
           kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in tot.items():
        frac = got.get(lang, 0) / n
        target = rates.get(lang, 10_000) / 10_000
        assert abs(frac - target) < 0.08, (lang, frac, target)
    # determinism: same call keeps the same rows
    ids1 = {r["doc_id"] for r in kept.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in
            sampling.mixture_resample(d, "doc_id", "lang", rates)
            .select("doc_id").collect()}
    assert ids1 == ids2


def test_word_repetition_bucket_known_values(spark):
    from tidb_gateway_spark.operators.text import word_repetition_bucket

    rows = [("a b c d",),          # 4 words, 4 distinct -> bucket 0
            ("a a a a",),          # 4 words, 1 distinct -> 7 (3*10 DIV 4)
            ("a a b b",),          # 4/2 -> 5
            ("x  y",),             # double space: empty tokens filtered
            ("",)]                 # no words -> NULL
    df = spark.createDataFrame(rows, "text string")
    got = [r[0] for r in
           df.select(word_repetition_bucket(F.col("text"))).collect()]
    assert got == [0, 7, 5, 0, None]


# ---- corpus-level text statistics ----

def test_tfidf_top_terms_known_values(spark):
    """3-doc corpus with hand-computed tf*ln(N/df) scores."""
    import math
    from tidb_gateway_spark.operators.corpus import tfidf_top_terms

    rows = [(0, "apple apple banana"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry date")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["term"]): r["tfidf"]
           for r in tfidf_top_terms(df, F.lit(True), k=2).collect()}

    def score(tf, dfc):
        return math.floor(tf * math.log(3 / dfc) * 10000 + 0.5) / 10000

    # doc 0: apple tf=2 df=1 -> 2*ln3; banana tf=1 df=2 -> ln1.5
    # doc 2: cherry tf=3 df=2 -> 3*ln1.5; date tf=1 df=1 -> ln3
    assert got[(0, "apple")] == score(2, 1)
    assert got[(0, "banana")] == score(1, 2)
    assert got[(2, "cherry")] == score(3, 2)
    assert got[(2, "date")] == score(1, 1)
    assert len(got) == 6


def test_pmi_bigrams_known_values(spark):
    """'a b' occurs always adjacent -> strongly positive PMI; check the
    exact ln((cxy/B)/((cx/U)(cy/U))) value at min_count=2."""
    import math
    from tidb_gateway_spark.operators.corpus import pmi_bigrams

    rows = [("a b x",), ("a b y",), ("x y",)]
    df = spark.createDataFrame(rows, "text string")
    got = {r["bigram"]: (r["n"], r["pmi"])
           for r in pmi_bigrams(df, min_count=2, k=10).collect()}
    # U=8 tokens, B=5 bigrams; a b: cxy=2, cx(a)=2, cy(b)=2
    expect = math.floor(
        math.log((2 / 5) / ((2 / 8) * (2 / 8))) * 10000 + 0.5) / 10000
    assert got == {"a b": (2, expect)}


def test_load_table_shredded_companion(spark, sf_dir):
    """Library users get the parse-once typed-JSON companion by name:
    load_table(..., 'events_shredded') — same values as a per-query
    get_json_object parse, but served from materialized typed columns
    (the DataFrame analog of the gateway's dialect routing)."""
    from tidb_gateway_spark.catalog import load_table as lt

    sh = lt(spark, sf_dir, "events_shredded")
    assert "props_k" in sh.columns, sh.columns
    raw = (
        lt(spark, sf_dir, "events")
        .select("event_id", F.get_json_object("props", "$.k").alias("k"))
    )
    a = {(r["event_id"], r["props_k"]) for r in
         sh.select("event_id", "props_k").collect()}
    b = {(r["event_id"], str(r["k"]) if r["k"] is not None else None)
         for r in raw.collect()}
    assert {(i, str(v) if v is not None else None) for i, v in a} == b


@settings(max_examples=5, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(edges=st.lists(
    st.tuples(st.integers(min_value=0, max_value=15),
              st.integers(min_value=0, max_value=15)),
    min_size=1, max_size=20))
def test_connected_components_matches_ddb_twin(spark, edges):
    """Both connected_components paths (driver union-find, and the
    distributed min-label propagation forced by driver_max_pairs=0)
    equal dedup.ddb_components on the same random edge lists —
    self-loops, repeated and reversed edges included."""
    import duckdb

    values = ", ".join(f"({a}, {b})" for a, b in edges)
    with duckdb.connect() as con:
        want = set(con.execute(
            f"WITH RECURSIVE pairs(a, b) AS (VALUES {values}), "
            f"{dedup.ddb_components('pairs', 'cl')} "
            "SELECT doc_id, cluster_id FROM cl").fetchall())
    pairs = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    for max_pairs in (1_000_000, 0):
        got = {(r["doc_id"], r["cluster_id"])
               for r in dedup.connected_components(
                   pairs, driver_max_pairs=max_pairs).collect()}
        assert got == want, f"driver_max_pairs={max_pairs}"


def test_connected_components_chain_and_islands(spark):
    """Both CC paths — driver union-find (small graphs) and iterative
    min-label propagation + pointer jumping (driver_max_pairs=0 forces
    the distributed path) — produce identical min-id cluster labels on
    a 4-chain, an island pair, and a triangle; nodes absent from the
    pair graph never appear."""
    from tidb_gateway_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(3, 4), (4, 5), (5, 6),      # chain 3-4-5-6
         (10, 11),                    # island pair
         (20, 21), (21, 22), (20, 22)],  # triangle
        "a BIGINT, b BIGINT")
    want = {(3, 3), (4, 3), (5, 3), (6, 3),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20)}
    for max_pairs in (1_000_000, 0):
        got = {(r["doc_id"], r["cluster_id"])
               for r in connected_components(
                   pairs, driver_max_pairs=max_pairs).collect()}
        assert got == want, f"driver_max_pairs={max_pairs}"


def test_kmv_sketch_merge_equals_whole(spark, sf_dir):
    """KMV mergeability (the property that makes it a distributed
    sketch): union the two halves' k-min candidate sets, keep the k
    smallest — identical (k_used, kth, est) to sketching the whole
    corpus in one pass.  This is what Spark's TakeOrdered does
    per-partition, asserted here at the operator level."""
    from pyspark.sql import functions as F

    from tidb_gateway_spark.catalog import load_table
    from tidb_gateway_spark.operators.sketch import kmv_sketch

    k = 64
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w")) \
        .filter(F.col("w") != "")
    whole = kmv_sketch(words.select("w"), "w", k).collect()[0]

    halves = [words.filter(F.col("doc_id") % 2 == i).select("w")
              for i in (0, 1)]
    kmins = [
        h.select(F.md5(F.col("w")).alias("h")).distinct().orderBy("h").limit(k)
        for h in halves
    ]
    merged = kmins[0].union(kmins[1]).distinct().orderBy("h").limit(k)
    m = merged.agg(F.count("*").alias("k_used"), F.max("h").alias("kth")) \
        .collect()[0]
    assert (m["k_used"], m["kth"]) == (whole["k_used"], whole["kth"])


def test_udtf_matches_builtin_explode(spark, sf_dir):
    """Python UDTF (Spark 4 @udtf) over documents must produce the same
    token multiset as the builtin posexplode surface."""
    from tidb_gateway_spark.functions.udf_surface import (
        explode_tokens, make_word_stats_udtf)

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    WordStats = make_word_stats_udtf()
    spark.udtf.register("word_stats", WordStats)
    d.select("text").createOrReplaceTempView("__udtf_docs")
    got = spark.sql(
        "SELECT t.word, t.length, t.is_long FROM __udtf_docs, "
        "LATERAL word_stats(text) AS t"
    )
    want = explode_tokens(d).select(
        F.col("token").alias("word"),
        F.length("token").alias("length"),
        (F.length("token") > 6).alias("is_long"),
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b and len(a) > 0


def test_with_recursive_matches_sequence(spark, sf_dir):
    """Spark 4 WITH RECURSIVE capability: the recursive-CTE month
    series (q117's oracle text) must equal the declared sequence()
    form.  The declared query benches the one-job plan; this test
    keeps the recursion feature itself exercised."""
    from tidb_gateway_spark.catalog import register_views
    from tidb_gateway_spark.queries import REGISTRY
    from tidb_gateway_spark.queries.subqueries import _Q117_SQL

    register_views(spark, sf_dir)
    rec = sorted(map(tuple, spark.sql(_Q117_SQL).collect()))
    seq = sorted(map(tuple, REGISTRY[
        "q117_recursive_cte_month_series"].spark(spark, sf_dir).collect()))
    assert rec == seq and len(rec) > 0


def test_salted_join_set_equals_plain_join(spark):
    """operators/skew.py:salted_join must be SET-identical to the plain
    join for any salt width, including hot-key distributions (one key
    holding most rows — the case salting exists for)."""
    from tidb_gateway_spark.operators.skew import salted_join

    rows = [(i, i % 3 if i % 10 else 0, float(i)) for i in range(500)]
    probe = spark.createDataFrame(rows, "rid long, k long, v double")
    build = spark.createDataFrame(
        [(0, "hot"), (1, "a"), (2, "b"), (9, "unmatched")],
        "k long, name string")
    for n_salt in (1, 4, 16):
        got = sorted(map(tuple, salted_join(
            probe, build, "k", n_salt=n_salt,
            salt_on=F.col("rid")).collect()))
        want = sorted(map(tuple, probe.join(build, "k").collect()))
        assert got == want, n_salt


def test_temperature_rates_math():
    """q151's rate derivation: T=1 gives equal rates (natural mixture);
    higher T upweights rare strata; the dominant stratum always keeps
    rate 10000; rates stay in [1, 10000]."""
    from tidb_gateway_spark.operators.sampling import temperature_rates_bps

    counts = {"en": 10_000, "fr": 1_000, "es": 100}
    t1 = temperature_rates_bps(counts, T=1.0)
    assert set(t1.values()) == {10_000}, t1
    t2 = temperature_rates_bps(counts, T=2.0)
    # rate ∝ n^(1/2)/n = n^(-1/2): rarest stratum keeps the most
    assert t2["es"] == 10_000 and t2["en"] < t2["fr"] < t2["es"], t2
    # es/en rate ratio should be sqrt(10000/100) = 10
    assert abs(t2["es"] / t2["en"] - 10.0) < 0.05, t2
    assert all(1 <= r <= 10_000 for r in t2.values())
    assert temperature_rates_bps({}, T=2.0) == {}


def test_hof_free_tokens_match_filtered_split_on_spark(spark):
    """text.words rests on split(trim(t), ' +') ==
    filter(split(t, ' '), x -> x != '') — assert the identity on
    SPARK's own expressions over adversarial whitespace layouts (runs
    of spaces, edge spaces, tabs/newlines/unicode spaces that trim
    must NOT strip, empty and all-space strings)."""
    from pyspark.sql import functions as F

    from tidb_gateway_spark.operators.text import words

    corpus = [
        "", " ", "   ", "a", " a", "a ", "  a  b  ", "a b", "a  b",
        "a\tb", "\ta b\t", "a\nb c", " a b", "a   b",
        "word " * 5, "  leading", "trailing  ", " x  y   z ",
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "t STRING")
    new = words(F.col("t"))
    old = F.filter(F.split(F.col("t"), " "), lambda x: x != F.lit(""))
    rows = df.select(new.alias("n"), old.alias("o")).collect()
    for s, r in zip(corpus, rows):
        assert r.n == r.o, (repr(s), r.n, r.o)


def test_jaccard_pairs_arrays_matches_explode_join_form(spark, sf_dir):
    """dedup.jaccard_pairs_arrays (row-local array_intersect) must
    produce the same (a, b, jac) set as the explode-join jaccard_pairs
    it replaced in q74/q101."""
    from pyspark.sql import functions as F

    from tidb_gateway_spark.catalog import load_table
    from tidb_gateway_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents")
    shingles = dedup.doc_shingles(d)
    cand = dedup.minhash_lsh_candidates(d)
    old = {
        (r.a, r.b): round(r.jac, 9)
        for r in dedup.jaccard_pairs(cand, shingles).collect()
    }
    new = {
        (r.a, r.b): round(r.jac, 9)
        for r in dedup.jaccard_pairs_arrays(
            cand, dedup.doc_shingle_arrays(d)).collect()
    }
    assert new == old


def test_cms_estimate_never_underestimates(spark, sf_dir):
    """Count-min guarantee: est >= exact for every probe (the one-sided
    error CMS promises by construction)."""
    from tidb_gateway_spark.queries import REGISTRY

    rows = REGISTRY["q179_cms_heavy_hitters"].spark(spark, sf_dir).collect()
    assert rows, "no heavy hitters returned"
    for r in rows:
        assert r.est_n >= r.exact_n, r


def test_q209_distributed_path_matches_driver(spark, sf_dir):
    """The PageRank hybrid's two branches must agree: force the
    distributed unrolled loop (threshold 0) and compare its quantized
    ranks to the driver-side numpy path the fixture normally takes —
    the same certified-equal contract as q101's union-find hybrid."""
    from pyspark.sql import functions as F

    from tidb_gateway_spark.catalog import load_table
    from tidb_gateway_spark.operators import dedup
    from tidb_gateway_spark.queries import llm_extended as lx

    d = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(d)
    edges = cand.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(
        cand.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).cache()

    deg = edges.groupBy("src").agg(F.count("*").cast("double").alias("dg"))
    ncnt = deg.agg(F.count("*").cast("double").alias("nn"))
    dist = lx._q209_rank_distributed(edges, deg, ncnt)
    drv = lx._q209_rank_driver(
        spark, [(r["src"], r["dst"]) for r in edges.collect()])

    def quantized(df, node_col):
        return sorted(
            (r[node_col], round(r["pr"] * 1e9))
            for r in df.collect()
        )

    assert quantized(dist, "node") == quantized(drv, "doc_id")
    edges.unpersist()


def test_tracked_persist_lru_bounds_session_cache(spark):
    """operators/cache.tracked_persist: same-plan re-persist does not
    grow the registry; overflow evicts the LRU plan (unpersisted)."""
    from tidb_gateway_spark.operators import cache as opcache

    saved_max, saved = opcache._MAX_TRACKED, opcache._tracked
    opcache._MAX_TRACKED, opcache._tracked = 3, type(saved)()
    try:
        dfs = []
        for i in range(5):
            df = spark.range(10 + i).withColumnRenamed("id", f"c{i}")
            dfs.append(opcache.tracked_persist(df))
            dfs[-1].count()
        # bounded at 3; the two oldest were unpersisted
        assert len(opcache._tracked) == 3
        assert dfs[0].storageLevel.useMemory is False
        assert dfs[1].storageLevel.useMemory is False
        assert dfs[4].storageLevel.useMemory is True
        # re-persisting an already-tracked plan refreshes, not grows
        opcache.tracked_persist(spark.range(14).withColumnRenamed("id", "c4"))
        assert len(opcache._tracked) == 3
        # untrack drops the entry and unpersists
        opcache.untrack(dfs[4])
        assert len(opcache._tracked) == 2
        assert dfs[4].storageLevel.useMemory is False
    finally:
        for df in list(opcache._tracked.values()):
            df.unpersist(False)
        opcache._MAX_TRACKED, opcache._tracked = saved_max, saved


# ------------------------------------------------------------------
# grouped_weighted_percentiles properties (VERDICT r13 directive 6:
# the crossing predicate must survive reworks — pin it against the
# naive cumulative-window definition under hypothesis-generated
# weights/groups).


def _naive_weighted_pcts(rows, pcts):
    """Exact reference: per group, min v with 100*cumw >= p*W over the
    (value-ascending) cumulative integer weight sums."""
    byg = {}
    for g, v, w in rows:
        byg.setdefault(g, {})
        byg[g][v] = byg[g].get(v, 0) + w
    out = {}
    for g, agg in byg.items():
        tot = sum(agg.values())
        if tot <= 0:
            continue
        vals = sorted(agg)
        res = [tot]
        for p in pcts:
            cum = 0
            hit = None
            for v in vals:
                cum += agg[v]
                if 100 * cum >= p * tot:
                    hit = v
                    break
            res.append(hit)
        out[g] = tuple(res)
    return out


def _gwp_check(spark, rows, pcts):
    from tidb_gateway_spark.operators import rank

    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        r["g"]: (r["w_total"], *[r[f"p{p}"] for p in pcts])
        for r in rank.grouped_weighted_percentiles(
            df, "g", "v", "w", pcts).collect()
    }
    assert got == _naive_weighted_pcts(rows, pcts)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c", None]),
                  st.integers(min_value=-50, max_value=50),
                  st.integers(min_value=0, max_value=5)),
        min_size=1, max_size=40),
    pcts=st.lists(st.integers(min_value=1, max_value=100),
                  min_size=1, max_size=3, unique=True),
)
def test_gwp_hypothesis_matches_naive(spark, rows, pcts):
    """The operator vs the naive definition: ties, zero weights,
    single-row groups, all-in-one-bucket corners, NULL group values
    (GROUP BY keeps them — every dispatch path must agree; r14
    ADVICE) — whatever hypothesis finds.  (Zero-total groups are
    absent from both sides.)"""
    _gwp_check(spark, rows, pcts)


def test_gwp_empty_when_no_positive_weight(spark):
    """With every weight 0 no group has a percentile crossing: the
    result is empty and keeps the schema of a non-empty one."""
    from tidb_gateway_spark.operators.rank import (
        grouped_weighted_percentiles,
    )

    schema = "g string, v long, w long"
    empty = grouped_weighted_percentiles(
        spark.createDataFrame([("a", 1, 0), (None, 2, 0)], schema),
        "g", "v", "w", [50, 90])
    full = grouped_weighted_percentiles(
        spark.createDataFrame([("a", 1, 1)], schema),
        "g", "v", "w", [50, 90])
    assert empty.collect() == []
    assert empty.schema.simpleString() == full.schema.simpleString()


def test_grouped_weighted_percentiles_matches_naive(spark):
    """The range-bucketed weighted-percentile operator must equal the
    naive cumulative-window definition (min v with 100*cumw >= p*W)
    on data with ties, skew, and group-in-one-bucket corners."""
    import random

    from tidb_gateway_spark.operators.rank import (
        grouped_weighted_percentiles,
    )

    rnd = random.Random(42)
    rows = []
    for grp in ("a", "b", "c"):
        for _ in range(500):
            v = rnd.randint(0, 50) if grp == "b" else rnd.randint(0, 10**6)
            rows.append((grp, v, rnd.randint(1, 9)))
    rows.append(("d", 7, 3))  # single-value group
    df = spark.createDataFrame(rows, "g string, v long, w long")
    pcts = [1, 50, 90, 99, 100]
    got = {
        r["g"]: (r["w_total"], *[r[f"p{p}"] for p in pcts])
        for r in grouped_weighted_percentiles(df, "g", "v", "w", pcts)
        .collect()
    }
    # naive reference
    byg: dict[str, list] = {}
    for grp, v, w in rows:
        byg.setdefault(grp, []).append((v, w))
    for grp, vw in byg.items():
        agg: dict[int, int] = {}
        for v, w in vw:
            agg[v] = agg.get(v, 0) + w
        tot = sum(agg.values())
        exp = [tot]
        for p in pcts:
            cum = 0
            for v in sorted(agg):
                cum += agg[v]
                if 100 * cum >= p * tot:
                    exp.append(v)
                    break
        assert got[grp] == tuple(exp), (grp, got[grp], tuple(exp))


def test_gwp_rejects_fractional_weights(spark):
    from tidb_gateway_spark.operators.rank import (
        grouped_weighted_percentiles,
    )

    df = spark.createDataFrame([("a", 1, 0.5)], "g string, v long, w double")
    with pytest.raises(ValueError, match="non-integral"):
        grouped_weighted_percentiles(df, "g", "v", "w", [50])


def test_gwp_plan_all_jvm_one_scan(spark, sf_dir):
    """The r14 rework's machine-assertable properties: the executed
    q240 plan carries NO Python-backed relation (the r13 form's
    createDataFrame broadcast side round-tripped a Python worker per
    execution) and holds exactly ONE parquet scan NODE — the
    literal-range crossing form filters the probe scan with pushable
    range predicates instead of re-scanning for the stats pass (the
    r13 form's broadcast lineage re-ran the stats scan: three scan
    nodes per execution; the stats pass itself runs once, eagerly, at
    construction).  Scan nodes are counted via their '(N) Scan
    parquet' detail headers — each physical node appears twice in
    formatted explain (tree line + detail header), so a raw substring
    count would read 2 for one node (r14 ADVICE)."""
    import re

    from tidb_gateway_spark.plans import inspect
    from tidb_gateway_spark.queries import REGISTRY

    df = REGISTRY["q240_weighted_median"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "ExistingRDD" not in text, text
    assert "BatchEvalPython" not in text, text
    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", text, re.M)
    assert len(scan_nodes) == 1, text


# ------------------------------------------------------------------
# local_rows_df: the shared driver-rows-as-JVM-plan operator on the
# output path of the hybrid operators (union-find labels, rate tables,
# expectation tables).

_CASES = [
    # (rows, schema) — literal path (<= cap), pandas/Arrow path (> cap),
    # None values on both paths, the cap boundary itself, empty rows,
    # and mixed types matching the real callers (union-find labels,
    # rate tables, expectation tables).
    ("two_rows_literal",
     [(1, 10), (2, 20)], "doc_id bigint, cluster_id bigint"),
    ("none_values_literal",
     [(1, None), (None, 2.5)], "digit int, exp_pct double"),
    ("cap_boundary_literal",
     [(i, i * 2) for i in range(_LITERAL_ROW_CAP)],
     "doc_id bigint, cluster_id bigint"),
    ("cap_plus_one_pandas",
     [(i, i * 2) for i in range(_LITERAL_ROW_CAP + 1)],
     "doc_id bigint, cluster_id bigint"),
    ("none_values_pandas",
     [(i, None if i % 3 == 0 else float(i))
      for i in range(_LITERAL_ROW_CAP + 5)],
     "k int, v double"),
    ("strings_and_bools",
     [("a", True), ("b", None), (None, False)],
     "name string, flag boolean"),
    ("empty", [], "doc_id bigint, cluster_id bigint"),
]


@pytest.mark.parametrize(
    "rows,schema", [c[1:] for c in _CASES], ids=[c[0] for c in _CASES])
def test_local_rows_df_matches_create_dataframe(spark, rows, schema):
    """The oracle-hash contract: local_rows_df must match
    spark.createDataFrame bit for bit — same schema (names, types,
    nullability-insensitive compare via simpleString), same rows —
    on the literal path, the pandas/Arrow path, the cap boundary,
    None values, and empty input."""
    got = local_rows_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema.simpleString() == ref.schema.simpleString()
    key = got.columns
    assert (
        sorted(got.collect(), key=lambda r: tuple(
            (v is None, v) for v in [r[c] for c in key]))
        == sorted(ref.collect(), key=lambda r: tuple(
            (v is None, v) for v in [r[c] for c in key]))
    )


def test_local_rows_df_literal_path_has_no_python_relation(spark):
    """<= cap rows must plan as a pure-JVM literal subtree: no
    ExistingRDD (applySchemaToPythonRDD) in the executed plan — the
    r14 optimization this operator exists for."""
    from tidb_gateway_spark.plans import inspect

    df = local_rows_df(
        spark, [(1, 2), (3, 4)], "a bigint, b bigint")
    assert "ExistingRDD" not in inspect.explain_formatted(df)


def test_local_rows_df_pandas_route_raises(spark, monkeypatch):
    """An error on the pandas/Arrow route above the literal cap is
    raised, never answered with the RDD-backed createDataFrame(rows)
    relation the operator exists to avoid."""
    import pandas as pd

    def broken(*args, **kwargs):
        raise RuntimeError("pandas route failed")

    monkeypatch.setattr(pd.DataFrame, "from_records", staticmethod(broken))
    rows = [(i, i) for i in range(_LITERAL_ROW_CAP + 1)]
    with pytest.raises(RuntimeError, match="pandas route failed"):
        local_rows_df(spark, rows, "a bigint, b bigint")
