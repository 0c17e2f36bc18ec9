"""Text-analysis operators: the whitespace tokenizer, language-ID
heuristic, quality scoring, token counting, document fingerprinting.

All are single-pass columnar expressions (whole-stage codegen; no Python
UDFs, no shuffle until the final aggregate) — at 100 TB these run at
scan speed.

Determinism contract: every expression uses only IEEE arithmetic and
exact string ops that external oracles evaluate identically, and each
shape that an oracle recomputes has its DuckDB twin here.

The tokenizer vocabulary.  A *word* is a maximal run of characters
other than U+0020; tabs, NBSP and every other Unicode space are word
characters.  Blank or all-space text has no words.  Four shapes, each
a Spark form with its DuckDB twin:

* the word array — :func:`words` / :func:`ddb_words`: ``[]`` for
  blank text, never ``['']``;
* the exploded ``(keys…, w)`` rows — :func:`word_rows` /
  :func:`ddb_word_rows`: no row for blank text;
* the word count — :func:`word_count` / :func:`ddb_word_count`: 0 for
  blank text;
* the stride-1 ``GRAM_K``-word gram digests of the substring-dedup
  family — :func:`gram_digests` / :data:`DDB_GRAMS`: none for texts
  shorter than ``GRAM_K`` words.

No twin trims in DuckDB: DuckDB's ``trim`` also strips NBSP and the
other Unicode space separators, Spark's strips U+0020 only.
:data:`DDB_QSCORE` is the DuckDB twin of :func:`quality_score`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish token pattern: letter runs, digit runs, single other-symbols.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# Gram width of the exact-substring dedup family (q261/q264/q268): the
# minimum duplicated-substring length, in words.
GRAM_K = 8

_EMPTY = "CAST(array() AS array<string>)"


def char_count(text: Column, ch: str) -> Column:
    """Occurrences of a single literal char (exact, no regex).

    length(replace(...)) materializes one string copy per counted char,
    but it is still the fastest JVM-side form: measured at sf1 (50k docs
    × ~2 kB) the q77 shape runs 1.16 s with replace vs 1.53 s with
    ``regexp_count`` (regex engine per-match overhead loses to the
    memcpy).  The scale lever for these scans is input parallelism
    (operators/partitioning.py:ensure_min_partitions), not the
    counting expression.
    """
    return F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))


def lang_id(text: Column) -> Column:
    """Deterministic character-frequency language guess.

    A real pipeline uses char-n-gram profiles (or fastText) per language;
    the fixture corpus is synthetic English word-soup for every `lang`
    value, so this placeholder keeps the *shape* (per-row classifier →
    confusion matrix vs the labeled column) with a portable heuristic.
    Empty text has NULL ratios (as in DuckDB) and guesses ``other``.
    """
    L = F.nullif(F.length(text), F.lit(0)).cast("double")
    e_ratio = char_count(text, "e").cast("double") / L
    a_ratio = char_count(text, "a").cast("double") / L
    sp_ratio = char_count(text, " ").cast("double") / L
    return (
        F.when(e_ratio >= 0.10, F.lit("en"))
        .when(a_ratio >= 0.10, F.lit("es"))
        .when(sp_ratio >= 0.18, F.lit("fr"))
        .otherwise(F.lit("other"))
    )


def quality_score(text: Column, n_chars: Column) -> Column:
    """Composite [0,1] quality score: length, density, word-length
    terms; NULL for empty text, as its DuckDB twin ``DDB_QSCORE``."""
    L = F.nullif(F.length(text), F.lit(0)).cast("double")
    sp = char_count(text, " ").cast("double")
    avg_word = (L - sp) / (sp + F.lit(1.0))
    return (
        F.lit(0.5) * F.least(F.lit(1.0), n_chars.cast("double") / F.lit(200.0))
        + F.lit(0.3) * (F.lit(1.0) - sp / L)
        + F.lit(0.2) * F.least(F.lit(1.0), avg_word / F.lit(8.0))
    )


# DuckDB twin of quality_score(text, n_chars) over a row with both columns
DDB_QSCORE = (
    "0.5 * LEAST(1.0, n_chars / 200.0) "
    "+ 0.3 * (1.0 - (length(text) - length(replace(text,' ',''))) * 1.0 / length(text)) "
    "+ 0.2 * LEAST(1.0, ((length(text) - (length(text) - length(replace(text,' ','')))) "
    "/ ((length(text) - length(replace(text,' ',''))) + 1.0)) / 8.0)"
)


def words(text: Column | None = None) -> Column:
    """The word array of ``text`` (default column ``text``); ``[]``
    for blank text.

    ``split(trim(text), ' +')`` yields exactly what
    ``filter(split(text, ' '), x -> x != '')`` does — runs of spaces
    collapse, edge spaces trim away — but stays inside whole-stage
    codegen, while higher-order ``filter`` is CodegenFallback
    (interpreted row-at-a-time, lambda eval per element).  Measured at
    sf1 the swap halves the token-battery scans (q98 1.73→0.8 s class).
    The split alone gives ``['']`` for blank text, hence the guard.
    """
    t = F.trim(F.col("text") if text is None else text)
    return F.when(t != "", F.split(t, " +")).otherwise(F.expr(_EMPTY))


def word_rows(frame: DataFrame, *keys, text: str = "text") -> DataFrame:
    """``(keys…, w)``: one row per word occurrence of ``frame[text]``,
    in word order within a row."""
    return frame.select(*keys, F.explode(words(F.col(text))).alias("w"))


def word_count(text: Column | None = None) -> Column:
    """Number of words of ``text`` (int; 0 for blank text)."""
    return F.size(words(text))


def gram_digests() -> Column:
    """Stride-1 ``GRAM_K``-word gram digests over the word-array column
    ``wlist``: ``substr(md5(gram), 1, 16)`` per start offset, in offset
    order (a posexplode index IS the gram's 0-based start), ``[]`` when
    the text has fewer than ``GRAM_K`` words."""
    return F.expr(
        f"CASE WHEN size(wlist) >= {GRAM_K} THEN "
        f"transform(sequence(1, size(wlist) - {GRAM_K - 1}), i -> "
        f"substring(md5(concat_ws(' ', slice(wlist, i, {GRAM_K}))), "
        f"1, 16)) ELSE {_EMPTY} END"
    )


def ddb_words(text: str = "text") -> str:
    """DuckDB twin of :func:`words` over the SQL expression ``text``."""
    return f"list_filter(string_split({text},' '), x -> x <> '')"


def ddb_word_rows(*keys: str) -> str:
    """DuckDB twin of :func:`word_rows`: a SELECT of ``(keys…, w)``
    over ``documents``."""
    cols = ", ".join([*keys, f"UNNEST({ddb_words()}) AS w"])
    return f"SELECT {cols} FROM documents"


def ddb_word_count(text: str = "text") -> str:
    """DuckDB twin of :func:`word_count` (BIGINT)."""
    return f"len({ddb_words(text)})"


# DuckDB twin of gram_digests: the CTE g(doc_id, pos, gh) over a CTE
# wl(doc_id, wl) of word arrays; pos is the gram's 0-based start.
DDB_GRAMS = (
    "g AS (SELECT doc_id, CAST(u.i AS INT) AS pos, "
    "substr(md5(array_to_string("
    f"wl[CAST(u.i + 1 AS INT):CAST(u.i + {GRAM_K} AS INT)], ' ')), "
    "1, 16) AS gh "
    f"FROM wl, UNNEST(range(0, len(wl) - {GRAM_K - 1})) AS u(i) "
    f"WHERE len(wl) >= {GRAM_K})"
)


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword proxy count: tokens matching ``BPE_PATTERN``
    (letter runs | digit runs | single non-alnum-space chars).

    Computed in DECOMPOSED form rather than one regexp_count over the
    alternation: the classes are disjoint, so the match count is
    exactly runs([a-z]) + runs([0-9]) + #chars ∉ [a-z0-9 ] — the two
    run counts keep a (much cheaper) non-alternating regex each, and
    the single-char class is translate/length arithmetic (memcpy-fast,
    the q77 lesson).  Measured at sf10: 7.5 → 2.2 s for q79's
    per-source sums; identical counts (structural equivalence — the
    alternation's leftmost-first scan over disjoint classes can't
    split or merge runs).
    """
    lower = "abcdefghijklmnopqrstuvwxyz"
    digits = "0123456789"

    def n_chars(chars: str) -> Column:
        return F.length(text) - F.length(F.translate(text, chars, ""))

    symbol_chars = (
        F.length(text) - n_chars(lower) - n_chars(digits) - n_chars(" ")
    )
    return (
        F.regexp_count(text, F.lit("[a-z]+"))
        + F.regexp_count(text, F.lit("[0-9]+"))
        + symbol_chars
    )


def fingerprint(text_col: str = "text", width: int = 16, stride: int = 8) -> Column:
    """Winnowing-style document fingerprint: min md5 over strided char
    shingles.  Identical up-to-small-edits documents collide.

    Takes the column *name* (substring with a Column start index needs
    the SQL lambda form).
    """
    return F.expr(
        f"array_min(transform(sequence(1, greatest(1, length({text_col}) - {width - 1}), {stride}), "
        f"i -> md5(substring({text_col}, i, {width}))))"
    )


def word_repetition_bucket(text: Column) -> Column:
    """Gopher-style repetition signal: the duplicate-word fraction of a
    document, bucketed to a decile by INTEGER arithmetic so the bucket
    is bit-identical in any engine: ``((n - u) * 10) DIV n`` where n =
    word count, u = distinct-word count.  High buckets (>=5) mark the
    boilerplate/keyword-stuffing documents a pre-training filter drops.

    Whole expression is codegen'd array ops — no explode, no shuffle;
    the histogram over it is one partial-aggregated scan.
    """
    toks = words(text)
    n = F.size(toks)
    u = F.size(F.array_distinct(toks))
    # blank text has no words and no bucket (NULL)
    return F.when(n > 0, F.floor((n - u) * 10 / n).cast("int"))
