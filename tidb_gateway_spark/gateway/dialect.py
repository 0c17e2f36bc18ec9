"""MySQL → Spark SQL dialect shim + session-local statement handling.

The reference advertises "5.7.25-TiDB" and relays SQL opaquely; the
engine must therefore accept MySQL-dialect statements.  Spark SQL
natively covers most of the 5.7 surface (backtick quoting, IFNULL, DIV,
CASE, etc.); this shim handles the rest token-level (SURVEY.md §4.2):

* ``LIMIT x, y``              → ``LIMIT y OFFSET x``
* ``GROUP_CONCAT(e)``         → ``concat_ws(',', collect_list(e))``
* ``DATE_FORMAT(e,'%Y-%m')``  → ``date_format(e,'yyyy-MM')``
* ``DATE_ADD/SUB(e, INTERVAL n u)`` → ``(e ± INTERVAL n u)`` (WEEK →
  DAY×7, QUARTER → MONTH×3); ``ADDDATE/SUBDATE(e, n)`` → ``date_add``
* ``STR_TO_DATE(s,'%Y-%m-%d')`` → ``to_date``/``to_timestamp``
* session statements (SET / USE / BEGIN / COMMIT / ROLLBACK / SHOW /
  ``SELECT @@var``) answered locally, never reaching Spark.

Multi-statement splitting honors quotes and comments
(ClientMultiStatements, /root/reference/mysql/constants.go:57).
"""

from __future__ import annotations

import re

DATE_FORMAT_MAP = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%c": "M", "%d": "dd", "%e": "d",
    "%H": "HH", "%k": "H", "%i": "mm", "%s": "ss", "%S": "ss", "%f": "SSSSSS",
    "%M": "MMMM", "%b": "MMM", "%W": "EEEE", "%a": "EEE", "%j": "DDD",
    "%T": "HH:mm:ss", "%%": "%",
}

_LIMIT_COMMA = re.compile(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", re.IGNORECASE)
_GROUP_CONCAT = re.compile(r"\bGROUP_CONCAT\s*\(", re.IGNORECASE)
_DATE_FORMAT = re.compile(r"\bDATE_FORMAT\s*\(", re.IGNORECASE)
_MYSQL_PATTERN = re.compile("|".join(re.escape(k) for k in DATE_FORMAT_MAP))
_DATE_ADDSUB = re.compile(r"\b(DATE_ADD|DATE_SUB|ADDDATE|SUBDATE)\s*\(",
                          re.IGNORECASE)
_STR_TO_DATE = re.compile(r"\bSTR_TO_DATE\s*\(", re.IGNORECASE)
# MySQL INTERVAL units Spark lacks are folded into ones it has
_INTERVAL_ARG = re.compile(
    r"^(.*),\s*INTERVAL\s+(-?\d+)\s+(\w+)\s*$", re.IGNORECASE | re.DOTALL)
_FMT_LITERAL_TAIL = re.compile(
    r"^(.*),\s*'((?:[^'\\]|\\.)*)'\s*$", re.DOTALL)
_TIME_TOKENS = re.compile(r"%[HkisSfTprlh]")


def split_statements(sql: str) -> list[str]:
    """Split on ';' outside quotes/comments (multi-statement support)."""
    out, cur = [], []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"', "`"):
            quote = ch
            cur.append(ch)
            i += 1
            while i < n:
                cur.append(sql[i])
                if sql[i] == "\\" and quote != "`" and i + 1 < n:
                    cur.append(sql[i + 1])
                    i += 2
                    continue
                if sql[i] == quote:
                    i += 1
                    break
                i += 1
            continue
        if ch == "-" and sql[i : i + 3] in ("-- ", "--\t", "--\n"):
            while i < n and sql[i] != "\n":
                i += 1
            continue
        if ch == "#":
            while i < n and sql[i] != "\n":
                i += 1
            continue
        if ch == "/" and sql[i : i + 2] == "/*":
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        if ch == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    stmt = "".join(cur).strip()
    if stmt:
        out.append(stmt)
    return out


def _rewrite_limit_comma(sql: str) -> str:
    return _LIMIT_COMMA.sub(lambda m: f"LIMIT {m.group(2)} OFFSET {m.group(1)}", sql)


def _rewrite_call(sql: str, pattern: re.Pattern, render) -> str:
    """Rewrite FN(arg...) calls found by ``pattern``; ``render`` maps the
    raw arg string to replacement SQL.  Paren-matching, quote-aware."""
    out = []
    pos = 0
    while True:
        m = pattern.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        out.append(sql[pos : m.start()])
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            ch = sql[i]
            if ch == "'":
                i += 1
                while i < len(sql) and sql[i] != "'":
                    i += 2 if sql[i] == "\\" else 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        inner = sql[m.end() : i - 1]
        out.append(render(inner))
        pos = i


def _render_group_concat(inner: str) -> str:
    sep = "','"
    m = re.search(r"\bSEPARATOR\s+('(?:[^'\\]|\\.)*')\s*$", inner, re.IGNORECASE)
    if m:
        sep = m.group(1)
        inner = inner[: m.start()].strip()
        return f"concat_ws({sep}, collect_list({inner}))"
    return f"concat_ws(',', collect_list({inner}))"


def _render_date_format(inner: str) -> str:
    def conv(m: re.Match) -> str:
        return DATE_FORMAT_MAP[m.group(0)]

    # convert %X tokens inside the single-quoted format string
    def fix_literal(m: re.Match) -> str:
        return "'" + _MYSQL_PATTERN.sub(conv, m.group(1)) + "'"

    inner = re.sub(r"'((?:[^'\\]|\\.)*)'", fix_literal, inner)
    return f"date_format({inner})"


def _render_date_addsub(name: str):
    """MySQL ``DATE_ADD(x, INTERVAL n unit)`` → ``(x + INTERVAL n unit)``.

    Spark's ``date_add`` takes bare days, so the INTERVAL form must
    become interval arithmetic.  WEEK/QUARTER (MySQL-only units) fold
    to DAY*7 / MONTH*3.  ``ADDDATE(d, n)`` (bare-days alias) maps to
    Spark ``date_add``; unparseable args are left verbatim so Spark
    produces the error, not the shim.
    """
    sub = name.upper() in ("DATE_SUB", "SUBDATE")

    def render(inner: str) -> str:
        m = _INTERVAL_ARG.match(inner)
        if not m:
            if name.upper() in ("ADDDATE", "SUBDATE"):
                fn = "date_sub" if sub else "date_add"
                return f"{fn}({inner})"
            return f"{name}({inner})"
        expr, n, unit = m.group(1).strip(), int(m.group(2)), m.group(3).upper()
        if unit == "WEEK":
            n, unit = n * 7, "DAY"
        elif unit == "QUARTER":
            n, unit = n * 3, "MONTH"
        op = "-" if sub else "+"
        return f"({expr} {op} INTERVAL {n} {unit})"

    return render


def _render_str_to_date(inner: str) -> str:
    """``STR_TO_DATE(s, '%Y-%m-%d')`` → ``to_date(s, 'yyyy-MM-dd')``
    (``to_timestamp`` when the format has time tokens, matching
    MySQL's DATE-vs-DATETIME result typing)."""
    m = _FMT_LITERAL_TAIL.match(inner)
    if not m:
        return f"STR_TO_DATE({inner})"
    expr, fmt = m.group(1).strip(), m.group(2)
    fn = "to_timestamp" if _TIME_TOKENS.search(fmt) else "to_date"
    spark_fmt = _MYSQL_PATTERN.sub(lambda t: DATE_FORMAT_MAP[t.group(0)], fmt)
    return f"{fn}({expr}, '{spark_fmt}')"


def to_spark_sql(sql: str) -> str:
    """Apply the MySQL→Spark rewrites to one statement."""
    sql = _rewrite_limit_comma(sql)
    if _GROUP_CONCAT.search(sql):
        sql = _rewrite_call(sql, _GROUP_CONCAT, _render_group_concat)
    if _DATE_FORMAT.search(sql):
        sql = _rewrite_call(sql, _DATE_FORMAT, _render_date_format)
    if _DATE_ADDSUB.search(sql):
        for name in ("DATE_ADD", "DATE_SUB", "ADDDATE", "SUBDATE"):
            pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
            if pat.search(sql):
                sql = _rewrite_call(sql, pat, _render_date_addsub(name))
    if _STR_TO_DATE.search(sql):
        sql = _rewrite_call(sql, _STR_TO_DATE, _render_str_to_date)
    sql = _rewrite_collations(sql)
    sql = _rewrite_json_shred(sql)
    sql = _INFORMATION_SCHEMA_RE.sub(lambda m: f"__is_{m.group(1).lower()}", sql)
    return sql


# information_schema.tables / .columns → the catalog's temp views
# (catalog.py:_register_information_schema; Spark temp views cannot be
# schema-qualified, so the qualified reference is rewritten).
_INFORMATION_SCHEMA_RE = re.compile(
    r"\binformation_schema\s*\.\s*(tables|columns)\b", re.IGNORECASE)


_COLLATE_RE = re.compile(r"\bCOLLATE\s+`?([A-Za-z0-9_]+)`?", re.IGNORECASE)


# MySQL language-tailored collation word → ICU locale (all probed
# available in Spark 4.1's collation registry).  german2/spanish2 are
# MySQL's phonebook-German / traditional-Spanish variants — mapped to
# the base locale (the digraph/phonebook tailoring itself has no Spark
# name); german1 is dictionary German.
_MYSQL_LANG_LOCALE = {
    "bulgarian": "bg", "chinese": "zh", "croatian": "hr", "czech": "cs",
    "danish": "da", "english": "en", "esperanto": "eo", "estonian": "et",
    "german1": "de", "german2": "de", "hungarian": "hu",
    "icelandic": "is", "japanese": "ja", "korean": "ko", "latvian": "lv",
    "lithuanian": "lt", "persian": "fa", "polish": "pl", "romanian": "ro",
    "sinhala": "si", "slovak": "sk", "slovenian": "sl", "spanish": "es",
    "spanish2": "es", "swedish": "sv", "thai": "th", "turkish": "tr",
    "ukrainian": "uk", "vietnamese": "vi",
}


def _spark_collation(mysql_name: str) -> str | None:
    """MySQL collation name → Spark 4 native collation, None if the
    name is not in the server's advertised collation map.

    Spark's collation engine applies the comparison semantics to BOTH
    sides of every predicate and to ordering — strictly more correct
    than a one-sided lower() shim.  Mapping (r7, closing the r6
    accent-pair gap via Spark's ICU collations):

    * ``*_bin`` / ``binary`` → UTF8_BINARY (codepoint order);
    * ``*_ai_ci`` → UNICODE_CI_AI (8.0 default family);
    * language-tailored legacy ``<lang>_ci`` (swedish_ci, turkish_ci,
      …) → the ICU locale collation ``<loc>_CI_AI`` — real linguistic
      tailoring (Swedish ö sorts after z, Turkish dotless-ı folds),
      which UTF8_LCASE could never express;
    * ``unicode_ci`` / ``unicode_520_ci`` / ``general_ci`` →
      UNICODE_CI_AI: these fold accents (é = e), which the previous
      UTF8_LCASE approximation kept distinct — the exact corner the
      r6 TODO documented.  Residual divergence: legacy general_ci
      weighs ß = s where UCA (and UNICODE_CI_AI) weighs ß = ss; MySQL
      itself documents general_ci's weighting as simplified/incorrect
      there.
    * ``<lang>_cs`` (latin2_czech_cs, …) → the ICU locale base
      (case- and accent-sensitive); ``general_cs`` → UNICODE;
    * any other ``_ci`` → UTF8_LCASE (case-only folding).
    """
    from tidb_gateway_spark.gateway.constants import COLLATIONS

    n = mysql_name.lower()
    if n not in COLLATIONS.values():
        return None
    if n == "binary" or n.endswith("_bin"):
        return "UTF8_BINARY"
    if n.endswith("_ai_ci"):
        return "UNICODE_CI_AI"
    parts = n.split("_")
    if n.endswith("_ci"):
        lang = parts[-2] if len(parts) >= 2 else ""
        if lang in _MYSQL_LANG_LOCALE:
            return f"{_MYSQL_LANG_LOCALE[lang]}_CI_AI"
        if lang in ("general", "unicode", "520", "mysql500"):
            return "UNICODE_CI_AI"
        return "UTF8_LCASE"
    if n.endswith("_cs"):
        lang = parts[-2] if len(parts) >= 2 else ""
        if lang in _MYSQL_LANG_LOCALE:
            return _MYSQL_LANG_LOCALE[lang]
        return "UNICODE"
    return "UTF8_BINARY"


def _rewrite_collations(sql: str) -> str:
    """``expr COLLATE <mysql collation>`` → Spark native collation;
    unknown names pass through untouched (Spark then reports them)."""

    def sub(m: re.Match) -> str:
        spark_name = _spark_collation(m.group(1))
        return f"COLLATE {spark_name}" if spark_name else m.group(0)

    return _COLLATE_RE.sub(sub, sql)


def _rewrite_json_shred(sql: str) -> str:
    """Route constant-path JSON extraction onto the materialized shredded
    view (catalog.SHREDDED_JSON): ``get_json_object(props,'$.k')`` /
    ``JSON_EXTRACT`` / ``->`` / ``->>`` become the typed ``props_k``
    column (CAST back to STRING — MySQL extraction yields text — so the
    wire type is unchanged), and the statement's FROM/JOIN reference is
    redirected to ``<table>_shredded``, which carries every original
    column plus the typed ones.

    Why: JSON parsing costs ~2.2 s/M rows per query in Spark; the
    shredded companion parses once at materialization, so repeated
    path queries hit a pruned parquet column (BASELINE.md, q53).  The
    table redirect fires only when an extraction pattern matched.
    """
    from tidb_gateway_spark.catalog import SHREDDED_JSON, SHREDDED_SUFFIX

    for table, spec in SHREDDED_JSON.items():
        jc = spec["json_col"]
        jcpat = rf"(?:\w+\.)?`?{jc}`?"
        fired = False
        for path, col in spec["paths"].items():
            p = re.escape(path)
            repl = f"CAST({col} AS STRING)"
            pats = (
                rf"JSON_UNQUOTE\s*\(\s*JSON_EXTRACT\s*\(\s*{jcpat}\s*,\s*'{p}'\s*\)\s*\)",
                rf"JSON_EXTRACT\s*\(\s*{jcpat}\s*,\s*'{p}'\s*\)",
                rf"GET_JSON_OBJECT\s*\(\s*{jcpat}\s*,\s*'{p}'\s*\)",
                rf"{jcpat}\s*->>\s*'{p}'",
                rf"{jcpat}\s*->\s*'{p}'",
            )
            for pat in pats:
                new = re.sub(pat, repl, sql, flags=re.IGNORECASE)
                if new != sql:
                    sql, fired = new, True
        if fired:
            sql = re.sub(
                rf"(\bFROM\s+|\bJOIN\s+|,\s*)`?{table}`?\b",
                lambda m: m.group(1) + table + SHREDDED_SUFFIX,
                sql, flags=re.IGNORECASE,
            )
    return sql


# ---- session statement classification ----

_SET_RE = re.compile(r"^\s*SET\s+", re.IGNORECASE)
_LOAD_DATA_RE = re.compile(
    r"^\s*LOAD\s+DATA\s+LOCAL\s+INFILE\s+'((?:[^'\\]|\\.)*)'\s+INTO\s+TABLE\s+`?(\w+)`?"
    r"(?:\s+FIELDS\s+TERMINATED\s+BY\s+'((?:[^'\\]|\\.)*)')?"
    r"(?:\s+IGNORE\s+(\d+)\s+LINES)?\s*$",
    re.IGNORECASE,
)
_USE_RE = re.compile(r"^\s*USE\s+`?([A-Za-z0-9_.]+)`?\s*$", re.IGNORECASE)
# Optionally db-qualified (`db`.`table`); the qualifier is resolved (or
# cleanly rejected) by the session rather than falling through to the
# Spark query path with a confusing temp-view error.
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s+COMPUTE\s+STATISTICS"
    r"(\s+FOR\s+COLUMNS\s+[\w`,\s]+|\s+FOR\s+ALL\s+COLUMNS|\s+NOSCAN)?\s*$",
    re.IGNORECASE,
)
_TXN_RE = re.compile(r"^\s*(BEGIN|START\s+TRANSACTION|COMMIT|ROLLBACK)\b", re.IGNORECASE)
_SHOW_RE = re.compile(r"^\s*SHOW\s+(\S+)", re.IGNORECASE)
_SHOW_PROCESSLIST_RE = re.compile(r"^\s*SHOW\s+(?:FULL\s+)?PROCESSLIST\s*$",
                                  re.IGNORECASE)
# KILL [QUERY|CONNECTION] <id> — bare KILL means CONNECTION (MySQL).
_KILL_RE = re.compile(r"^\s*KILL\s+(?:(QUERY|CONNECTION)\s+)?(\d+)\s*$",
                      re.IGNORECASE)
_DESCRIBE_RE = re.compile(r"^\s*(?:DESCRIBE|DESC)\s+`?(\w+)`?\s*$", re.IGNORECASE)
_SHOW_COLUMNS_RE = re.compile(r"^\s*SHOW\s+(?:FULL\s+)?COLUMNS\s+FROM\s+`?(\w+)`?", re.IGNORECASE)
_SHOW_CREATE_RE = re.compile(r"^\s*SHOW\s+CREATE\s+TABLE\s+`?(\w+)`?", re.IGNORECASE)
_SYSVAR_SELECT_RE = re.compile(r"^\s*SELECT\s+[^()]*@@", re.IGNORECASE)
_SYSVAR_TOKEN = re.compile(r"@@(?:session\.|global\.)?([A-Za-z_0-9]+)(?:\s+AS\s+`?([A-Za-z_0-9]+)`?)?", re.IGNORECASE)


_SQL_ESCAPES = {
    "0": "\0", "n": "\n", "t": "\t", "r": "\r", "b": "\b",
    "Z": "\x1a", "\\": "\\", "'": "'", '"': '"', "%": "\\%", "_": "\\_",
}


def _unescape_sql_string(s: str) -> str:
    """Process MySQL string-literal escape sequences (\\t, \\n, \\\\, …).

    Unknown escapes resolve to the escaped character itself, matching
    MySQL semantics ("\\x" → "x")."""
    out, i, ln = [], 0, len(s)
    while i < ln:
        ch = s[i]
        if ch == "\\" and i + 1 < ln:
            nxt = s[i + 1]
            out.append(_SQL_ESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def classify(stmt: str) -> tuple[str, object]:
    """→ (kind, detail): kind ∈ {set, use, txn, show, sysvar, load_data,
    kill, query}."""
    m = _LOAD_DATA_RE.match(stmt)
    if m:
        # MySQL default FIELDS TERMINATED BY is '\t' when the clause is
        # omitted; a captured clause carries raw escape sequences
        # ("\\t") that must be processed to the real character.
        delim = _unescape_sql_string(m.group(3)) if m.group(3) is not None else "\t"
        return "load_data", {
            "filename": _unescape_sql_string(m.group(1)),
            "table": m.group(2),
            "delimiter": delim,
            "ignore_lines": int(m.group(4) or 0),
        }
    m = _ANALYZE_RE.match(stmt)
    if m:
        # TiDB accepts ANALYZE TABLE for CBO statistics
        # (SURVEY.md §4.2); mapped onto Spark's ANALYZE TABLE.
        return "analyze", {"db": m.group(1), "table": m.group(2),
                           "suffix": (m.group(3) or "").strip()}
    if _SET_RE.match(stmt):
        return "set", stmt
    m = _USE_RE.match(stmt)
    if m:
        return "use", m.group(1)
    m = _TXN_RE.match(stmt)
    if m:
        return "txn", m.group(1).upper()
    m = _DESCRIBE_RE.match(stmt)
    if m:
        return "describe", m.group(1)
    m = _SHOW_COLUMNS_RE.match(stmt)
    if m:
        return "describe", m.group(1)
    m = _SHOW_CREATE_RE.match(stmt)
    if m:
        return "show_create", m.group(1)
    if _SHOW_PROCESSLIST_RE.match(stmt):
        return "show", "processlist"
    m = _KILL_RE.match(stmt)
    if m:
        # KILL QUERY cancels the target connection's running statement
        # (Spark job-group cancellation); KILL [CONNECTION] also drops
        # the connection.  The reference relayed KILL opaquely to its
        # backend (gateway/relay.go:47-66) — as the execution engine we
        # must implement the cancellation ourselves.
        return "kill", {
            "what": (m.group(1) or "CONNECTION").lower(),
            "id": int(m.group(2)),
        }
    m = _SHOW_RE.match(stmt)
    if m:
        return "show", m.group(1).lower()
    if _SYSVAR_SELECT_RE.match(stmt):
        return "sysvar", [(v.group(1), v.group(2) or f"@@{v.group(1)}")
                          for v in _SYSVAR_TOKEN.finditer(stmt)]
    return "query", stmt
