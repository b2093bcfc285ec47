"""Deterministic Common-Crawl-style pages generator (FIXTURES.md §A).

Everything derives from hashes of natural keys (doc_id) — no wall clock, no
rand()/uuid() — so reruns, resumes, and different partitionings produce
byte-identical tables, and per-sink counts / per-fingerprint rollups are
known analytically (goldens-by-construction, FIXTURES.md §E).

The template mix mirrors the reference fixture composition (SURVEY.md §5):
per 100 entries — 62 single-statement SQL, 31 version-comment bodies
(-> InvalidStatement, /root/reference/src/codec.rs:514-515), 4 single-token
admin commands, 2 multi-word admin commands (-> InvalidStatement via the
single-token fall-through, src/parser.rs:479-494), 1 'use db;'-prefixed
entry; ~10% carry a '-- k: v' details comment (src/parser.rs:732-794).

Domains are Zipf(s=1.2)-skewed over a 1,000-domain pool so hot-domain
salting is actually exercised at bench scale.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

BASE_TS = datetime(2018, 2, 5, 2, 46, 43, tzinfo=timezone.utc)  # first fixture ts

_N_DOMAINS = 1000
_ZIPF_S = 1.2

# Precompute the Zipf CDF once per worker (module import time).
_zipf_w = [1.0 / ((k + 1) ** _ZIPF_S) for k in range(_N_DOMAINS)]
_zipf_total = sum(_zipf_w)
_ZIPF_CDF: list[float] = []
_acc = 0.0
for _w in _zipf_w:
    _acc += _w / _zipf_total
    _ZIPF_CDF.append(_acc)

_LANGS = ["en", "en", "en", "en", "en", "en", "en", "de", "fr", "es", "it", "pt", "nl", "ja", "zh", "ru"]

LANG_LOCALE = {
    "en": "en_US", "de": "de_DE", "fr": "fr_FR", "es": "es_ES", "it": "it_IT",
    "pt": "pt_BR", "nl": "nl_NL", "ja": "ja_JP", "zh": "zh_CN", "ru": "ru_RU",
}


def _h64(*parts) -> int:
    """Deterministic 64-bit hash of natural keys (stable across processes —
    python hash() is salted, so use blake2b)."""
    key = "|".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")


def _zipf_domain(h: int) -> str:
    u = (h % (1 << 32)) / (1 << 32)
    lo, hi = 0, _N_DOMAINS - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if _ZIPF_CDF[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return f"domain{lo:04d}.example.com"


# --- entry templates --------------------------------------------------------
# Literal values vary by (doc_id, i) so fingerprints collapse across entries.

_USERS = ["appuser", "batchjob", "readonly", "svc_api", "msandbox"]
_HOSTS = ["localhost", "app01.prod.net", "app02.prod.net", "batch.internal", None]
_IPS = ["10.0.0.5", "10.0.0.17", "192.168.1.9", None]
_DBS = ["shop", "analytics", "mysql"]

_SQL_TEMPLATES = [
    ("SELECT", "SELECT id, name, price FROM products WHERE price > {n} AND category_id = {m} ORDER BY id LIMIT 50;"),
    ("SELECT", "SELECT o.id, o.total, c.name FROM orders o LEFT JOIN customers c ON o.customer_id = c.id WHERE o.total < {n};"),
    ("INSERT", "INSERT INTO audit_log (actor, action, at_ts) VALUES ('user{m}', 'login', {n});"),
    ("UPDATE", "UPDATE sessions SET last_seen = {n} WHERE session_id = '{s}';"),
    ("DELETE", "DELETE FROM carts WHERE updated_at < {n} AND status = 'stale';"),
    ("SELECT", "SELECT count(*) AS n FROM events WHERE kind = '{s}' GROUP BY day;"),
    ("CREATE TABLE", "CREATE TABLE IF NOT EXISTS tmp_{m} (id INT, v VARCHAR(20));"),
    ("ALTER TABLE", "ALTER TABLE products ADD COLUMN col_{m} INT;"),
    ("DROP TABLE", "DROP TABLE IF EXISTS tmp_{m};"),
    ("SET", "SET NAMES utf8mb4;"),
]

_VERSION_COMMENTS = [
    "/*!40101 SET character_set_client = utf8 */;",
    "/*!40103 SET TIME_ZONE='+00:00' */;",
    "/*!50003 SET sql_mode = 'STRICT_TRANS_TABLES' */;",
]

_SINGLE_ADMIN = ["Quit", "Ping", "Refresh"]
_MULTI_ADMIN = ["Init DB", "Register Slave"]


def render_entry(doc_id: int, i: int) -> tuple[str, str]:
    """Render one log entry deterministically. Returns (kind_tag, text) where
    kind_tag is the analytically-known outcome: 'sql:<TYPE>', 'invalid',
    'admin:<CMD>'."""
    h = _h64(doc_id, i)
    mix = h % 100
    ts = BASE_TS + timedelta(seconds=(doc_id * 7 + i) % 86400)
    t_iso = ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    user = _USERS[h % len(_USERS)]
    host = _HOSTS[(h >> 8) % len(_HOSTS)]
    ip = _IPS[(h >> 16) % len(_IPS)]
    if host is None and ip is None:
        host = "localhost"
    host_part = f"{host or ''} [{ip or ''}]"
    qt = ((h >> 24) % 100000) / 1e6
    lt = ((h >> 32) % 10000) / 1e6
    rs = (h >> 40) % 100
    re_ = rs + ((h >> 48) % 1000)
    set_ts = 1517798803 + ((doc_id * 13 + i) % 100000)
    head = (
        f"# Time: {t_iso}\n"
        f"# User@Host: {user}[{user}] @ {host_part}  Id: {h % 9973}\n"
        f"# Query_time: {qt:.6f}  Lock_time: {lt:.6f} Rows_sent: {rs}  Rows_examined: {re_}\n"
    )
    use_part = ""
    if mix == 99:  # 1% use-db prefix
        use_part = f"use {_DBS[h % len(_DBS)]};\n"
    head += use_part + f"SET timestamp={set_ts};\n"

    comment = ""
    if (h >> 56) % 10 == 0:  # ~10% details comment
        comment = (
            f"-- request_id: req{h % 100000}, file: src/mod{h % 7}.rs, "
            f"method: handler_{h % 5}(), line: {h % 500}\n"
        )

    if mix < 62:
        sql_type, tpl = _SQL_TEMPLATES[(h >> 4) % len(_SQL_TEMPLATES)]
        body = tpl.format(n=h % 100000, m=h % 50, s=f"v{h % 1000:03d}")
        return f"sql:{sql_type}", head + comment + body + "\n"
    if mix < 93:
        body = _VERSION_COMMENTS[(h >> 4) % len(_VERSION_COMMENTS)]
        return "invalid", head + body + "\n"
    if mix < 97:
        cmd = _SINGLE_ADMIN[(h >> 4) % len(_SINGLE_ADMIN)]
        return f"admin:{cmd}", head + f"# administrator command: {cmd};\n"
    if mix < 99:
        cmd = _MULTI_ADMIN[(h >> 4) % len(_MULTI_ADMIN)]
        return "invalid", head + f"# administrator command: {cmd};\n"
    # mix == 99: use-db prefixed SELECT
    body = f"SELECT id FROM accounts WHERE balance > {h % 1000};"
    return "sql:SELECT", head + comment + body + "\n"


_PREAMBLE = (
    "/usr/sbin/mysqld, Version: 8.0.32-log (Source distribution). started with:\n"
    "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n"
    "Time                 Id Command    Argument\n"
)


def entries_per_page(doc_id: int) -> int:
    return 1 + (doc_id % 5)


def render_page(doc_id: int) -> dict:
    """One pages row. First page of each 50-page 'file group' gets the 3-line
    preamble (/root/reference/src/parser.rs:904-925 format) to exercise
    header skipping."""
    h = _h64("page", doc_id)
    domain = _zipf_domain(h)
    path = format(_h64("path", doc_id) % (1 << 32), "08x")
    url = f"https://{domain}/{path}/{doc_id}"
    parts = [_PREAMBLE] if doc_id % 50 == 0 else []
    for i in range(entries_per_page(doc_id)):
        parts.append(render_entry(doc_id, i)[1])
    text = "".join(parts)
    warc_ts = BASE_TS + timedelta(seconds=doc_id)
    return {
        "url": url,
        "warc_ts": warc_ts.replace(tzinfo=None),
        "html": b"<html><body><pre>" + text.encode("utf-8") + b"</pre></body></html>",
        "text": text,
        "lang": _LANGS[doc_id % len(_LANGS)],
    }


def expected_kind_counts(n_pages: int) -> dict[str, int]:
    """Closed-form goldens-by-construction for gen_pages(n_pages)."""
    from collections import Counter

    c: Counter[str] = Counter()
    for doc_id in range(n_pages):
        for i in range(entries_per_page(doc_id)):
            tag = render_entry(doc_id, i)[0]
            if tag.startswith("sql:"):
                c["SqlStatement"] += 1
            elif tag.startswith("admin:"):
                c["AdminCommand"] += 1
            else:
                c["InvalidStatement"] += 1
    return dict(c)


def gen_pages(spark: SparkSession, n_pages: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation: spark.range -> mapInArrow.
    No driver-side loop, no collect — scales to any n_pages."""
    from slowspark.schema import PAGES_SCHEMA
    from slowspark.util import arrow_batch

    if partitions is None:
        partitions = max(1, min(256, n_pages // 2000 or 1))

    def fn(batches):
        for batch in batches:
            rows = [render_page(d) for d in batch.column("id").to_pylist()]
            yield arrow_batch(
                PAGES_SCHEMA, [[r[c] for r in rows] for c in PAGES_SCHEMA.names]
            )

    return (
        spark.range(0, n_pages, numPartitions=partitions)
        .mapInArrow(fn, schema=PAGES_SCHEMA)
    )


def host_dc_dim(spark: SparkSession) -> DataFrame:
    """The host -> data-centre enrich dim. Like lang_locale_dim it is a
    util.local_frame (a LocalRelation), so broadcasting it runs no Python
    worker."""
    from slowspark.schema import HOST_DC_SCHEMA
    from slowspark.util import local_frame

    rows = [(h, f"dc-{_h64('dc', h) % 4}") for h in _HOSTS if h] + [
        ("localhost", "dc-local")
    ]
    # dedupe on host key (localhost appears in _HOSTS)
    seen: dict[str, str] = {}
    for h, dc in rows:
        seen.setdefault(h, dc)
    return local_frame(spark, seen.items(), HOST_DC_SCHEMA)


def lang_locale_dim(spark: SparkSession) -> DataFrame:
    """The lang -> locale enrich dim, a util.local_frame."""
    from slowspark.schema import LANG_LOCALE_SCHEMA
    from slowspark.util import local_frame

    return local_frame(spark, LANG_LOCALE.items(), LANG_LOCALE_SCHEMA)
