"""Web-URL operators for crawl curation: URL canonicalization,
canonical-URL dedup, and domain-suffix blocklist filtering.

Common-Crawl-style corpora key everything on `url` (the reference
pipeline's entries carry one per page — see `src/parser.rs` URI handling
for the header grammar; these operators have no reference analog and
follow the standard crawl-curation recipes instead): the same page is
fetched as `http://WWW.Example.com/a//b?utm_source=x&id=1#frag` and
`https://www.example.com/a/b?id=1`, and a training pipeline that dedups
on the raw string keeps both. Canonicalization maps the equivalence
class to one representative string; URL dedup then keeps exactly one
page per class; blocklist filtering drops whole registrable-domain
subtrees (the UT1/adult-blocklist step every public web corpus applies).

Everything here is pure `pyspark.sql.functions` — regex/array lambdas
inside whole-stage codegen, no UDFs, no shuffle except where the
operator's semantics require one (the dedup groupBy). Every operator is
value-hash-checked against a DuckDB oracle through the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F

# Tracking parameters stripped by canonicalize_url: the de-facto standard
# list (utm_* campaign tags plus the per-platform click ids). Anchored
# regex over the `key=` prefix of each query parameter.
TRACKING_PARAM_RE = (
    r"^(utm_[a-z]+|fbclid|gclid|gclsrc|msclkid|mc_eid|igshid|yclid|"
    r"_hsenc|_hsmi|ref|ref_src)="
)

_URL_PARTS_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(.*)$"


def canonical_url_expr(url: Column | str) -> Column:
    """Column expression computing the canonical form of a URL:

      1. fragment dropped (`#...` never reaches the server);
      2. scheme and authority lowercased; default ports (`:80` on http,
         `:443` on https) stripped;
      3. path: runs of `/` collapsed, trailing `/` dropped (root stays
         `/`), empty path becomes `/`;
      4. query: parameters split on `&`, empties and tracking params
         (TRACKING_PARAM_RE) dropped, the rest SORTED lexicographically
         and rejoined — `?b=2&a=1` and `?a=1&b=2` canonicalize equal;
         a query that empties out drops its `?`.

    Percent-encoding is NOT normalized (decoding reserved characters
    changes meaning; the safe subset buys little on real crawls) — two
    URLs differing only in escape case stay distinct, documented.

    Pure codegen (regexp_extract / array lambdas); non-URL strings (no
    `scheme://`) pass through unchanged so the expression is total.

    Scale shape: narrow projection, no shuffle, no UDF."""
    u = F.col(url) if isinstance(url, str) else url
    nofrag = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, _URL_PARTS_RE, 1))
    auth = F.lower(F.regexp_extract(nofrag, _URL_PARTS_RE, 2))
    auth = F.when(
        (scheme == "http") & auth.endswith(":80"),
        F.substring(auth, 1, F.length(auth) - 3),
    ).when(
        (scheme == "https") & auth.endswith(":443"),
        F.substring(auth, 1, F.length(auth) - 4),
    ).otherwise(auth)
    rawpath = F.regexp_extract(nofrag, _URL_PARTS_RE, 3)
    path = F.regexp_replace(rawpath, r"/{2,}", "/")
    path = F.when(
        (F.length(path) > 1), F.regexp_replace(path, r"/$", "")
    ).otherwise(path)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(nofrag, _URL_PARTS_RE, 4)  # includes '?'
    params = F.filter(
        F.split(F.regexp_replace(rawq, r"^\?", ""), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    q = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme, F.lit("://"), auth, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    # total function: a string with no scheme://authority is not a URL we
    # understand — pass it through rather than emitting '://'
    return F.when(scheme == "", u).otherwise(canon)


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """Attach the canonical URL column (canonical_url_expr)."""
    return df.withColumn(out_col, canonical_url_expr(url_col))


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    keeper_only: bool = False,
) -> DataFrame:
    """One row per canonical URL: the keeper is the EARLIEST fetch
    (min ts_col) with min id_col as the deterministic tie-break — the
    exact_dedup keeper policy lifted from text content to URL identity.
    With ts_col=None the keeper is min id alone.

    Returns the input columns plus `canonical_url` and `n_url_dups`
    (class size, >= 1) on the surviving rows. With keeper_only=True,
    returns just (canonical_url, id_col, n_url_dups) — the same rows,
    WITHOUT the join of the keeper table back to the input, so the
    corpus is scanned (and canonicalized) once instead of twice (r9;
    use it when the caller doesn't need the other input columns).

    Scale shape: one shuffle on canonical_url into a map-side-combined
    min + count (a hot URL fetched 10^6 times contributes one partial
    row per partition), then — only when the input columns are needed —
    a broadcast-eligible join of the keeper table back to the input; no
    window over the full corpus, no driver state. The keeper min is
    exact for any id/ts domain (negative xxhash64 longs included) — the
    substring-dedup keeper lesson; with a single key column it is a
    plain min (hash-aggregable) rather than min(struct) (r9: the
    one-field struct forced a per-partition SortAggregate over the
    canonical-url strings)."""
    keyed = with_canonical_url(df, url_col)
    if ts_col:
        keeper_min = F.min(F.struct(ts_col, id_col)).alias("__k")
        keeper_id = F.col(f"__k.{id_col}")
    else:
        keeper_min = F.min(id_col).alias("__k")
        keeper_id = F.col("__k")
    keeper = keyed.groupBy("canonical_url").agg(
        keeper_min,
        F.count("*").alias("n_url_dups"),
    ).select(
        "canonical_url",
        keeper_id.alias(id_col),
        "n_url_dups",
    )
    if keeper_only:
        return keeper
    return keyed.join(keeper, ["canonical_url", id_col], "inner")


def latest_capture(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per URL: the NEWEST capture (max ts_col, max id_col as the
    deterministic tie-break) — the Common-Crawl snapshot-consolidation
    step (a URL refetched across monthly crawls keeps its latest
    content; training on every capture of a news homepage is duplication
    by another name). Complements url_dedup, whose keeper policy is the
    EARLIEST fetch within one crawl.

    Returns the input columns plus `n_captures` (>= 1), EXACTLY one row
    per URL — including the degenerate cases a join-back keeper gets
    wrong: fully duplicated capture rows (same url+ts+id would match
    the keeper twice) and same-(url,ts,id) rows with different payloads
    (ambiguous; the struct comparison breaks the tie deterministically
    on the remaining columns, never emitting both).

    Scale shape: ONE shuffle on url — the whole row rides a
    max(struct(ts, id, <other columns>)) aggregate, map-side combined,
    so a URL captured in 100 monthly snapshots contributes one
    candidate ROW per partition and the shuffle volume is
    output-sized, not input-sized. No window over the corpus, no
    second scan, exact for any ts/id domain (max-struct, the
    substring-dedup keeper lesson)."""
    others = [c for c in df.columns if c not in (url_col, ts_col, id_col)]
    keeper = df.groupBy(url_col).agg(
        F.max(F.struct(ts_col, id_col, *others)).alias("__k"),
        F.count("*").alias("n_captures"),
    )
    return keeper.select(
        url_col,
        *[
            F.col(f"__k.{c}").alias(c)
            for c in df.columns
            if c != url_col
        ],
        "n_captures",
    )


def crawl_delta(
    old_df: DataFrame,
    new_df: DataFrame,
    url_col: str = "url",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Per-URL delta between two crawl snapshots, each already
    consolidated to one row per URL (latest_capture): status `new`
    (URL only in the new crawl), `gone` (only in the old), `changed`
    (both sides, content fingerprint differs), `unchanged` (fingerprint
    equal). The incremental-recrawl primitive: downstream curation
    reprocesses `new` + `changed` only, instead of re-ingesting the
    full 10^12-page snapshot.

    Returns (url, status, old_fp, new_fp). Content identity is whatever
    fingerprint the caller computed (xxhash64(text), a MinHash band, a
    normalized-text md5) — delta semantics are fingerprint-agnostic.

    Scale shape: one full outer join on url — both sides are unique per
    url by contract, so this is a co-partitioned sort-merge join with no
    fan-out and no skew (url is the unique key; hot HOSTS do not
    concentrate because the key is the full url). Status is a narrow
    codegen CASE over explicit per-side PRESENCE markers (lit(True)
    columns — NOT fingerprint null-ness, which would misclassify a
    present row carrying a NULL fingerprint; ADVICE r7) plus fingerprint
    equality; a NULL fingerprint on a present row raises at execution
    time (raise_error branch — the bad-input guard, zero extra actions;
    the holdout_split null-group convention). No UDF, no window, no
    driver state."""
    o = old_df.select(
        F.col(url_col).alias("url"),
        F.col(fp_col).alias("old_fp"),
        F.lit(True).alias("__in_old"),
    )
    n = new_df.select(
        F.col(url_col).alias("url"),
        F.col(fp_col).alias("new_fp"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, "url", "full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    bad = F.raise_error(
        F.concat(
            F.lit(f"crawl_delta: NULL {fp_col} for present url "),
            F.col("url"),
        )
    ).cast("string")
    return j.select(
        "url",
        F.when(in_old & F.col("old_fp").isNull(), bad)
        .when(in_new & F.col("new_fp").isNull(), bad)
        .when(~in_old, F.lit("new"))
        .when(~in_new, F.lit("gone"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_fp",
        "new_fp",
    )


# href of an anchor tag: double-quoted attribute, the dominant form in
# real markup; single-quoted/bare attributes are rare enough that crawl
# pipelines (and this operator) accept the miss rather than pay a
# full HTML parser per page. Case-insensitive ((?is), the NOINDEX_RE
# convention): '<A HREF="...">' in older/uppercase markup is inside the
# double-quoted coverage contract (ADVICE r7).
LINK_HREF_RE = r'(?is)<a\s[^>]*href="([^"]*)"'


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    out_col: str = "href",
) -> DataFrame:
    """One row per (page url, anchor href) from an html BINARY column —
    the edge-extraction pass that feeds graph.degrees/pagerank/hits.
    Emits the raw `href` plus `resolved_url`:

      - absolute (`scheme://...`)      -> unchanged
      - protocol-relative (`//host/p`) -> base url's scheme prepended
      - root-relative (`/p`)           -> base url's scheme://host + href
      - anything else (relative paths, `mailto:`, fragments, empty)
        -> NULL (full RFC 3986 reference resolution needs the base
        path's segment merge — out of scope for edge extraction, and
        NULL is honest: the caller filters resolved links)

    Scale shape: pure codegen (decode + regexp_extract_all + explode) —
    no UDF, no shuffle; output fan-out is the page's anchor count. Like
    html_to_text, this is an html-column scan: run it once per snapshot
    and persist the edge table (RUNBOOK §13)."""
    hrefs = F.regexp_extract_all(
        F.decode(F.col(html_col), "UTF-8"), F.lit(LINK_HREF_RE), F.lit(1)
    )
    out = df.select(url_col, F.explode(hrefs).alias(out_col))
    return out.withColumn(
        "resolved_url", _resolved_href_expr(F.col(url_col), F.col(out_col))
    )


# full anchor tag: href (double-quoted, same coverage contract as
# LINK_HREF_RE) plus the inner markup up to the closing </a>. Lazy
# (.*?) is RE2-safe, so the DuckDB oracle runs the IDENTICAL pattern.
ANCHOR_RE = r'(?is)<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def _resolved_href_expr(base_url: Column, href: Column) -> Column:
    """The href-resolution CASE shared by extract_links and
    extract_anchor_texts: absolute passthrough, protocol-relative gets
    the base scheme, root-relative gets scheme://authority, everything
    else NULL (see extract_links docstring for the rationale)."""
    scheme = F.regexp_extract(base_url, _URL_PARTS_RE, 1)
    authority = F.regexp_extract(base_url, _URL_PARTS_RE, 2)
    return (
        F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(
            href.startswith("/"),
            F.concat(scheme, F.lit("://"), authority, href),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def extract_anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """One row per anchor tag: (src_url, href, resolved_url,
    anchor_text) — extract_links plus the ANCHOR TEXT, the classic
    off-page relevance signal (the text other pages use to describe a
    target is a quality/topic label the target can't fake; anchor-text
    aggregation has driven web ranking since PageRank-era engines and
    labels training-corpus pages by consensus description).

    `anchor_text` is the inner markup with nested tags stripped,
    whitespace collapsed, trimmed, and lowercased — the normalized
    phrase unit `anchor_text_agg` counts. Anchors whose inner markup
    contains no text (e.g. image links) come out as ''.

    Scale shape: pure codegen — decode + regexp_extract_all(group 0) +
    explode + two per-anchor regexp_extracts; no UDF, no shuffle (the
    fan-out is the page's anchor count). Like extract_links this is an
    html-column scan: run once per snapshot, persist, and feed both the
    edge table and the anchor profile from the same pass."""
    anchors = F.regexp_extract_all(
        F.decode(F.col(html_col), "UTF-8"), F.lit(ANCHOR_RE), F.lit(0)
    )
    out = df.select(
        F.col(url_col).alias("src_url"), F.explode(anchors).alias("__a")
    )
    a = F.col("__a")
    href = F.regexp_extract(a, ANCHOR_RE, 1)
    text = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_extract(a, ANCHOR_RE, 2), r"<[^>]*>", " "
                ),
                r"\s+",
                " ",
            )
        )
    )
    return out.select(
        "src_url",
        href.alias("href"),
        _resolved_href_expr(F.col("src_url"), href).alias("resolved_url"),
        text.alias("anchor_text"),
    )


def anchor_text_agg(
    links: DataFrame,
    k: int = 3,
    target_col: str = "resolved_url",
    text_col: str = "anchor_text",
) -> DataFrame:
    """Per-target anchor profile: the top-k normalized anchor phrases
    pointing at each resolved URL, by (count desc, phrase asc) — the
    consensus description other pages give a target. Unresolved (NULL
    target) and textless ('') anchors don't vote.

    Scale shape: one map-side-combined groupBy(target, phrase) count —
    the only full-width shuffle — then a row_number window over the
    ALREADY-AGGREGATED (target, phrase) rows, so the window's exchange
    moves one row per distinct phrase, not one per in-link: a page with
    10^9 in-links but 10^4 distinct phrases windows 10^4 rows. The
    deterministic tie-break makes the top-k engine-stable."""
    from pyspark.sql.window import Window

    counted = (
        links.filter(
            F.col(target_col).isNotNull() & (F.col(text_col) != "")
        )
        .groupBy(
            F.col(target_col).alias("target_url"),
            F.col(text_col).alias("anchor_text"),
        )
        .agg(F.count("*").alias("n_anchors"))
    )
    w = Window.partitionBy("target_url").orderBy(
        F.desc("n_anchors"), F.asc("anchor_text")
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("target_url", "anchor_text", "n_anchors", "rank")
    )


# meta robots directive carrying 'noindex' in its content list, any
# attribute order, any case — the two dominant orderings are matched
# (name then content / content then name)
NOINDEX_RE = (
    r'(?is)<meta\s[^>]*(?:'
    r'name\s*=\s*"robots"[^>]*content\s*=\s*"[^"]*noindex'
    r'|content\s*=\s*"[^"]*noindex[^"]*"[^>]*name\s*=\s*"robots"'
    r')'
)


def noindex_filter(
    df: DataFrame, html_col: str = "html"
) -> DataFrame:
    """Drop pages whose HTML carries a `<meta name="robots"
    content="...noindex...">` directive — the publisher's explicit
    opt-out every public web corpus honors. Adds nothing on kept rows.
    A missing html COLUMN raises (the caller wired the wrong table); a
    NULL html VALUE keeps its row (no markup to carry a directive).

    Scale shape: one codegen rlike over the decoded html — no UDF, no
    shuffle; like html_to_text/extract_links it reads the html column,
    so fuse it into the same snapshot scan (RUNBOOK §13)."""
    if html_col not in df.columns:
        raise ValueError(
            f"noindex_filter: no {html_col!r} column (have {df.columns})"
        )
    return df.filter(
        ~F.coalesce(
            F.decode(F.col(html_col), "UTF-8").rlike(NOINDEX_RE),
            F.lit(False),
        )
    )


def keep_new_or_changed(
    docs: DataFrame,
    old_snapshot: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    old_fp_col: str = "fingerprint",
    old_text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest filter: keep only the rows of `docs` whose URL
    is NEW (absent from the previous snapshot) or CHANGED (present but
    with a different content fingerprint) — the row-level face of
    crawl_delta, for pipelines that reprocess a monthly crawl without
    re-ingesting the 10^12 pages that didn't move. Fingerprints are
    md5(text) on the current side; the old snapshot supplies either a
    precomputed `old_fp_col` (md5-of-text contract) or, failing that, an
    `old_text_col` to fingerprint the same way.

    Unchanged rows are DROPPED (they were processed last time); `gone`
    URLs have no current row, so nothing is emitted for them — pair
    with crawl_delta when the gone set itself matters (index eviction).

    Scale shape: one left join on url (the old side consolidated to one
    row per url by contract — latest_capture upstream); no fan-out, no
    UDF, fingerprinting is a codegen'd md5 projection on both sides."""
    if old_fp_col in old_snapshot.columns:
        o = old_snapshot.select(
            F.col(url_col).alias("__u"), F.col(old_fp_col).alias("__old_fp")
        )
    elif old_text_col in old_snapshot.columns:
        o = old_snapshot.select(
            F.col(url_col).alias("__u"),
            F.md5(old_text_col).alias("__old_fp"),
        )
    else:
        raise ValueError(
            f"keep_new_or_changed: old snapshot needs a {old_fp_col!r} "
            f"or {old_text_col!r} column (have {old_snapshot.columns})"
        )
    cur = docs.withColumn("__fp", F.md5(text_col))
    kept = cur.join(
        o, cur[url_col] == o["__u"], "left"
    ).filter(
        F.col("__old_fp").isNull() | (F.col("__old_fp") != F.col("__fp"))
    )
    return kept.select(*docs.columns)


def host_expr(url: Column | str) -> Column:
    """Lowercased host of a URL (authority minus userinfo and port)."""
    u = F.col(url) if isinstance(url, str) else url
    auth = F.lower(F.regexp_extract(u, _URL_PARTS_RE, 2))
    auth = F.regexp_replace(auth, r"^[^@]*@", "")
    return F.regexp_replace(auth, r":[0-9]*$", "")


def host_suffixes_expr(url: Column | str) -> Column:
    """Array of every dot-suffix of the URL's host, most-specific first:
    `a.b.example.com` -> [a.b.example.com, b.example.com, example.com,
    com]. This is how a registrable-domain blocklist matches subdomains
    with an EQUI-join instead of a per-row prefix scan."""
    parts = F.split(host_expr(url), r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )


def url_blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose URL host falls under any blocklisted domain
    (exact host OR any parent suffix: blocking `example.com` blocks
    `a.b.example.com`) — the UT1-style domain-blocklist step of a crawl
    curation pipeline.

    Scale shape: the corpus side explodes each row into its O(host
    labels) suffixes (a handful per row, narrow), then a BROADCAST
    left-semi join against the blocklist (blocklists are 10^6-ish rows —
    megabytes) marks hits; the final step is a left_anti of the input
    against the hit-id set. The corpus is never shuffled on a key; no
    per-row Python; no prefix LIKE scan."""
    hits = (
        df.select(id_col, F.explode(host_suffixes_expr(url_col)).alias("__sfx"))
        .join(
            F.broadcast(
                blocklist.select(F.lower(F.col(domain_col)).alias("__sfx"))
            ),
            "__sfx",
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


_ROBOTS_DIRECTIVE_RE = r"(?i)^\s*(user-agent|allow|disallow)\s*:\s*([^#]*?)\s*(?:#.*)?$"


def parse_robots(
    robots: DataFrame,
    agent: str,
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """Parse per-host robots.txt bodies into the rule group that governs
    `agent` (RFC 9309): (host, pattern, allow, spec) — spec is the
    longest-match specificity (pattern length in characters).

    Group semantics, per the RFC: consecutive User-agent lines open a
    group; the group's rules run until the next User-agent line that
    follows a rule. A group applies to `agent` if it names it exactly
    (case-insensitive) or names `*`; when both a named group and the
    `*` group exist, the NAMED group wins and the `*` group is ignored
    (the RFC's most-specific-user-agent rule). Directive names are
    case-insensitive; `#` comments and unknown directives (Crawl-delay,
    Sitemap) are ignored; an empty Disallow value means "no rule".

    Everything is Spark built-ins over exploded lines — line
    classification by regexp, group assignment by a running sum of
    group-start markers (two window passes per host, parallel across
    hosts; robots bodies are KB-sized so per-host windows are trivially
    bounded). No Python in the path, so the same relational recipe is
    expressible by a second engine for verification."""
    from pyspark.sql import Window

    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(body_col, r"\n")).alias("ln", "line"),
    ).select(
        "host",
        "ln",
        F.lower(F.regexp_extract("line", _ROBOTS_DIRECTIVE_RE, 1)).alias("d"),
        F.regexp_extract("line", _ROBOTS_DIRECTIVE_RE, 2).alias("v"),
    ).filter(F.col("d") != "")

    w = Window.partitionBy("host").orderBy("ln")
    # a User-agent line STARTS a group unless the previous directive
    # line was also User-agent (consecutive UA lines share the group)
    grouped = lines.withColumn(
        "gid",
        F.sum(
            (
                (F.col("d") == "user-agent")
                & (F.coalesce(F.lag("d").over(w), F.lit("")) != "user-agent")
            ).cast("int")
        ).over(w),
    )
    agents = (
        grouped.filter(F.col("d") == "user-agent")
        .groupBy("host", "gid")
        .agg(F.collect_set(F.lower("v")).alias("uas"))
    )
    a = agent.lower()
    applicable = agents.select(
        "host",
        "gid",
        F.array_contains("uas", a).alias("named"),
        F.array_contains("uas", "*").alias("star"),
    ).filter(F.col("named") | F.col("star"))
    # most-specific-user-agent: if ANY group on the host names the agent,
    # star-only groups are ignored
    has_named = applicable.groupBy("host").agg(
        F.max(F.col("named").cast("int")).alias("__hn")
    )
    chosen = applicable.join(has_named, "host").filter(
        (F.col("__hn") == 0) | F.col("named")
    )
    return (
        grouped.filter(F.col("d").isin("allow", "disallow") & (F.col("v") != ""))
        .join(chosen.select("host", "gid"), ["host", "gid"])
        .select(
            "host",
            F.col("v").alias("pattern"),
            (F.col("d") == "allow").alias("allow"),
            F.length("v").alias("spec"),
        )
        .distinct()
    )


def _robots_like_pattern(pattern: Column) -> Column:
    """Translate a robots `pattern` (literal prefix with `*` wildcards;
    trailing `$` anchors the end) to one SQL LIKE pattern: escape LIKE
    metachars, `*` -> `%`, then append `%` unless `$`-anchored."""
    anchored = pattern.endswith("$")
    core = F.when(
        anchored, F.substr(pattern, F.lit(1), F.length(pattern) - 1)
    ).otherwise(pattern)
    esc = F.replace(core, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("%"), F.lit("\\%"))
    esc = F.replace(esc, F.lit("_"), F.lit("\\_"))
    like_pat = F.replace(esc, F.lit("*"), F.lit("%"))
    return F.when(anchored, like_pat).otherwise(F.concat(like_pat, F.lit("%")))


def robots_filter(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply parsed robots rules to a URL table: adds `robots_allowed`
    (longest-match wins; on a specificity tie Allow wins; a URL whose
    host has no matching rule — or no robots at all — is allowed, the
    RFC default).

    Scale shape: rules are pre-grouped into ONE array row per host (the
    LIKE translation of every pattern is computed here too — once per
    rule, not once per URL x rule) and broadcast; each URL then picks
    its winner with array higher-order functions in a single projection.
    The corpus genuinely never shuffles — no per-URL aggregation, no
    join-back (r9: the previous groupBy(__id) + left-join-back shape
    exchanged the corpus twice and sort-merge-joined it against itself;
    this shape has ZERO corpus-side exchanges)."""
    path = F.coalesce(
        F.nullif(F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/]+(/.*)?$", 1), F.lit("")),
        F.lit("/"),
    )
    # tiny side: (host, [struct(spec, allow, like_pat)]) — struct field
    # order (spec, allow) preserves the longest-match-then-Allow-wins
    # ordering under array_max, identical to the previous
    # max(struct(spec, allow)) semantics
    host_rules = (
        rules.select(
            F.col("host").alias("__rhost"),
            F.struct(
                F.col("spec"),
                F.col("allow"),
                _robots_like_pattern(F.col("pattern")).alias("lp"),
            ).alias("__r"),
        )
        .groupBy("__rhost")
        .agg(F.collect_list("__r").alias("__rules"))
    )
    win = F.array_max(
        F.transform(
            F.filter(
                F.col("__rules"),
                lambda r: F.like(F.col("__path"), r["lp"]),
            ),
            lambda r: F.struct(r["spec"], r["allow"]),
        )
    )
    return (
        df.withColumn("__path", path)
        .withColumn("__h", host_expr(url_col))
        .join(
            F.broadcast(host_rules),
            F.col("__h") == F.col("__rhost"),
            "left",
        )
        .select(
            *df.columns,
            # no rules for the host (NULL array) or no matching rule
            # (empty array) -> array_max yields NULL -> allowed, the
            # RFC default
            F.coalesce(win["allow"], F.lit(True)).alias("robots_allowed"),
        )
    )


def crawl_schedule(
    df: DataFrame,
    url_col: str = "url",
    priority_col: str = "priority",
) -> DataFrame:
    """Politeness-bucketed crawl scheduling: order each host's URLs by
    descending priority and assign fetch_wave = that rank — wave w is
    "the w-th request this host will see", so issuing wave-by-wave
    enforces one-fetch-per-host-per-round politeness while still
    fetching globally by priority inside a wave. Returns (url, host,
    priority, fetch_wave).

    Scale shape: one window partitioned by host (parallel across hosts
    — the frontier's natural parallelism; no global sort). A pathological
    mega-host serializes only its own wave numbering, and that host is
    rate-limited to one fetch per wave anyway — the skew is the
    POLICY."""
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.desc(priority_col), F.asc(url_col)
    )
    return (
        df.select(
            F.col(url_col).alias("url"),
            host_expr(url_col).alias("host"),
            F.col(priority_col).alias("priority"),
        )
        .withColumn("fetch_wave", F.row_number().over(w))
    )


def url_history(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """SCD2 content history per URL: collapse a multi-snapshot capture
    table into validity intervals — one row per (url, run of consecutive
    captures with the same fingerprint):

        (url, fingerprint, valid_from, valid_to, n_captures, is_current)

    valid_from = first capture ts of the run; valid_to = the ts of the
    NEXT run's first capture (exclusive, the half-open SCD2 convention)
    or NULL for the current version; is_current flags the newest run.
    A URL whose content never changed yields exactly one open row. This
    is the crawl-side dimension table recipe: crawl_delta answers "what
    changed between snapshots A and B"; url_history answers "what were
    the contents of this URL over all time" — the churn/volatility
    signal (how often a page REALLY changes) that drives recrawl
    scheduling and freshness-weighted sampling.

    Duplicate (url, ts) captures must agree on fingerprint (a conflict
    raises — same bad-input posture as crawl_delta's null guard); NULL
    fingerprints raise.

    Scale shape: everything is windowed BY URL — partitions are
    per-url slices (bounded by captures-per-url, dozens at Common-Crawl
    cadence, never corpus-sized), so the two window passes
    (change-flag via lag, then a running sum assigning run ids) and the
    final groupBy all shuffle on the url key once and stay narrow
    after AQE coalescing. No corpus-wide window, no UDF, no collect."""
    from pyspark.sql import Window

    bad_null = F.raise_error(
        F.concat(
            F.lit(f"url_history: NULL {fp_col} for capture of "),
            F.col("__url"),
        )
    ).cast("string")
    rows = df.select(
        F.col(url_col).alias("__url"),
        F.col(ts_col).alias("__ts"),
        F.when(F.col(fp_col).isNull(), bad_null)
        .otherwise(F.col(fp_col))
        .alias("__fp"),
    )
    # conflicting duplicate (url, ts) captures raise; agreeing ones
    # collapse (countDistinct folds in the same pre-aggregation)
    rows = (
        rows.groupBy("__url", "__ts")
        .agg(
            F.first("__fp").alias("__fp"),
            F.count_distinct("__fp").alias("__nfp"),
            F.count("*").alias("__n"),
        )
        .select(
            "__url",
            "__ts",
            F.when(
                F.col("__nfp") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "url_history: conflicting fingerprints at one "
                            "(url, ts) capture of "
                        ),
                        F.col("__url"),
                    )
                ).cast(rows.schema["__fp"].dataType),
            )
            .otherwise(F.col("__fp"))
            .alias("__fp"),
            F.col("__n"),
        )
    )
    w = Window.partitionBy("__url").orderBy("__ts")
    flagged = rows.select(
        "__url",
        "__ts",
        "__fp",
        "__n",
        F.when(
            F.lag("__fp").over(w).isNull()
            | (F.lag("__fp").over(w) != F.col("__fp")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__chg"),
    ).withColumn(
        "__run", F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = flagged.groupBy("__url", "__run").agg(
        F.first("__fp").alias("fingerprint"),
        F.min("__ts").alias("valid_from"),
        F.sum("__n").alias("n_captures"),
    )
    w2 = Window.partitionBy("__url").orderBy("__run")
    return runs.select(
        F.col("__url").alias(url_col),
        "fingerprint",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.col("n_captures").cast("long").alias("n_captures"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


SITEMAP_ENTRY_RE = r"(?is)<url\s*>(.*?)</url\s*>"


def parse_sitemaps(
    df: DataFrame,
    xml_col: str = "xml",
    sitemap_url_col: str = "sitemap_url",
) -> DataFrame:
    """Sitemap XML parsing (sitemaps.org protocol, the <urlset> form):
    one output row per <url> entry — (sitemap_url, url, lastmod,
    changefreq, priority). `lastmod` is kept as the raw W3C datetime
    STRING (date or full timestamp — the protocol allows both; casting
    is the caller's policy), `priority` as double (protocol default 0.5
    when absent), `changefreq` lowercased or NULL. Entries without a
    <loc> are dropped (spec-invalid).

    Sitemaps are the publisher's own crawl hints — the third
    publisher-signal operator beside robots.txt (may I fetch?) and
    meta-noindex (may I keep?): lastmod/changefreq feed recrawl
    scheduling (compose with url_history's measured churn — trust the
    publisher hint only where history agrees) and loc entries seed the
    frontier.

    Scale shape: pure codegen — regexp_extract_all for the <url>
    blocks, one explode, per-entry field extraction; no UDF, no
    shuffle. RE2-safe patterns (lazy quantifiers, no backrefs), so the
    DuckDB oracle runs the same expressions."""
    entries = F.expr(
        f"regexp_extract_all({xml_col}, '{SITEMAP_ENTRY_RE}', 1)"
    )
    e = df.select(
        F.col(sitemap_url_col), F.explode(entries).alias("__e")
    )
    loc = F.regexp_extract("__e", r"(?is)<loc\s*>\s*(.*?)\s*</loc\s*>", 1)
    lastmod = F.regexp_extract(
        "__e", r"(?is)<lastmod\s*>\s*(.*?)\s*</lastmod\s*>", 1
    )
    changefreq = F.lower(
        F.regexp_extract(
            "__e", r"(?is)<changefreq\s*>\s*(.*?)\s*</changefreq\s*>", 1
        )
    )
    priority = F.regexp_extract(
        "__e", r"(?is)<priority\s*>\s*(.*?)\s*</priority\s*>", 1
    )
    return (
        e.select(
            sitemap_url_col,
            loc.alias("url"),
            F.when(lastmod == "", None).otherwise(lastmod).alias("lastmod"),
            F.when(changefreq == "", None)
            .otherwise(changefreq)
            .alias("changefreq"),
            F.coalesce(
                F.when(priority == "", None)
                .otherwise(priority)
                .cast("double"),
                F.lit(0.5),
            ).alias("priority"),
        )
        .filter(F.col("url") != "")
    )


def frontier_scores(
    history: DataFrame,
    ranks: DataFrame,
    now_ts: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Recrawl frontier prioritization: per URL, combine the three
    signals every production scheduler uses —

        score = rank(host value) * (churn + 0.1) * staleness

    where churn = fraction of recaptures that changed the content
    ((n_versions - 1) / (n_captures - 1), 0 for single-capture URLs:
    measured change propensity from url_history, the signal publisher
    changefreq hints only estimate), staleness = now_ts - last
    valid_from (time units are the caller's capture clock), and rank
    rides a (url, rank) table (pagerank projected to URLs, a host
    rank broadcast to its pages, or any quality prior). High-value
    pages that demonstrably change and haven't been fetched lately
    come first. Staleness enters LINEARLY — a production scheduler
    would damp it (log or cap), but ln is an engine transcendental and
    this module's cross-engine contract allows only exact IEEE ops
    (multiply/divide of exact inputs); cap or bucket staleness upstream
    if damping matters.

    Input `history` is url_history's output (one row per version run).
    Returns (url, n_captures, n_versions, churn, staleness, score),
    score/churn rounded (4dp float contract — products/quotients of
    exact inputs are single IEEE ops, identical in any engine).

    Scale shape: one groupBy(url) over the history table (map-side
    combined, output = one row per url), one join with ranks on url —
    co-partitioned equi-joins on the unique key, no windows, no
    skew."""
    per_url = history.groupBy("url").agg(
        F.sum("n_captures").cast("long").alias("n_captures"),
        F.count("*").cast("long").alias("n_versions"),
        F.max("valid_from").alias("__last_from"),
    )
    churn = F.when(
        F.col("n_captures") > 1,
        (F.col("n_versions") - 1).cast("double")
        / (F.col("n_captures") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    # a now_ts older than the newest capture is clock skew in the
    # caller's snapshot bookkeeping — surface it (ADVICE r8: unguarded,
    # the negative staleness silently INVERTED the frontier ranking),
    # matching the module's bad-input posture (crawl_delta/url_history
    # raise on inconsistent input). Fused raise_error CASE: no extra
    # scan.
    staleness = F.when(
        F.col("__last_from") > F.lit(now_ts),
        F.raise_error(F.lit(
            "frontier_scores: now_ts predates a capture's valid_from — "
            "negative staleness would invert the ranking"
        )).cast("long"),
    ).otherwise((F.lit(now_ts) - F.col("__last_from")).cast("long"))
    return (
        per_url.join(ranks.select("url", rank_col), "url")
        .select(
            "url",
            "n_captures",
            "n_versions",
            F.round(churn, 4).alias("churn"),
            staleness.alias("staleness"),
            F.round(
                F.col(rank_col)
                * (churn + F.lit(0.1))
                * staleness.cast("double"),
                4,
            ).alias("score"),
        )
    )
