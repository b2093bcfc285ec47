"""Corpus-curation operators for LLM training-data pipelines: composable
quality-filter rules (C4/Gopher-style), passage-level boilerplate dedup,
unigram language-model scoring, deterministic sampling (stratified-rate
and exact-k), and concat-then-chunk sequence packing.

These complement textops' scoring/dedup family: quality_score (textops)
RANKS documents, quality_filter_flags here makes the hard KEEP/DROP
decision a curation pipeline actually applies; MinHash/SimHash dedup
(textops) works at document granularity, passage_dedup here removes
repeated boilerplate *within* surviving documents (navigation chrome,
cookie banners, templated footers — the CCNet observation that most crawl
duplication is passage-level, not document-level).

Everything is built-ins only (JVM-side, whole-stage codegen) — no Python
in any hot path — and every operator is value-hash-checked against a
DuckDB oracle through the driver contract (__spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from slowspark.textops import token_grams, word_count, ws_token_array

# the C4 "terrible tiny corpus" stopword rule uses a handful of very
# frequent English words; language_id's per-language tables live in
# textops._STOPWORDS — this set is deliberately tiny and English-only
# because the rule tests "is this running text at all", not "which
# language" (non-English docs should be kept by lang routing, not this)
_FILTER_STOPWORDS = ("the", "a", "to", "of", "and", "in", "that", "with")


def quality_filter_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_digit_ratio: float = 0.3,
    min_stopword_hits: int = 1,
) -> DataFrame:
    """Hard keep/drop quality rules (C4 / Gopher §A1 style), one boolean
    column per rule plus the conjunction `keep` — a curation pipeline
    filters on `keep` and AUDITS per-rule drop rates (each rule column
    aggregates to a drop-reason histogram; a silent composite would hide a
    mis-tuned threshold wiping the corpus).

    Rules (all computed from counts, integer-exact):
      - word count in [min_words, max_words]        (Gopher: 50..100k)
      - mean word length in [min, max]              (Gopher: 3..10)
      - symbol ratio (non-letter/number/ws) <= max  (C4 code/lorem filter)
      - digit ratio <= max
      - >= min_stopword_hits distinct common-English stopwords (C4)

    Script coverage: the symbol rule counts Unicode letters/numbers
    (\\p{L}\\p{N}) as text, so CJK/Cyrillic/Arabic prose does NOT trip it.
    The word-count and mean-word-length rules remain WHITESPACE-segmented
    — an unsegmented script (zh/ja/th) reads as a few enormous "words"
    and fails them, and the stopword rule is English-only by design; a
    multilingual curation run should route documents by language FIRST
    (slowspark.curate's --langs stage / textops.with_language_id) and
    apply this filter to the whitespace-segmented languages only.

    Scale shape: pure narrow projection — no shuffle, no UDF, whole-stage
    codegen end-to-end; at 10^12 docs this is a single scan. Thresholds are
    arguments, defaults tuned DOWN for the synthetic word-salad corpus
    (min_words=20; real Gopher uses 50)."""
    toks = ws_token_array(text_col)
    n_words = F.size(toks)
    n_chars = F.length(text_col)
    # non-whitespace character count: the denominator-free building block
    # for mean word length (sum of token lengths == non-ws chars)
    nonws = F.length(F.regexp_replace(text_col, r"\s+", ""))
    # Unicode letters/numbers, not [A-Za-z0-9]: ASCII-only classes count
    # every non-Latin character as a "symbol" and wipe CJK/Cyrillic/Arabic
    # corpora at this rule. Whitespace is spelled out because the DuckDB
    # oracle (RE2) excludes \x0B from \s while Java includes it.
    symbols = F.length(
        F.regexp_replace(text_col, r"[\p{L}\p{N} \t\n\x0B\f\r]", "")
    )
    digits = F.length(F.regexp_replace(text_col, r"[^0-9]", ""))
    mean_wl = nonws / F.greatest(n_words, F.lit(1))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in _FILTER_STOPWORDS]),
        )
    )
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", F.round(mean_wl, 4))
        .withColumn("symbol_ratio", F.round(symbols / F.greatest(n_chars, F.lit(1)), 4))
        .withColumn("digit_ratio", F.round(digits / F.greatest(n_chars, F.lit(1)), 4))
        .withColumn("stopword_hits", stop_hits)
        .withColumn("rule_word_count",
                    (n_words >= min_words) & (n_words <= max_words))
        .withColumn("rule_mean_word_len",
                    (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len))
        .withColumn("rule_symbol_ratio",
                    symbols / F.greatest(n_chars, F.lit(1)) <= max_symbol_ratio)
        .withColumn("rule_digit_ratio",
                    digits / F.greatest(n_chars, F.lit(1)) <= max_digit_ratio)
        .withColumn("rule_stopwords", stop_hits >= min_stopword_hits)
    )
    return out.withColumn(
        "keep",
        F.col("rule_word_count") & F.col("rule_mean_word_len")
        & F.col("rule_symbol_ratio") & F.col("rule_digit_ratio")
        & F.col("rule_stopwords"),
    )


def passage_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_words: int = 20,
) -> DataFrame:
    """Explode each document into fixed-width word passages:
    (id, passage_idx, passage, passage_md5) — the non-overlapping
    chunk_passages windows of `passage_words` tokens, plus their md5. A
    document with no tokens yields no passages."""
    if passage_words < 1:
        raise ValueError(f"passage_words must be >= 1, got {passage_words}")
    p = chunk_passages(df, passage_words, passage_words, id_col, text_col)
    return p.select(
        id_col,
        F.col("chunk_ix").alias("passage_idx"),
        F.col("chunk_text").alias("passage"),
        F.md5("chunk_text").alias("passage_md5"),
    )


def passage_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_words: int = 20,
    max_docs_per_passage: int = 2,
    with_text: bool = False,
) -> DataFrame:
    """Passage-level boilerplate removal (CCNet-style): drop every passage
    whose exact text occurs in MORE than `max_docs_per_passage` distinct
    documents, reassemble each document from its surviving passages.

    Returns one row per input document: (id, n_passages, n_dropped,
    kept_md5) where kept_md5 = md5 of the surviving passages joined in
    passage order (md5('') when everything was boilerplate — the caller
    decides whether an emptied doc survives). `with_text=True` adds the
    reassembled `kept_text` column itself — the curation-pipeline path
    (slowspark.curate) that REWRITES documents rather than just auditing
    them; the md5-only default keeps the oracle check cheap.

    Scale shape: one explode (positions, O(words/k) rows per doc), one
    groupBy on passage_md5 (32-char key, passages themselves never
    shuffle twice), a left join of the passage table against the (small —
    only hashes above the threshold) boilerplate set, one groupBy doc.
    The boilerplate set is what CCNet materializes per crawl snapshot; at
    10^12 docs it stays broadcastable because passages repeated across
    >k docs are by construction a tiny fraction of distinct passages."""
    from slowspark.util import materialize as _materialize

    # two consumers (the boilerplate groupBy and the flag join) — the
    # explode + per-passage md5 otherwise runs twice (r9)
    p = _materialize(passage_table(df, text_col, id_col, passage_words))
    boiler = (
        p.groupBy("passage_md5")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") > max_docs_per_passage)
        .select("passage_md5")
    )
    flagged = p.join(
        F.broadcast(boiler.withColumn("__boiler", F.lit(True))),
        "passage_md5",
        "left",
    ).withColumn("__drop", F.coalesce("__boiler", F.lit(False)))
    kept_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        ~F.col("__drop"),
                        F.struct("passage_idx", "passage"),
                    )
                )
            ),
            lambda s: s["passage"],
        ),
    )
    aggs = [
        F.count("*").alias("n_passages"),
        F.sum(F.col("__drop").cast("int")).alias("n_dropped"),
        F.md5(kept_text).alias("kept_md5"),
    ]
    if with_text:
        aggs.append(kept_text.alias("kept_text"))
    per_doc = flagged.groupBy(id_col).agg(*aggs)
    # docs whose text was empty produced no passages: surface them with
    # zero counts rather than silently vanishing from the output
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .fillna({"n_passages": 0, "n_dropped": 0})
        .withColumn("kept_md5", F.coalesce("kept_md5", F.md5(F.lit(""))))
    )
    if with_text:
        out = out.withColumn("kept_text", F.coalesce("kept_text", F.lit("")))
    return out


def _bigram_trunk(df, text_col, id_col, model_df):
    """The shared trunk of the bigram LMs (stupid_backoff_logprob,
    kneser_ney_logprob): (toks, pairs, mtoks, big) where toks = (id, tk)
    lowercased whitespace tokens of `df`, pairs = (id, w1, w2) one row per
    bigram position of `df`, mtoks = (tk) tokens of the model corpus
    (`model_df`, or `df` itself when None) and big = (w1, w2, cb) the
    model's bigram counts, one map-side-combined groupBy. Bigrams come
    from the textops.token_grams stream over docs of >= 2 tokens, no
    self-join. Each LM chooses what to materialize."""
    tk = ws_token_array(text_col).alias("tk")

    def bigrams(t, *keep):
        g = F.col("gram")
        return token_grams(t.filter(F.size("tk") >= 2), "tk", 2, *keep).select(
            *keep, g[0].alias("w1"), g[1].alias("w2")
        )

    toks = df.select(F.col(id_col), tk)
    mtoks = (df if model_df is None else model_df).select(tk)
    big = bigrams(mtoks).groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    return toks, bigrams(toks, id_col), mtoks, big


def _bigram_doc_scores(scored, toks, id_col) -> DataFrame:
    """The shared per-doc tail of the bigram LMs: (id, n_bigrams,
    avg_neg_logprob) = avg over the doc's bigram positions of -ln s,
    rounded to 6 (only the avg carries sum-order jitter, under that
    grain), plus one (id, 0, 0.0) row per doc with < 2 tokens."""
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(-F.log("s")), 6).alias("avg_neg_logprob"),
    )
    short = toks.filter(F.size("tk") < 2).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(0.0).alias("avg_neg_logprob"),
    )
    return per_doc.unionByName(short)


def stupid_backoff_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    model_df: DataFrame | None = None,
) -> DataFrame:
    """Stupid Backoff bigram LM scoring (Brants et al. 2007 — the
    web-scale choice: no discount mass bookkeeping, just backoff with a
    fixed penalty, designed exactly for MapReduce-style distributed
    count tables). Per bigram position: S(w2|w1) = count(w1 w2) /
    count(w1) when the bigram was seen, else alpha * count(w2) / N —
    and the document score is avg over its bigram positions of
    -ln S. Upgrades the unigram CCNet signal (unigram_logprob): word
    ORDER now matters, so shuffled or templated text scores worse than
    fluent text with the same token bag.

    The count tables come from `model_df` — the REFERENCE corpus (CCNet
    trains on Wikipedia and scores the crawl); default None self-scores
    like unigram_logprob (then every bigram is in its own table and the
    backoff path never fires — fine as a repetition/stereotypy signal,
    but pass a model corpus for the real LM-filter shape). A word the
    model never saw floors at S = alpha / N (the simple unseen-token
    epsilon; Brants' chain stops at the unigram level).

    Returns (id, n_bigrams, avg_neg_logprob rounded to 6); documents
    with < 2 tokens have no bigram positions and are returned with
    n_bigrams = 0, avg_neg_logprob = 0.0 (nothing to judge — route them
    by the word-count quality rule instead).

    Scale shape: bigrams come from the textops.token_grams stream (no
    self-join); the count tables are one map-side-combined groupBy each;
    scoring is one join of the bigram stream against the bigram table
    (the wide one — shuffle join keyed on the pair; bucket the persisted
    table on the pair at 10^12 tokens) plus two vocabulary-sized unigram
    joins Spark broadcasts when stats allow; then one groupBy(doc).
    S is a ratio of exact integer counts — engine-reproducible; only
    the final avg carries float sum-order jitter, under the round-6
    grain."""
    from slowspark.util import materialize as _materialize

    toks, pairs, mtoks, big = _bigram_trunk(df, text_col, id_col, model_df)
    # vocabulary-sized; materialized because THREE consumers (the total
    # scalar + the cu1/cu2 scoring joins) otherwise each re-run the
    # model tokenize + explode + groupBy (r9)
    uni = _materialize(
        mtoks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    total = uni.agg(F.sum("cu").cast("double").alias("N"))
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")),
            "w1", "left",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")),
            "w2", "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.when(
                F.col("cb").isNotNull(),
                F.col("cb").cast("double") / F.col("cu1").cast("double"),
            )
            .otherwise(
                F.lit(float(alpha))
                * F.coalesce(F.col("cu2"), F.lit(1)).cast("double")
                / F.col("N")
            )
            .alias("s"),
        )
    )
    return _bigram_doc_scores(scored, toks, id_col)


def kneser_ney_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float | None = 0.75,
    model_df: DataFrame | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
    Chen & Goodman 1998 §2.7) — the properly-smoothed sibling of
    stupid_backoff_logprob. CCNet's filter uses a real smoothed LM;
    stupid backoff's fixed-alpha unigram fallback mis-ranks docs whose
    bigrams are unseen but whose words are versatile connectors (the
    "San Francisco" problem: "francisco" is frequent but follows only
    "san", so it should get LITTLE unseen-context mass). KN fixes this
    by backing off to the CONTINUATION probability — how many distinct
    contexts a word follows — not raw frequency:

      P(w2|w1) = max(c(w1 w2) - D, 0) / c(w1 .)
                 + (D * N1+(w1 .) / c(w1 .)) * Pc(w2)
      Pc(w2)   = N1+(. w2) / B

    where c(w1 .) = total bigram occurrences starting with w1 (the
    technically-correct KN denominator — NOT the unigram count, which
    overcounts document-final tokens), N1+(w1 .) / N1+(. w2) = distinct
    continuation / context type counts, and B = total distinct bigram
    types. For a seen context this sums to exactly 1 over the seen
    continuation vocabulary (pinned by a normalization test). Unseen
    context (c(w1 .) = 0, including unseen w1): pure continuation
    Pc(w2); unseen w2 floors at Pc = 1/B (the same coalesce-to-1
    epsilon convention as the stupid-backoff sibling).

    `discount`: the absolute discount D in (0, 1); None estimates it
    from the model's bigram count-of-counts as D = n1 / (n1 + 2*n2)
    (Ney et al. 1994 — closed-form, so the estimate itself is inside
    the DuckDB oracle's value hash), falling back to 0.75 when the
    model has no singleton/doubleton bigrams to estimate from.
    `model_df` is the REFERENCE corpus (CCNet trains on Wikipedia and
    scores the crawl); default None self-scores.

    Returns (id, n_bigrams, avg_neg_logprob rounded to 6) — the same
    shape as stupid_backoff_logprob, so it plugs straight into
    perplexity_buckets(scored=...) and curate's --ppl-scorer; documents
    with < 2 tokens return n_bigrams = 0, avg_neg_logprob = 0.0.

    Scale shape: the stupid-backoff sibling's trunk (_bigram_trunk) plus two
    bounded aggregates — the bigram table is computed once and reused
    for the forward/backward type counts (both map-side-combined
    groupBys over the already-aggregated bigram TYPES, not the token
    stream) and a 1-row scalar aggregate (B, n1, n2) that is broadcast;
    scoring is one shuffle join on the pair plus two type-count joins
    Spark broadcasts when stats allow, then one groupBy(doc). Every
    per-position probability is a fixed-order IEEE expression over
    exact integer counts; only the final avg carries sum-order jitter,
    under the round-6 grain."""
    from slowspark.util import materialize as _materialize

    if discount is not None and not (0.0 < float(discount) < 1.0):
        raise ValueError(
            f"kneser_ney_logprob: discount must be in (0, 1), got {discount}"
        )
    toks, pairs, _, big = _bigram_trunk(df, text_col, id_col, model_df)
    # bigram-TYPE-sized (the model itself); materialized because
    # FOUR consumers (fw, bw, the (B, n1, n2) scalar, and the scoring
    # join) would otherwise each re-run the model tokenize + bigram
    # groupBy
    big = _materialize(big)
    fw = big.groupBy("w1").agg(
        F.count("*").alias("nf"), F.sum("cb").alias("cfw")
    )
    bw = big.groupBy("w2").agg(F.count("*").alias("nb"))
    scal = big.agg(
        F.count("*").cast("double").alias("B"),
        F.sum((F.col("cb") == 1).cast("long")).alias("n1"),
        F.sum((F.col("cb") == 2).cast("long")).alias("n2"),
    )
    if discount is not None:
        d_expr = F.lit(float(discount))
    else:
        d_expr = F.when(
            (F.col("n1") + 2 * F.col("n2")) > 0,
            F.col("n1").cast("double")
            / (F.col("n1") + 2 * F.col("n2")).cast("double"),
        ).otherwise(F.lit(0.75))
    pc = F.coalesce(F.col("nb"), F.lit(1)).cast("double") / F.col("B")
    seen = (
        F.greatest(F.coalesce(F.col("cb"), F.lit(0)).cast("double") - d_expr,
                   F.lit(0.0))
        / F.col("cfw").cast("double")
        + ((d_expr * F.col("nf").cast("double"))
           / F.col("cfw").cast("double")) * pc
    )
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(fw, "w1", "left")
        .join(bw, "w2", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            id_col,
            F.when(F.col("cfw").isNotNull(), seen).otherwise(pc).alias("s"),
        )
    )
    return _bigram_doc_scores(scored, toks, id_col)


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-unigram negative log-likelihood per document — the cheap
    LM-quality signal (CCNet ranks crawl text by LM perplexity; a unigram
    model over the corpus itself is the degenerate-but-useful version that
    needs no external model): score = avg over tokens of -ln p(token),
    p(token) = corpus_tf / corpus_total. Low score = stereotypical text,
    high = rare-token-heavy (gibberish, boilerplate IDs, non-language).

    Returns (id, n_tokens, avg_neg_logprob rounded to 4).

    Scale shape: one explode to (doc, term) rows, one groupBy(term) for
    the TF table, one join back on term, one groupBy(doc). The TF table
    is vocabulary-sized (Heaps' law: ~10^7-10^8 terms at web scale, far
    smaller than the token table) — Spark picks broadcast vs shuffle join
    from stats; the algebraic identity avg(-ln p) = ln(total) - avg(ln tf)
    means the scalar total joins as a literal, not a cross join of rows."""
    toks = df.select(id_col, F.explode(ws_token_array(text_col)).alias("term"))
    from slowspark.util import materialize as _materialize

    # vocabulary-sized; two consumers (the total scalar + the scoring
    # join) otherwise each re-run the tokenize + groupBy (r9)
    tf = _materialize(toks.groupBy("term").agg(F.count("*").alias("tf")))
    total = tf.agg(F.sum("tf").alias("total"))
    per_doc = (
        toks.join(tf, "term")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.log("tf")).alias("__avg_ln_tf"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(total))
        .withColumn(
            "avg_neg_logprob",
            F.round(F.log("total") - F.col("__avg_ln_tf"), 4),
        )
        .select(id_col, "n_tokens", "avg_neg_logprob")
    )


def _md5_bucket(id_col: str, salt: str, buckets: int):
    """The sampling bucket expression shared by hash_sample and
    repeat_sample: md5(id || salt)'s first 8 hex digits as an integer,
    mod buckets. ONE definition on purpose — repeat_sample's documented
    selection-identity with hash_sample for rates <= 1 holds only while
    both read the same buckets."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % buckets
    )


def _half_up_threshold(rate: float, buckets: int) -> int:
    """floor(rate * buckets + 0.5): the shared half-up integer threshold
    (Python round() is banker's rounding — it sent exact half-bucket
    rates to 0)."""
    import math

    return int(math.floor(float(rate) * buckets + 0.5))


def hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    md5(id || salt)-derived bucket < rate(stratum) * buckets.

    Why not df.sample(): rand()-based sampling is neither reproducible
    across retries/stage replays (a recomputed partition draws different
    rows — silently corrupts an eval holdout) nor consistent across runs.
    Hash-bucketing is a pure projection of the row itself: the same doc
    lands in the same split in every run, every retry, every engine —
    and the SAME salt carves the same holdout out of next month's crawl.

    Per-stratum rates (e.g. downsample English, keep all of a low-resource
    language) are a literal CASE expression — no join, no shuffle, a
    single codegen'd scan at any scale. Bucket granularity = 1/buckets.

    The cutoff is an INTEGER threshold computed once in Python
    (round(rate * buckets)), never `bucket < rate * buckets` in double
    arithmetic: 0.1 * 10000 = 1000.0000000000001 in binary floating
    point, which admits bucket 1000 — an off-by-1/buckets effective rate
    that silently diverges from any engine evaluating the product
    exactly. Integer-vs-integer comparison is reproducible everywhere.
    Rounding is half-up (floor(x + 0.5)), not Python round(): banker's
    rounding sends an exact half-bucket rate (0.05 at buckets=10) to 0.
    A positive rate whose threshold still lands on 0 — below half-bucket
    granularity — raises instead of silently sampling nothing (the
    no-silent-drops convention); raise `buckets` to express finer rates."""
    if not (0 < buckets):
        raise ValueError(f"buckets must be positive, got {buckets}")
    for k, v in {**rates, "default": default_rate}.items():
        if not (0.0 <= v <= 1.0):
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")

    def _thr(name: str, rate: float) -> int:
        t = _half_up_threshold(rate, buckets)
        if rate > 0.0 and t == 0:
            raise ValueError(
                f"hash_sample: rate {rate} for {name!r} is below "
                f"half-bucket granularity at buckets={buckets} (threshold "
                f"0 would silently sample nothing); raise buckets"
            )
        return t

    bucket = _md5_bucket(id_col, salt, buckets)
    thr = F.lit(_thr("default", default_rate))
    for stratum, r in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(_thr(stratum, r))
        ).otherwise(thr)
    return (
        df.withColumn("__bucket", bucket)
        .filter(F.col("__bucket") < thr)
        .drop("__bucket")
    )


def holdout_split(
    df: DataFrame,
    val_frac: float,
    group_col: str,
    salt: str = "",
    buckets: int = 10_000,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val holdout: adds `out_col` ('val'/'train') as
    a pure function of md5(group || salt) — every row of a GROUP (a URL
    host, a source, a repo) lands on the same side, so near-duplicates
    that cluster within a group can never straddle the split and leak
    eval content into training. Splitting on the row id instead (what
    df.randomSplit does) puts page 1 of a boilerplate-heavy site in val
    and its 99%-identical page 2 in train — the classic silently-inflated
    eval. Group-level assignment is the published fix (e.g. URL-level
    splits in C4/The Pile eval hygiene).

    Same determinism contract as hash_sample: the identical salt carves
    the identical holdout out of next month's crawl, across runs, stage
    retries, and engines. Same integer-threshold arithmetic (half-up, no
    double rate*buckets), same raise-below-granularity rule. A NULL group
    key raises inside the projection (raise_error CASE — no extra
    validation pass, no silent misrouting to a 'null' group).

    Scale shape: a single codegen'd projection — no shuffle, no join; the
    split column is computed where the row already lives. val share is
    val_frac of GROUPS (by hash mass), not of rows: a skewed group (one
    giant domain) moves wholesale, which is exactly the point."""
    if not (0.0 < val_frac < 1.0):
        raise ValueError(f"val_frac must be in (0, 1), got {val_frac}")
    thr = _half_up_threshold(val_frac, buckets)
    if thr == 0:
        raise ValueError(
            f"holdout_split: val_frac {val_frac} is below half-bucket "
            f"granularity at buckets={buckets} (threshold 0 would make "
            f"the holdout empty); raise buckets"
        )
    bucket = _md5_bucket(group_col, salt, buckets)
    return df.withColumn(
        out_col,
        F.when(
            F.col(group_col).isNull(),
            F.raise_error(F.lit(
                f"holdout_split: NULL {group_col} — a null group key "
                f"cannot be assigned a leakage-safe side"
            )),
        ).when(bucket < thr, F.lit("val")).otherwise(F.lit("train")),
    )


def dataset_card(
    df: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
    source_col: str | None = "source",
) -> DataFrame:
    """Per-stratum dataset-card statistics — the audit table every
    released corpus ships (doc/source/token tallies, length envelope,
    exact-duplicate mass) — fused into ONE aggregation pass:

      n_docs, n_sources (distinct source_col; omitted when None),
      n_tokens (whitespace), avg_tokens (4dp), min_tokens, max_tokens,
      n_distinct_texts (distinct md5(text)),
      n_exact_dup_docs = n_docs - n_distinct_texts (rows that would
      fall to exact dedup — the card says it BEFORE the pipeline runs).

    Scale shape: one groupBy(stratum) over projected narrow columns
    (token count + md5 computed in the scan projection; text itself
    never shuffles); the two count-distincts ride the same shuffle via
    Spark's expand (each input row becomes 3 — acceptable for a card;
    the alternative, two passes, reads the corpus twice). Output is
    stratum-cardinality rows. NULL strata are kept under the stratum
    value '__null__' — a card that silently drops rows is not an
    audit."""
    toks = word_count(text_col)
    keyed = df.select(
        F.coalesce(F.col(stratum_col).cast("string"), F.lit("__null__"))
        .alias("stratum"),
        toks.alias("__t"),
        F.md5(text_col).alias("__h"),
        *([F.col(source_col).alias("__s")] if source_col else []),
    )
    aggs = [
        F.count("*").alias("n_docs"),
        *([F.countDistinct("__s").alias("n_sources")] if source_col else []),
        F.sum("__t").alias("n_tokens"),
        F.round(F.avg("__t"), 4).alias("avg_tokens"),
        F.min("__t").alias("min_tokens"),
        F.max("__t").alias("max_tokens"),
        F.countDistinct("__h").alias("n_distinct_texts"),
    ]
    return keyed.groupBy("stratum").agg(*aggs).withColumn(
        "n_exact_dup_docs", F.col("n_docs") - F.col("n_distinct_texts")
    )


def mixture_rates(
    df: DataFrame,
    target_props: dict[str, float],
    stratum_col: str = "lang",
    text_col: str = "text",
    target_tokens: int | None = None,
    allow_upsample: bool = False,
) -> tuple[dict[str, float], float]:
    """Per-stratum keep-rates that sample `df` into a target token
    MIXTURE — the domain-mix step of a pretraining pipeline ("60% en,
    30% de, 10% code"): the mixture is a TOKEN budget split by the given
    proportions, and each stratum's rate is whatever fraction of its
    measured tokens meets its share. Returns (rates, achieved_tokens)
    for corpus.hash_sample (deterministic md5-bucket sampling — the same
    docs land in the mixture in every run/retry/engine).

    `target_tokens=None` (default) uses the LARGEST achievable budget:
    T = min over strata of tokens_s / p_s — the binding stratum samples
    at rate 1.0 and every other stratum downsamples to proportion. An
    explicit `target_tokens` above that maximum raises (a mixture that
    silently under-delivers its scarcest domain is the failure mode this
    guard exists for) — UNLESS `allow_upsample=True`, the repetition
    regime: rates may exceed 1.0 and scarce strata repeat (feed the
    rates to repeat_sample, NOT hash_sample, which cannot express a
    rate > 1); its default budget is the listed strata's TOTAL token
    mass (a corpus-size-preserving remix — e.g. "keep the same token
    count, but make it 40% code": abundant strata downsample, scarce
    ones repeat, the classic multi-epoch-Wikipedia recipe).
    Strata in `target_props` with NO rows raise in both regimes
    (repetition of nothing is still nothing); strata in the data but
    absent from `target_props` get rate 0 (an intentional drop, like
    hash_sample's default_rate=0).

    Scale shape: ONE aggregate over (stratum, token-count) — token
    counting is the textops.word_count expression of the token_count
    op — then pure driver arithmetic on a
    strata-cardinality-sized table. Achieved tokens are exact in
    expectation; per-stratum granularity is hash_sample's 1/buckets."""
    import math

    if not target_props:
        raise ValueError("mixture_rates: target_props must be non-empty")
    for s, p in target_props.items():
        if p <= 0:
            raise ValueError(
                f"mixture_rates: proportion for {s!r} must be > 0, got {p}"
            )
    total_p = float(sum(target_props.values()))
    props = {s: float(p) / total_p for s, p in target_props.items()}

    counts = _stratum_token_counts(
        df.filter(F.col(stratum_col).isin(list(props))), stratum_col, text_col
    )
    missing = sorted(set(props) - set(counts))
    if missing:
        raise ValueError(
            f"mixture_rates: strata {missing} in target_props have no rows "
            f"— the mixture cannot deliver their share (upsample/repeat is "
            f"a different operator)"
        )
    # a stratum whose text is all NULL or empty/whitespace counts 0
    # tokens — "cannot deliver any tokens" gets the same loud error as a
    # missing stratum (a raw
    # ZeroDivisionError here would violate the fail-loudly convention)
    empty = sorted(s for s in props if not counts[s])
    if empty:
        raise ValueError(
            f"mixture_rates: strata {empty} in target_props have rows but "
            f"zero tokens — the mixture cannot deliver their share"
        )
    t_max = min(counts[s] / props[s] for s in props)
    if target_tokens is None:
        t = float(sum(counts.values())) if allow_upsample else t_max
    elif target_tokens > t_max and not allow_upsample:
        binding = min(props, key=lambda s: counts[s] / props[s])
        raise ValueError(
            f"mixture_rates: target_tokens={target_tokens} exceeds the "
            f"maximum achievable mixture {math.floor(t_max)} (binding "
            f"stratum {binding!r}: {counts[binding]} tokens / "
            f"proportion {props[binding]:.4f}); pass allow_upsample=True "
            f"for the repetition regime (rates > 1, repeat_sample)"
        )
    else:
        t = float(target_tokens)
    rates = {s: props[s] * t / counts[s] for s in props}
    if not allow_upsample:
        # the binding stratum's rate is (c/p)*p/c, which float64 can round
        # to 1.0 + 1 ulp — clamp so hash_sample's [0, 1] validation never
        # rejects a feasible mixture on data-dependent token counts
        rates = {s: min(1.0, r) for s, r in rates.items()}
    return rates, t


def mixture_sample(
    df: DataFrame,
    target_props: dict[str, float],
    stratum_col: str = "lang",
    text_col: str = "text",
    target_tokens: int | None = None,
    id_col: str = "doc_id",
    salt: str = "",
    buckets: int = 10_000,
) -> DataFrame:
    """mixture_rates composed with hash_sample: deterministically sample
    `df` into the target token mixture. Strata not in `target_props` are
    dropped (rate 0). Two jobs total: one token-count aggregate, one
    narrow filtered scan — nothing shuffles."""
    rates, _ = mixture_rates(
        df, target_props, stratum_col, text_col, target_tokens
    )
    return hash_sample(
        df, rates, default_rate=0.0, id_col=id_col,
        stratum_col=stratum_col, salt=salt, buckets=buckets,
    )


def repeat_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "",
    buckets: int = 10_000,
    out_col: str = "repeat_ix",
) -> DataFrame:
    """Deterministic fractional OVER/under-sampling: each row lands
    floor(rate) or ceil(rate) times — floor(rate) guaranteed copies plus
    one more iff the row's md5(id || salt) bucket clears the fractional
    part's threshold. Emits `out_col` (0-based repeat index) so
    downstream stages (packing, shuffling) can key on (id, repeat_ix)
    instead of colliding on the repeated id. For every rate <= 1 the
    selected row set is IDENTICAL to hash_sample's (same threshold
    arithmetic: floor(frac * buckets + 0.5), integer compare) — this is
    hash_sample's strict generalization, and the operator the
    allow_upsample mixture regime feeds.

    Same no-silent-drops rule as hash_sample: a positive rate whose
    floor AND fractional threshold are both zero raises (it would
    silently emit nothing); rate 0.0 is an intentional drop. The same
    doc repeats in every run/retry/engine — repetition is part of the
    dataset definition, not a runtime accident.

    Scale shape: one narrow projection + explode(sequence(0, copies-1));
    no shuffle, no UDF. Expected output tokens per stratum =
    rate * stratum tokens, exact to hash_sample's 1/buckets
    granularity."""
    import math

    if not (0 < buckets):
        raise ValueError(f"buckets must be positive, got {buckets}")
    for s, v in {**rates, "default": default_rate}.items():
        if v < 0.0:
            raise ValueError(f"rate for {s!r} must be >= 0, got {v}")

    def _parts(name: str, rate: float) -> tuple[int, int]:
        n_full = int(math.floor(float(rate)))
        # fractional part through the SHARED half-up helper: the
        # selection-identity with hash_sample for rates <= 1 depends on
        # both using the same threshold arithmetic
        frac_thr = _half_up_threshold(float(rate) - n_full, buckets)
        if rate > 0.0 and n_full == 0 and frac_thr == 0:
            raise ValueError(
                f"repeat_sample: rate {rate} for {name!r} is below "
                f"half-bucket granularity at buckets={buckets} (it would "
                f"silently emit nothing); raise buckets"
            )
        return n_full, frac_thr

    bucket = _md5_bucket(id_col, salt, buckets)
    d_full, d_thr = _parts("default", default_rate)
    full = F.lit(d_full)
    thr = F.lit(d_thr)
    for stratum, r in sorted(rates.items()):
        n_full, frac_thr = _parts(stratum, r)
        cond = F.col(stratum_col) == stratum
        full = F.when(cond, F.lit(n_full)).otherwise(full)
        thr = F.when(cond, F.lit(frac_thr)).otherwise(thr)
    copies = full + (F.col("__bucket") < thr).cast("int")
    return (
        df.withColumn("__bucket", bucket)
        .withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn(
            out_col,
            F.explode(F.expr("sequence(0, __copies - 1)")),
        )
        .drop("__bucket", "__copies")
    )


def _stratum_token_counts(
    df: DataFrame, stratum_col: str, text_col: str
) -> dict[str, int]:
    """(stratum -> whitespace-token count) — ONE aggregate over the
    corpus, result bounded by the stratum cardinality (the
    mixture_rates discipline). NULL strata are excluded (a sampler
    cannot name a rate for them; route or fill the column first)."""
    return {
        r["s"]: int(r["t"] or 0)
        for r in df.filter(F.col(stratum_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("s"))
        .agg(F.sum(word_count(text_col)).alias("t"))
        .collect()
    }


def temperature_mixture_props(
    df: DataFrame,
    temperature: float,
    stratum_col: str = "lang",
    text_col: str = "text",
) -> dict[str, float]:
    """Temperature-scaled domain proportions (the multilingual-T5 /
    XLM-R sampling rule): p_s proportional to (token share)^(1/T).
    T=1 reproduces the corpus's natural proportions; T -> infinity
    flattens toward uniform — the standard knob for boosting
    low-resource domains without hand-writing a mixture. Feed the
    result to mixture_rates / mixture_sample (which then derive
    keep-rates and the achievable token budget from the SAME measured
    counts).

    Scale shape: one stratum-cardinality aggregate + driver arithmetic
    on that tiny table — identical cost to mixture_rates' own count
    pass."""
    if temperature <= 0:
        raise ValueError(
            f"temperature_mixture_props: temperature must be > 0, "
            f"got {temperature}"
        )
    counts = _stratum_token_counts(df, stratum_col, text_col)
    counts = {s: t for s, t in counts.items() if t > 0}
    if not counts:
        raise ValueError(
            "temperature_mixture_props: no stratum has any tokens"
        )
    total = float(sum(counts.values()))  # integer counts: exact any order
    scaled = {
        s: (t / total) ** (1.0 / float(temperature))
        for s, t in sorted(counts.items())
    }
    # float sum in SORTED-stratum order: engine-reproducible (the DuckDB
    # oracle mirrors it with sum(... ORDER BY stratum))
    z = 0.0
    for s in sorted(scaled):
        z += scaled[s]
    return {s: v / z for s, v in sorted(scaled.items())}


def unimax_rates(
    df: DataFrame,
    total_budget: int,
    max_epochs: float = 1.0,
    stratum_col: str = "lang",
    text_col: str = "text",
) -> tuple[dict[str, float], dict[str, float]]:
    """UniMax budget allocation (Chung et al. 2023): split a total
    token budget across strata as UNIFORMLY as possible subject to a
    per-stratum epoch cap (no stratum repeats more than `max_epochs`
    times) — the principled alternative to temperature tuning for
    multilingual budgets. Water-filling over the stratum-cardinality
    count table: visit strata by ascending capacity (tokens *
    max_epochs); each receives min(capacity, remaining/strata_left).
    Returns (rates, budgets): rates = allocated/available tokens per
    stratum (may exceed 1 when max_epochs > 1 — feed repeat_sample,
    which unimax_sample does), budgets = the allocated token counts.

    Raises when total_budget exceeds the total capacity (an allocation that
    silently under-delivers is the mixture_rates failure mode), and on
    non-positive budget/epochs.

    Scale shape: one aggregate bounded by stratum cardinality + driver
    arithmetic over that table (sorted once) — no second corpus pass."""
    if total_budget <= 0:
        raise ValueError(
            f"unimax_rates: total_budget must be > 0, got {total_budget}"
        )
    if max_epochs <= 0:
        raise ValueError(
            f"unimax_rates: max_epochs must be > 0, got {max_epochs}"
        )
    counts = _stratum_token_counts(df, stratum_col, text_col)
    counts = {s: t for s, t in counts.items() if t > 0}
    if not counts:
        raise ValueError("unimax_rates: no stratum has any tokens")
    caps = {s: float(t) * float(max_epochs) for s, t in counts.items()}
    cap_total = sum(caps.values())
    if total_budget > cap_total:
        raise ValueError(
            f"unimax_rates: total_budget={total_budget} exceeds the "
            f"capacity {cap_total:.0f} at max_epochs={max_epochs} "
            f"(raise max_epochs or shrink the budget)"
        )
    budgets = _waterfill(caps, float(total_budget))
    rates = {s: budgets[s] / counts[s] for s in counts}
    return dict(sorted(rates.items())), dict(sorted(budgets.items()))


def _waterfill(caps: dict[str, float], budget: float) -> dict[str, float]:
    """Max-min fair allocation of `budget` under per-key caps — the
    UniMax core, pure so the property tests can hammer it without a
    SparkSession. Closed-form water level (engine-reproducible
    arithmetic: the level is computed ONCE from the capped prefix, never
    by sequential subtraction — (B - c1) - c2 and B - (c1 + c2) round
    differently, and the DuckDB oracle recomputes this with a window
    prefix sum): visit caps ascending; keys are capped while cap <=
    level_i = (B - cap_prefix_{i-1}) / keys_left; after the first
    uncapped key the level is CONSTANT and everyone remaining shares
    it."""
    budgets: dict[str, float] = {}
    ordered = sorted(caps, key=lambda s: (caps[s], s))
    cap_prefix = 0.0
    level: float | None = None
    for i, s in enumerate(ordered):
        if level is None:
            lvl = (budget - cap_prefix) / (len(ordered) - i)
            if caps[s] <= lvl:
                budgets[s] = caps[s]
                cap_prefix += caps[s]
                continue
            level = lvl
        budgets[s] = level
    return budgets


def unimax_sample(
    df: DataFrame,
    total_budget: int,
    max_epochs: float = 1.0,
    stratum_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
    buckets: int = 10_000,
    out_col: str = "repeat_ix",
) -> DataFrame:
    """unimax_rates composed with repeat_sample: deterministically
    realize the UniMax allocation. Always emits `out_col` (0-based
    repeat index) — for rates <= 1 (max_epochs=1) every row appears at
    most once with out_col=0 and the selected set is IDENTICAL to
    hash_sample's at the same rates (repeat_sample's documented
    selection identity); with max_epochs > 1 scarce strata repeat
    deterministically. Two jobs total: one token-count aggregate, one
    narrow filtered scan."""
    rates, _budgets = unimax_rates(
        df, total_budget, max_epochs, stratum_col, text_col
    )
    return repeat_sample(
        df, rates, default_rate=0.0, id_col=id_col,
        stratum_col=stratum_col, salt=salt, buckets=buckets,
        out_col=out_col,
    )


def exact_k_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "",
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sampling: rank each stratum's
    rows by md5(id || salt) and keep the first k. The hash order is a
    reproducible shuffle of each stratum — the same rows win in every run
    and engine (hash_sample gives reproducible RATES; this gives
    reproducible exact COUNTS, e.g. 10k eval docs per language).

    Scale shape: one shuffle on the stratum key + a per-stratum window
    rank. Strata are languages/sources (small cardinality, large groups):
    per-group ranking parallelizes across strata, and a skewed stratum is
    bounded by the same AQE skew handling as any hot groupBy key."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rank_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(stratum_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing (GPT-style pretraining layout):
    documents are concatenated in `id_col` order and cut into fixed
    `seq_len`-token training sequences; returns per doc (id, n_tokens,
    seq_id, seq_offset) — the sequence its first token lands in and the
    offset within it (a doc may straddle into following sequences;
    end_seq_id = (start + n_tokens - 1) div seq_len).

    The naive formulation — sum(n_tokens) OVER (ORDER BY id) — is a
    GLOBAL window: Spark plans it as a shuffle of every row into ONE
    partition, the canonical scale-killer. This implements the classic
    two-phase distributed prefix sum instead:

      1. repartitionByRange(id) so partition p holds an id range wholly
         below partition p+1's;
      2. intra-partition exclusive cumsum via a window PARTITIONED by the
         range-partition id (parallel across partitions);
      3. per-partition token totals (map-side-combined aggregate, one row
         per partition) -> exclusive offsets via a window over that TINY
         table -> broadcast back.

    All integer arithmetic (token counts, div/mod) — no float rounding at
    any corpus size (double-precision floor() would silently misplace
    sequences past 2^53 total tokens; ~10^14 tokens is a realistic
    pretraining corpus).

    `n_tokens_col` switches the unit from whitespace tokens (computed
    here from text_col) to a PRECOMPUTED per-row count — e.g.
    bpe.bpe_segment's n_tokens, so the packed layout is in tokenizer
    subwords, the unit the training loader actually consumes."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    from pyspark.sql import Window

    n_tokens = (
        F.col(n_tokens_col).cast("long") if n_tokens_col else word_count(text_col)
    )
    base = df.select(F.col(id_col), n_tokens.alias("n_tokens"))
    from slowspark.util import materialize

    ranged = (
        base.repartitionByRange(n_partitions, id_col)
        if n_partitions
        else base.repartitionByRange(id_col)
    ).withColumn("__pid", F.spark_partition_id())
    # MATERIALIZED before branching: both the intra-partition cumsum and
    # the per-partition totals read __pid, and spark_partition_id() is
    # nondeterministic — if the range exchange recomputed independently
    # for the two subtrees (sampled boundaries can differ run to run),
    # the pids would disagree and the offsets silently misplace every
    # sequence. Truncating lineage pins one partitioning for both reads.
    ranged = materialize(ranged)
    w_intra = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = ranged.withColumn(
        "__cum", F.sum("n_tokens").over(w_intra).cast("long")
    )
    totals = ranged.groupBy("__pid").agg(
        F.sum("n_tokens").cast("long").alias("__ptotal")
    )
    w_off = (
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__offset", F.coalesce(F.sum("__ptotal").over(w_off), F.lit(0)).cast("long")
    ).select("__pid", "__offset")
    start = F.col("__offset") + F.col("__cum") - F.col("n_tokens")
    return (
        intra.join(F.broadcast(offsets), "__pid")
        .withColumn("__start", start)
        .select(
            id_col,
            "n_tokens",
            F.expr(f"__start div {int(seq_len)}").alias("seq_id"),
            (F.col("__start") % seq_len).alias("seq_offset"),
        )
    )


def pack_bins(
    df: DataFrame,
    seq_len: int = 4096,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Whole-document bin packing — the alternative to pack_sequences
    for loaders that must NOT split a document across training
    sequences (no cross-document attention contamination, no mid-doc
    truncation): documents are assigned to deterministic shards
    (md5-bucket of id, the hash_sample discipline), and within each
    shard packed NEXT-FIT in id order — a doc joins the current bin
    when it fits, else opens a new one. A doc longer than seq_len gets
    a bin of its own with `truncated = true` (the loader decides what
    to do with it; silently splitting would defeat the operator's
    contract).

    Returns (id, shard, bin_ix, bin_offset, n_tokens, truncated):
    bin_ix is shard-local (global bin identity = (shard, bin_ix)),
    bin_offset the doc's start inside its bin.

    Why next-fit and why sharded: packing is inherently sequential —
    bin state threads through the document stream — so the scalable
    formulation is the one real loaders use: parallel across shards,
    sequential within. Next-fit is the deterministic O(n) member of
    the family (first-fit-decreasing packs ~10% tighter but needs
    random access to open bins); shard count scales the parallelism
    and the same md5 assignment reproduces the same bins across runs,
    stage retries, and engines.

    Scale shape: one shuffle (groupBy shard), one applyInArrow pass
    per shard doing the O(rows/shard) fold over narrow (id, tokens)
    rows — text never enters the shuffle; no window over the corpus,
    no driver state. Output row count == input row count (no silent
    drops)."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from slowspark.util import arrow_batch

    if seq_len < 1:
        raise ValueError(f"pack_bins: seq_len must be >= 1, got {seq_len}")
    if n_shards < 1:
        raise ValueError(
            f"pack_bins: n_shards must be >= 1, got {n_shards}"
        )
    toks = F.col(n_tokens_col) if n_tokens_col else word_count(text_col)
    keyed = df.select(
        F.col(id_col).alias("id"),
        toks.cast("long").alias("n_tokens"),
        _md5_bucket(id_col, salt, n_shards).alias("shard"),
    )

    schema = StructType.fromDDL(
        "id long, shard long, n_tokens long, bin_ix long,"
        " bin_offset long, truncated boolean"
    )

    def pack_shard(key, table):
        table = table.sort_by("id")
        bins, offs, trunc = [], [], []
        bin_ix, fill = -1, seq_len  # force a new bin for the first doc
        for t in table.column("n_tokens").to_pylist():
            if t > seq_len:
                bin_ix += 1
                bins.append(bin_ix)
                offs.append(0)
                trunc.append(True)
                fill = seq_len  # bin is full: nothing joins it
            elif fill + t <= seq_len and bin_ix >= 0:
                # bin_ix guard: a zero-token first doc must still open
                # bin 0, not land in the sentinel "no bin yet" state
                bins.append(bin_ix)
                offs.append(fill)
                trunc.append(False)
                fill += t
            else:
                bin_ix += 1
                bins.append(bin_ix)
                offs.append(0)
                trunc.append(False)
                fill = t
        packed = arrow_batch(schema, [
            table.column("id"), table.column("shard"),
            table.column("n_tokens"), bins, offs, trunc,
        ])
        return pa.Table.from_batches([packed])

    return (
        keyed.groupBy("shard")
        .applyInArrow(pack_shard, schema=schema)
        .withColumnRenamed("id", id_col)
    )


def weighted_sample_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "0",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, probabilities proportional
    to `weight_col` — Efraimidis & Spirakis 2006 via the Gumbel-max
    equivalence: key_i = ln(w_i) + Gumbel_i, take the top k keys. One
    distributed-rank pass — no sequential draws, no rejection loop, the
    one-shot formulation that parallelizes (drawing k times from a
    10^12-row distribution is inherently serial; ranking a per-row key
    is not). The Gumbel is the repo's deterministic md5 draw
    (dsir.gumbel_noise): same seed, same sample, every engine — a new
    seed is a fresh independent sample (the epoch convention of
    training_shuffle).

    Rows with weight <= 0 can never be selected (they raise — a silent
    zero-probability row in a sampler is the hash_sample silent-drop
    lesson). The guard is FUSED into the keyed projection as a
    raise_error CASE rather than a separate pre-scan: a standalone
    driver-side first-bad-row probe costs a full extra corpus pass on
    the normal all-positive input (and a full recompute when the
    weight column is derived, e.g. dsir_log_weights) — 2x sampler cost
    at 100 TB for a validation that can ride the ranking pass for free.
    Returns the selected rows + (sample_key rounded 6, sample_rank
    0-based); ranking uses the ROUNDED key with id tie-break, so the
    selected SET is engine-stable (the dsir_topk rounding
    discipline)."""
    if k < 1:
        raise ValueError(f"weighted_sample_k: k must be >= 1, got {k}")
    from slowspark.dsir import gumbel_noise

    w = F.col(weight_col).cast("double")
    checked_w = F.when(
        w <= 0,
        F.raise_error(
            F.concat(
                F.lit(
                    "weighted_sample_k: non-positive weight for id "
                ),
                F.col(id_col).cast("string"),
                F.lit(
                    " — zero-probability rows must be filtered "
                    "explicitly, not silently never-sampled"
                ),
            )
        ).cast("double"),
    ).otherwise(w)
    keyed = df.withColumn(
        "sample_key",
        F.round(F.log(checked_w) + gumbel_noise(id_col, seed), 6),
    ).withColumn("__neg_key", -F.col("sample_key"))
    ranked = _distributed_rank(
        keyed, order_cols=["__neg_key", id_col], rank_col="sample_rank"
    )
    return ranked.filter(F.col("sample_rank") < k).drop("__neg_key")


def sequence_spans(
    packed: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-sequence document spans from a pack_sequences layout — the
    manifest a training loader consumes for cross-document attention
    masking: every training sequence needs to know which token ranges
    belong to which document so attention does not bleed across
    concatenation boundaries (the "document masking" in Llama-style
    pretraining).

    Input: (id, n_tokens, seq_id, seq_offset) — pack_sequences output.
    Output: one row per (sequence, document) overlap: (seq_id, id,
    start_in_seq, end_in_seq inclusive, n_span_tokens). A document
    spanning k sequences emits k rows; sum(n_span_tokens) over a doc's
    rows equals its n_tokens, and over a seq_id equals seq_len for
    every full sequence (invariants the tests pin).

    Scale shape: pure integer arithmetic + one explode of the per-doc
    sequence range — total output rows = total_tokens/seq_len + n_docs,
    no shuffle at all (narrow map over the packed table); zero-token
    docs emit nothing."""
    if seq_len < 1:
        raise ValueError(f"sequence_spans: seq_len must be >= 1, got {seq_len}")
    L = int(seq_len)
    s = F.col("seq_id") * L + F.col("seq_offset")
    e = s + F.col("n_tokens") - 1
    return (
        packed.filter(F.col("n_tokens") > 0)
        .select(
            F.col(id_col),
            "n_tokens",
            s.alias("__s"),
            e.alias("__e"),
        )
        .select(
            id_col,
            "__s",
            "__e",
            # div, not float division+cast: integer-exact at any corpus
            # size (the pack_sequences 2^53 discipline)
            F.explode(
                F.sequence(
                    F.expr(f"__s div {L}"), F.expr(f"__e div {L}")
                )
            ).alias("seq_id"),
        )
        .select(
            "seq_id",
            id_col,
            (F.greatest(F.col("__s"), F.col("seq_id") * L) - F.col("seq_id") * L)
            .alias("start_in_seq"),
            (F.least(F.col("__e"), F.col("seq_id") * L + L - 1) - F.col("seq_id") * L)
            .alias("end_in_seq"),
        )
        .withColumn(
            "n_span_tokens", F.col("end_in_seq") - F.col("start_in_seq") + 1
        )
    )


def tfidf_similar_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_cosine: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF all-pairs document similarity WITHOUT embeddings:
    docs as tf-idf term vectors, cosine computed through an inverted-index
    self-join on the shared terms (a pair of docs is scored iff they share
    at least one term — disjoint docs never meet, unlike a dense
    cross join). Returns (id_a, id_b, cosine) with id_a < id_b and
    cosine >= min_cosine.

    idf = ln((N + 1) / (df_t + 1)) + 1 (smoothed, always > 0);
    w(d, t) = tf(d, t) * idf(t), L2-normalized per doc.

    Scale shape: the join fan-out is sum over terms of df_t^2 — dominated
    by stop-word-like heavy hitters whose idf weight contributes almost
    nothing to any cosine. `max_df` prunes terms appearing in more than
    that many docs BEFORE the self-join (the DISCO/DIMSUM observation:
    drop the quadratic cost, keep the signal); dropped term counts are
    LOGGED, never silent. At web scale max_df is mandatory — without it
    one term in 10^9 docs is a 10^18-row join."""
    import logging

    from slowspark.util import materialize

    logger = logging.getLogger("slowspark")

    toks = df.select(F.col(id_col), F.explode(ws_token_array(text_col)).alias("term"))
    # materialized: three consumers (dfreq + the weighted branch's two
    # reads) otherwise each re-run the tokenize + tf groupBy (r9)
    tf = materialize(toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    n_docs = df.select(id_col).distinct().count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    if max_df is not None:
        dropped = dfreq.filter(F.col("df_t") > max_df)
        n_dropped = dropped.count()
        if n_dropped:
            logger.warning(
                "tfidf_similar_pairs: max_df=%d pruned %d heavy-hitter "
                "term(s) before the self-join (their idf contribution is "
                "near zero; their join fan-out is quadratic)",
                max_df, n_dropped,
            )
        dfreq = dfreq.filter(F.col("df_t") <= max_df)
    weighted = tf.join(dfreq, "term").withColumn(
        "w",
        F.col("tf")
        * (F.log((F.lit(float(n_docs + 1))) / (F.col("df_t") + 1)) + 1.0),
    )
    # L2 norm as a whole-partition window over the SAME pass instead of
    # a groupBy(id) + join-back (r9: that shape exchanged `weighted`
    # twice and re-ran the idf join for each side); one exchange on the
    # doc id, one pass
    from pyspark.sql import Window

    wid = Window.partitionBy(id_col)
    # materialized: the inverted-index self-join would otherwise recompute
    # the tokenize/tf/idf subtree for both sides (the signature-self-join
    # trap, util.py)
    vec = materialize(
        weighted.withColumn(
            "__norm", F.sqrt(F.sum(F.col("w") * F.col("w")).over(wid))
        ).select(
            F.col(id_col), "term", (F.col("w") / F.col("__norm")).alias("wn")
        )
    )
    a, b = vec.alias("a"), vec.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.term") == F.col("b.term"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.sum(F.col("a.wn") * F.col("b.wn")).alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def _distributed_rank(
    df: DataFrame,
    order_cols: list[str],
    group_cols: list[str] | None = None,
    rank_col: str = "__rank",
    n_col: str = "__n",
    n_partitions: int | None = None,
) -> DataFrame:
    """0-based dense position of each row in (group_cols, order_cols)
    order, plus the group's row count — WITHOUT a global window. The
    naive `row_number() OVER (PARTITION BY group ORDER BY ...)` shuffles
    every row of a group into ONE task; at 10^12 rows per group that task
    is the job. Same two-phase shape as pack_sequences' prefix sum:

      1. repartitionByRange(group + order) — partition p's key range is
         wholly below p+1's (MATERIALIZED: spark_partition_id() must be
         pinned, see pack_sequences);
      2. intra-partition row_number over a window PARTITIONED BY
         (partition id, group) — parallel across partitions;
      3. per-(partition, group) counts (one row per partition per group
         present) -> per-group exclusive prefix over that TINY table ->
         broadcast back. rank = offset + intra - 1.

    Ties among order_cols are real ties in both phases, so callers pass a
    unique final column (the id) for determinism. All integer arithmetic."""
    from pyspark.sql import Window

    from slowspark.util import materialize

    group_cols = list(group_cols or [])
    keys = group_cols + order_cols
    ranged = (
        df.repartitionByRange(n_partitions, *keys)
        if n_partitions
        else df.repartitionByRange(*keys)
    ).withColumn("__pid", F.spark_partition_id())
    ranged = materialize(ranged)
    w_intra = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    intra = ranged.withColumn("__intra", F.row_number().over(w_intra))
    counts = ranged.groupBy("__pid", *group_cols).agg(
        F.count("*").cast("long").alias("__pn")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*group_cols)
    offsets = (
        counts.withColumn(
            "__offset",
            F.coalesce(F.sum("__pn").over(w_off), F.lit(0)).cast("long"),
        )
        .withColumn(n_col, F.sum("__pn").over(w_tot).cast("long"))
        .select("__pid", *group_cols, "__offset", n_col)
    )
    return (
        intra.join(F.broadcast(offsets), ["__pid", *group_cols])
        .withColumn(
            rank_col, (F.col("__offset") + F.col("__intra") - 1).cast("long")
        )
        .drop("__pid", "__intra", "__offset")
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
    n_buckets: int = 3,
    scored_df: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): rank
    documents by LM score WITHIN each language and cut the ranking into
    `n_buckets` equal-population buckets — bucket 0 = most stereotypical
    ("head", what CCNet keeps), last = rare-token-heavy tail. The LM is
    the corpus-unigram model (unigram_logprob); the bucket boundary is a
    RANK, not a score threshold, so it is integer-exact — no float
    percentile boundary for a document to flip across between engines.

    Returns (id [, lang], n_tokens, avg_neg_logprob, ppl_bucket) where
    ppl_bucket = (rank * n_buckets) div n_lang over the (score, id)
    ordering — deterministic under score ties. `scored_df` swaps the LM:
    pass stupid_backoff_logprob's output (trained on a reference corpus
    via model_df) for the real CCNet shape — its id + avg_neg_logprob
    drive the ranking and its other columns pass through in place of
    n_tokens.

    Scale shape: unigram_logprob's explode/agg/join, then the two-phase
    distributed per-group rank (_distributed_rank — no per-language
    single-task sort; a 10^12-doc language ranks in parallel across its
    range partitions)."""
    if n_buckets < 1:
        raise ValueError(f"perplexity_buckets: n_buckets must be >= 1, got {n_buckets}")
    if scored_df is None:
        scored = unigram_logprob(df, text_col, id_col)
        extra = ["n_tokens"]
    else:
        # caller-supplied LM scores (e.g. stupid_backoff_logprob with a
        # reference model corpus — the real CCNet shape); only the score
        # column is contracted, extra columns are passed through
        scored = scored_df
        extra = [
            c for c in scored_df.columns
            if c not in (id_col, "avg_neg_logprob", lang_col)
        ]
    gcols = [lang_col] if lang_col else []
    if lang_col and lang_col not in scored.columns:
        scored = scored.join(df.select(id_col, lang_col), id_col)
    ranked = _distributed_rank(
        scored, order_cols=["avg_neg_logprob", id_col], group_cols=gcols
    )
    return ranked.select(
        id_col,
        *gcols,
        *extra,
        "avg_neg_logprob",
        F.expr(f"(__rank * {int(n_buckets)}) div __n")
        .cast("int")
        .alias("ppl_bucket"),
    )


def training_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "0",
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    0-based `shuffle_pos` in the order of md5(seed || ':' || id) — the
    epoch-reshuffle primitive of a pretraining data loader. Seeded hash
    order means (a) reproducible across runs and engines (md5 is md5
    everywhere — no rand(), which Spark re-draws per task retry), (b) a
    new epoch is just a new seed, (c) adjacent source documents (same
    crawl, same domain) land far apart, the decorrelation shuffling is
    for.

    Returns the input columns plus shuffle_pos. Writing the corpus
    sorted by shuffle_pos IS the shuffled epoch; downstream pack_sequences
    on shuffle_pos packs in shuffled order.

    Scale shape: one narrow projection for the hash key, then the
    two-phase distributed rank (_distributed_rank) — a range exchange on
    (key, id) plus a broadcast of per-partition offsets; never a global
    single-task window."""
    keyed = df.withColumn(
        "__shufkey",
        F.md5(F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string"))),
    )
    ranked = _distributed_rank(
        keyed,
        order_cols=["__shufkey", id_col],
        rank_col="shuffle_pos",
        n_partitions=n_partitions,
    )
    return ranked.drop("__shufkey", "__n")


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("lang",),
    n_partitions: int | None = None,
) -> DataFrame:
    """Zipf rank-frequency diagnostic per group: OLS fit of
    ln(freq) = intercept + slope * ln(rank) over the group's term
    frequency table, plus the fit's r^2 — the corpus-health check that a
    web-scale text collection follows the expected power law
    (slope ~ -1; word salad, boilerplate floods, or template spam bend
    it). Returns (group..., n_terms, zipf_slope, zipf_intercept,
    zipf_r2).

    Scale shape: term frequencies are one map-side-combined groupBy;
    ranks come from the two-phase _distributed_rank (range exchange +
    broadcast offsets — NEVER a per-group single-task window; one
    group's vocabulary at corpus scale is 10^8+ terms); the OLS fit
    reduces each group to six sums in one aggregation. Tokenization is
    the repo-wide whitespace convention (ws_token_array)."""
    tf = (
        df.select(*group_cols, ws_token_array(text_col).alias("__tk"))
        .select(*group_cols, F.explode("__tk").alias("term"))
        .groupBy(*group_cols, "term")
        .agg(F.count("*").alias("freq"))
    )
    ranked = _distributed_rank(
        tf.withColumn("__negf", -F.col("freq")),
        order_cols=["__negf", "term"],
        group_cols=list(group_cols),
        n_partitions=n_partitions,
    )
    x = F.log(F.col("__rank") + F.lit(1.0))  # 1-based rank
    y = F.log(F.col("freq").cast("double"))
    pts = ranked.select(*group_cols, x.alias("x"), y.alias("y"))
    agg = pts.groupBy(*group_cols).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n_terms"),
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "zipf_intercept"
        ),
        (cov * cov / (varx * vary)).alias("zipf_r2"),
    )


def heaps_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: one checkpoint per document in
    `id_col` order — (id, cum_tokens, cum_vocab), the cumulative token
    count and cumulative DISTINCT vocabulary after consuming that
    document. V(n) ~ K * n^beta (beta ~ 0.5 for natural text); a curve
    that keeps climbing linearly means near-random tokens (OCR noise,
    hashes), one that flatlines early means template spam. All-integer
    output — exact at any corpus size.

    Scale shape: cumulative DISTINCT is NOT a distinct per prefix
    (quadratic): each term contributes exactly once, at its
    FIRST-OCCURRENCE document (min(id) per term, one map-side-combined
    groupBy), so cum_vocab is the running sum of per-doc first-occurrence
    counts. Both running sums ride ONE two-phase distributed prefix sum
    (the pack_sequences shape) — never a global single-partition
    window."""
    from pyspark.sql import Window

    from slowspark.util import materialize

    toks = df.select(
        F.col(id_col).alias("__id"), ws_token_array(text_col).alias("__tk")
    )
    per_doc = toks.select(
        "__id", F.size("__tk").alias("n_tokens"), F.explode_outer("__tk").alias("term")
    )
    firsts = (
        per_doc.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.min("__id").alias("__id"))
        .groupBy("__id")
        .agg(F.count("*").alias("new_terms"))
    )
    base = (
        toks.select("__id", F.size("__tk").alias("n_tokens"))
        .join(firsts, "__id", "left")
        .withColumn("new_terms", F.coalesce("new_terms", F.lit(0)))
    )
    ranged = (
        base.repartitionByRange(n_partitions, "__id")
        if n_partitions
        else base.repartitionByRange("__id")
    ).withColumn("__pid", F.spark_partition_id())
    ranged = materialize(ranged)  # pin pids: see pack_sequences
    w_intra = (
        Window.partitionBy("__pid")
        .orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = ranged.withColumn(
        "__ct", F.sum("n_tokens").over(w_intra).cast("long")
    ).withColumn("__cv", F.sum("new_terms").over(w_intra).cast("long"))
    totals = ranged.groupBy("__pid").agg(
        F.sum("n_tokens").cast("long").alias("__tt"),
        F.sum("new_terms").cast("long").alias("__tv"),
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__tt").over(w_off), F.lit(0)).cast("long").alias("__ot"),
        F.coalesce(F.sum("__tv").over(w_off), F.lit(0)).cast("long").alias("__ov"),
    )
    return (
        intra.join(F.broadcast(offsets), "__pid")
        .select(
            F.col("__id").alias(id_col),
            (F.col("__ot") + F.col("__ct")).alias("cum_tokens"),
            (F.col("__ov") + F.col("__cv")).alias("cum_vocab"),
        )
    )


def chunk_passages(
    df: DataFrame,
    chunk_tokens: int = 256,
    stride_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style passage chunking: cut each document into token windows
    of `chunk_tokens` advancing by `stride_tokens` (overlapping when
    stride < chunk — the retrieval-recall trick), returning one row per
    chunk: (id, chunk_ix, start_token, n_chunk_tokens, chunk_text).
    The final window is short rather than padded; a document shorter
    than one window yields exactly one chunk; an empty document yields
    none.

    Scale shape: tokenize once, then a per-row explode of
    sequence(0, n_chunks-1) with array slicing — pure codegen, row-local,
    NO shuffle at any corpus size; chunk count per doc is
    ceil(max(n-W,0)/S)+1 so the fan-out is bounded by doc length /
    stride."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    stride = chunk_tokens if stride_tokens is None else stride_tokens
    if not 1 <= stride <= chunk_tokens:
        raise ValueError(
            f"stride_tokens must be in [1, chunk_tokens], got {stride}"
        )
    w, s = F.lit(chunk_tokens), F.lit(stride)
    toks = df.select(
        F.col(id_col), ws_token_array(text_col).alias("__tk")
    ).withColumn("__n", F.size("__tk"))
    # a NULL text has a NULL size: no chunk, like an empty one
    n_chunks = F.when(F.col("__n") > 0, F.ceil(
        F.greatest(F.col("__n") - w, F.lit(0)) / s
    ).cast("int") + 1).otherwise(F.lit(0))
    start = F.col("chunk_ix").cast("long") * s
    return (
        toks.withColumn("__nc", n_chunks)
        .filter(F.col("__nc") > 0)
        .select(
            id_col,
            "__tk",
            "__n",
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_ix"),
        )
        .select(
            id_col,
            "chunk_ix",
            start.alias("start_token"),
            F.least(F.col("__n") - start, w.cast("long")).alias(
                "n_chunk_tokens"
            ),
            F.concat_ws(
                " ", F.slice(F.col("__tk"), (start + 1).cast("int"), chunk_tokens)
            ).alias("chunk_text"),
        )
    )


def domain_quality_filter(
    df: DataFrame,
    domain_col: str = "source",
    min_docs: int = 1,
    min_mean_quality: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Domain-level quality gating (the RefinedWeb/C4 move from per-doc
    to per-SITE filtering): aggregate the heuristic quality score per
    domain and keep/drop WHOLE domains — a spam site's occasional
    fluent page survives per-doc filters; its domain-mean does not.
    Returns one row per domain: (domain, n_docs, mean_quality,
    domain_keep).

    Scale shape: per-doc scoring is row-local codegen
    (textops.quality_score), the rollup is one map-side-combined
    groupBy on the domain key; hot domains are a SUM/COUNT pair, never
    a collected list. Join `domain_keep` back to the corpus with a
    broadcast (domains number ~10^7 max — small side) to apply."""
    from slowspark.textops import quality_score

    scored = quality_score(df, text_col=text_col)
    agg = scored.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs"),
        (F.sum("quality") / F.count("*")).alias("mean_quality"),
    )
    return agg.select(
        "domain",
        "n_docs",
        F.round("mean_quality", 4).alias("mean_quality"),
        (
            (F.col("n_docs") >= min_docs)
            & (F.col("mean_quality") >= min_mean_quality)
        ).alias("domain_keep"),
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """SoftDeDup: instead of DROPPING duplicates, weight every document
    by its duplication multiplicity — weight = 1 / n_copies^alpha
    (exact-hash cluster size; alpha=1 makes each CONTENT contribute
    exactly one document's worth of expected tokens, alpha<1
    interpolates toward keeping duplicates, alpha>1 punishes them
    harder). Returns the input plus (n_copies, weight).

    The reweight-don't-delete dedup regime (SoftDeDup, She et al.
    2024): hard dedup throws away the duplication SIGNAL (a page
    mirrored 10^4 times is usually boilerplate, but popular quotations
    and licenses are legitimately frequent); down-weighting preserves
    one effective copy while letting the trainer see natural
    distribution. Compose with weighted_sample_k (the weights column is
    exactly its input contract) or carry `weight` into the packed
    manifest as a per-sequence loss weight.

    Scale shape: one map-side-combined groupBy on the 256-bit content
    hash (the exact_dedup shuffle), one broadcast-free join back on the
    same hash key — cluster sizes are output-bounded; no windows, no
    skew beyond the duplicate families themselves (a 10^6-copy cluster
    is ONE count row)."""
    if alpha <= 0:
        raise ValueError(f"soft_dedup_weights: alpha must be > 0, "
                         f"got {alpha}")
    h = F.sha2(F.col(text_col), 256)
    sizes = (
        df.select(h.alias("__th"))
        .groupBy("__th")
        .agg(F.count("*").alias("n_copies"))
    )
    return (
        df.withColumn("__th", h)
        .join(sizes, "__th")
        .drop("__th")
        .withColumn(
            "weight",
            F.pow(
                F.lit(1.0) / F.col("n_copies").cast("double"),
                F.lit(float(alpha)),
            ),
        )
    )


def fim_split(
    df: DataFrame,
    fim_rate: float = 0.5,
    min_chars: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022): a
    deterministic fim_rate fraction of documents is split into
    (prefix, middle, suffix) at two pseudo-random cut points; the rest
    pass through unsplit. Returns the input plus
    (is_fim, fim_prefix, fim_middle, fim_suffix) — splits carry the
    three spans (prefix + middle + suffix == text, pinned), pass-through
    rows carry NULLs. Downstream assembles PSM/SPM token order at
    tokenization time (an ordering choice, not a data transform).

    Selection and cut points are HASH-derived, not random: a doc is FIM
    iff its md5(id||salt) bucket falls under fim_rate (hash_sample's
    convention — same docs in every run and engine), and the two cuts
    are md5-of-id digits mapped into [1, len-1] — so the oracle
    recomputes the exact same spans. Documents shorter than min_chars
    never split (degenerate middles teach nothing).

    Scale shape: one narrow projection — no shuffle, no UDF; the two
    cut points are integer arithmetic on two md5 prefixes."""
    if not 0.0 <= fim_rate <= 1.0:
        raise ValueError(f"fim_rate must be in [0, 1], got {fim_rate}")
    if min_chars < 3:
        raise ValueError(f"min_chars must be >= 3, got {min_chars}")
    sid = F.col(id_col).cast("string")
    bucket = F.conv(
        F.substring(F.md5(F.concat(sid, F.lit(salt))), 1, 4), 16, 10
    ).cast("long")
    selected = (
        (bucket < F.lit(int(fim_rate * 65536)))
        & (F.length(text_col) >= min_chars)
    )
    n = F.length(text_col)
    # two independent md5-prefix draws in [1, n-1]; sorted -> c1 <= c2.
    # Spans: prefix [1, c1], middle (c1, c2], suffix (c2, n] — middle
    # may be empty when the draws collide (kept: FIM trains on empty
    # middles too, and dropping them would bias the cut distribution)
    d1 = F.conv(F.substring(F.md5(F.concat(sid, F.lit("c1"))), 1, 8),
                16, 10).cast("long")
    d2 = F.conv(F.substring(F.md5(F.concat(sid, F.lit("c2"))), 1, 8),
                16, 10).cast("long")
    r1 = (d1 % (n - 1).cast("long")) + 1
    r2 = (d2 % (n - 1).cast("long")) + 1
    c1 = F.least(r1, r2)
    c2 = F.greatest(r1, r2)
    return df.select(
        "*",
        selected.alias("is_fim"),
        F.when(selected, F.col(text_col).substr(F.lit(1), c1))
        .alias("fim_prefix"),
        F.when(selected, F.col(text_col).substr(c1 + 1, c2 - c1))
        .alias("fim_middle"),
        F.when(selected, F.col(text_col).substr(c2 + 1, n - c2))
        .alias("fim_suffix"),
    )
