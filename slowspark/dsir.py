"""DSIR — Data Selection with Importance Resampling (Xie et al.,
NeurIPS 2023, arXiv:2302.03169): pick raw-crawl documents whose hashed
n-gram distribution looks like a small high-quality target corpus.

The recipe (paper §3, the hashed-ngram instantiation the paper ships):

  1. featurize every document as a bag of word unigrams + bigrams hashed
     into ``n_buckets`` buckets;
  2. fit two smoothed categorical ("bag of hashed n-grams") models — one
     on the target corpus, one on the raw corpus;
  3. each raw document's log importance weight is the log-likelihood
     ratio of its bag under the two models:
         log w(x) = sum_{gram z in x} [log p_target(b(z)) - log p_raw(b(z))]
  4. select k documents WITHOUT replacement by Gumbel top-k: rank by
     log w(x) + g(x) with g(x) a deterministic per-document Gumbel(0,1)
     draw — equivalent to sampling without replacement proportionally to
     the importance weights (Vieira 2014).

Everything is reproducible-by-construction and engine-portable, matching
the repo's sampling discipline (corpus.hash_sample): the gram→bucket map
is md5-derived (md5 is md5 everywhere — no murmur/xxhash the DuckDB
oracle cannot recompute), and the Gumbel draw is a pure projection of
(seed, doc_id) — the same document gets the same noise in every run,
every stage retry, every engine. No rand() anywhere.

Scale shape (the 100 TB story): gram rows are O(2 x tokens) produced by
the textops.token_grams position explode (never a transform()-built
array explode — see token_grams for the O(len^2) lambda-inlining trap
this avoids); the two model fits are groupBy(bucket) counts — map-side
combined, shuffle fan-in <= n_buckets rows per partition; the per-bucket
log-ratio table is <= n_buckets rows and BROADCAST to the scoring join;
per-document weights are one groupBy(id) sum; the top-k cut uses the
two-phase distributed rank (corpus._distributed_rank) — a range exchange
plus a broadcast of per-partition offsets, never a global single-task
window. No reference analog (/root/reference is a slow-log parser); the
shape follows the paper and the repo's own sampling/rank primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from slowspark.textops import unigram_bigram_rows
from slowspark.util import materialize as _materialize

_GUMBEL_DENOM = float(2**32)


def _md5_bucket_of(expr, salt: str, buckets: int):
    """md5(expr || salt) first 8 hex digits as an integer mod buckets —
    the corpus._md5_bucket convention applied to an arbitrary expression
    (that helper is bound to a column name)."""
    return (
        F.conv(F.substring(F.md5(F.concat(expr, F.lit(salt))), 1, 8), 16, 10)
        .cast("long")
        % buckets
    )


def hashed_ngram_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """(id, bucket) — one row per unigram and bigram OCCURRENCE, bucket =
    md5-hash of the gram text mod ``n_buckets`` (paper §3.1 uses hashed
    unigrams+bigrams at 10k buckets). The grams are
    textops.unigram_bigram_rows (lowered whitespace tokens, position
    explode): a 1-token doc yields its unigram only, an empty doc yields
    no rows."""
    return unigram_bigram_rows(df, text_col, id_col).select(
        id_col, _md5_bucket_of(F.col("gram"), salt, n_buckets).alias("bucket")
    )


def _bucket_log_ratio_from_grams(
    raw_grams: DataFrame,
    target_df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    alpha: float,
    salt: str,
) -> DataFrame:
    """(bucket, log_ratio) for every bucket OBSERVED in the raw gram
    table: log_ratio = log p_target(bucket) - log p_raw(bucket) under
    add-``alpha`` smoothed bag-of-hashed-ngrams models,
    p(b) = (count(b) + alpha) / (total + alpha * n_buckets).

    Only raw-observed buckets matter — the scoring sum ranges over raw
    documents' grams, and every such gram's bucket has raw count >= 1 by
    construction — so no dense 0..n_buckets-1 scaffold is materialized;
    target counts for buckets the target never saw smooth to alpha via
    the left join. Both count tables are <= n_buckets rows (groupBy
    map-side combined); the totals are 1-row aggregates attached with a
    broadcast scalar cross-join (the corpus.py unigram_logprob pattern),
    so nothing here touches the driver.

    Taking the featurized raw grams lets dsir_log_weights share ONE
    (materialized) gram pass between the raw model fit and the scoring
    join (r9: the md5-per-gram explode over the whole raw corpus ran
    twice per selection)."""
    raw_counts = raw_grams.groupBy("bucket").agg(
        F.count("*").alias("c_raw")
    )
    tgt_counts = (
        hashed_ngram_rows(target_df, text_col, id_col, n_buckets, salt)
        .groupBy("bucket")
        .agg(F.count("*").alias("c_tgt"))
    )
    raw_tot = raw_counts.agg(F.sum("c_raw").alias("t_raw"))
    tgt_tot = tgt_counts.agg(
        F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("t_tgt")
    )
    denom = float(alpha) * n_buckets
    return (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("c_tgt", F.lit(0)) + F.lit(float(alpha)))
                    / (F.col("t_tgt") + F.lit(denom))
                )
                - F.log(
                    (F.col("c_raw") + F.lit(float(alpha)))
                    / (F.col("t_raw") + F.lit(denom))
                )
            ).alias("log_ratio"),
        )
    )


def dsir_log_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    salt: str = "",
    length_normalize: bool = False,
) -> DataFrame:
    """(id, n_grams, log_weight) per raw document: log_weight = the bag's
    log-likelihood ratio (paper eq. 2 under the hashed model); n_grams =
    the bag size. Documents with no tokens have an empty bag — weight 0,
    n_grams 0 (restored by the left join, never silently dropped).

    The raw sum has a length bias — a long document accumulates more
    (typically negative, since the smoothed target model spreads mass
    thin) terms than a short one; the paper's pipeline sidesteps it by
    chunking documents to comparable lengths before selection.
    ``length_normalize=True`` divides by the bag size instead (mean
    per-gram log ratio) — use it when the corpus is NOT length-chunked,
    otherwise short junk outranks long in-distribution text. Also make
    the target big enough that its gram total dominates the smoothing
    mass alpha * n_buckets, or every p_target collapses toward uniform
    and the ratio degenerates to rare-gram-seeking.

    Scale shape: gram rows join a BROADCAST <= n_buckets-row ratio table,
    then one map-side-combined groupBy(id) sum — a single shuffle keyed
    on the id."""
    if alpha <= 0.0:
        raise ValueError(f"dsir_log_weights: alpha must be > 0, got {alpha}")
    # ONE featurize pass: the raw model fit and the scoring join both
    # read the materialized (id, bucket) rows instead of each re-running
    # the tokenize + md5-per-gram explode
    grams = _materialize(
        hashed_ngram_rows(raw_df, text_col, id_col, n_buckets, salt)
    )
    ratio_df = _bucket_log_ratio_from_grams(
        grams, target_df, text_col, id_col, n_buckets, alpha, salt
    )
    sums = (
        grams.join(F.broadcast(ratio_df), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("log_ratio").alias("log_weight"),
        )
    )
    weight = F.coalesce("log_weight", F.lit(0.0))
    if length_normalize:
        weight = weight / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1))
    return (
        raw_df.select(id_col)
        .join(sums, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            weight.alias("log_weight"),
        )
    )


def gumbel_noise(id_col: str, seed: str) -> F.Column:
    """Deterministic per-document Gumbel(0,1): u = (h + 0.5) / 2^32 with
    h the first 8 md5 hex digits of seed:id (u in (0,1) strictly — the
    +0.5 keeps both log() calls finite), g = -ln(-ln(u)). A pure
    projection of (seed, id): same doc, same draw, every engine."""
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(_GUMBEL_DENOM)
    return -F.log(-F.log(h))


def dsir_topk(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    seed: str = "0",
    salt: str = "",
    length_normalize: bool = False,
) -> DataFrame:
    """Gumbel top-k importance resampling: the k raw documents with the
    largest log_weight + Gumbel(seed, id) — i.e. a without-replacement
    sample proportional to the importance weights (Vieira 2014), the
    paper's resampling step made deterministic.

    Returns (id, n_grams, log_weight, dsir_score, dsir_rank) with
    dsir_rank 0-based in selection order. Both score columns are rounded
    to 6 decimals BEFORE the cut and the rank orders by (rounded score
    desc, id): the ordering an independent engine reproduces bit-exactly,
    so the selected SET is stable across engines even where the unrounded
    doubles differ in the last ulp (summation order is not fixed).

    Scale shape: dsir_log_weights' broadcast-join/groupBy, one narrow
    projection for the noise, then the two-phase distributed rank — no
    global single-task window, no driver-side sort."""
    if k < 1:
        raise ValueError(f"dsir_topk: k must be >= 1, got {k}")
    from slowspark.corpus import _distributed_rank

    w = dsir_log_weights(
        raw_df, target_df, text_col, id_col, n_buckets, alpha, salt,
        length_normalize,
    )
    scored = w.select(
        id_col,
        "n_grams",
        F.round("log_weight", 6).alias("log_weight"),
        F.round(F.col("log_weight") + gumbel_noise(id_col, seed), 6).alias(
            "dsir_score"
        ),
    ).withColumn("__neg_score", -F.col("dsir_score"))
    ranked = _distributed_rank(
        scored, order_cols=["__neg_score", id_col], rank_col="dsir_rank"
    )
    return (
        ranked.filter(F.col("dsir_rank") < k)
        .select(id_col, "n_grams", "log_weight", "dsir_score", "dsir_rank")
    )
