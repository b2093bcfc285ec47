"""Unit tests for slowspark.corpus (quality filters, passage dedup,
unigram LM scoring, deterministic stratified sampling). The DuckDB
value-hash checks live in the driver contract (scripts/check_oracle.py);
these pin the per-rule semantics and the scale-relevant plan shapes."""

import math

import pytest
from pyspark.sql import functions as F

from slowspark.corpus import (
    hash_sample,
    passage_dedup,
    passage_table,
    quality_filter_flags,
    unigram_logprob,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# quality_filter_flags
# ---------------------------------------------------------------------------

GOOD = "the quick brown fox jumps over a lazy dog near the old mill " * 3


def test_quality_rules_fire_individually(spark):
    rows = [
        (1, GOOD, "en"),                               # passes everything
        (2, "short text only here", "en"),             # < min_words
        (3, "ab " * 30, "en"),                         # no stopwords
        (4, GOOD + " ##$% " * 20, "en"),               # symbol ratio
        (5, GOOD + " 123456789 " * 40, "en"),          # digit ratio
        (6, ("pneumonoultramicroscopicsilicovolcanoconiosis " * 25) + "the a", "en"),  # mean word len
    ]
    out = {
        r["doc_id"]: r
        for r in quality_filter_flags(_docs(spark, rows)).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["rule_word_count"] is False and out[2]["keep"] is False
    assert out[3]["rule_stopwords"] is False and out[3]["keep"] is False
    assert out[4]["rule_symbol_ratio"] is False and out[4]["keep"] is False
    assert out[5]["rule_digit_ratio"] is False and out[5]["keep"] is False
    assert out[6]["rule_mean_word_len"] is False and out[6]["keep"] is False


def test_quality_filter_is_narrow_no_shuffle(spark):
    """The filter stage must stay a pure projection: at 10^12 docs any
    Exchange here would shuffle the whole corpus for per-row math."""
    plan = quality_filter_flags(
        _docs(spark, [(1, GOOD, "en")])
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# passage_table / passage_dedup
# ---------------------------------------------------------------------------

def test_passage_table_chunking(spark):
    words = [f"w{i}" for i in range(45)]
    df = _docs(spark, [(1, " ".join(words), "en")])
    p = passage_table(df, passage_words=20).orderBy("passage_idx").collect()
    assert [r["passage_idx"] for r in p] == [0, 1, 2]
    assert p[0]["passage"] == " ".join(words[:20])
    assert p[1]["passage"] == " ".join(words[20:40])
    assert p[2]["passage"] == " ".join(words[40:])  # 5-word remainder chunk


def test_passage_table_empty_and_single(spark):
    df = _docs(spark, [(1, "", "en"), (2, "  ", "en"), (3, "solo", "en")])
    p = passage_table(df, passage_words=20).collect()
    # empty text tokenizes to nothing -> no passage rows; "solo" -> one
    assert {(r["doc_id"], r["passage"]) for r in p} == {(3, "solo")}


def test_passage_dedup_drops_boilerplate(spark):
    boiler = " ".join(f"b{i}" for i in range(20))
    rows = [
        (i, boiler + " " + " ".join(f"u{i}x{j}" for j in range(20)), "en")
        for i in range(4)  # boilerplate passage shared by 4 docs
    ] + [(9, " ".join(f"v{j}" for j in range(40)), "en")]
    out = {
        r["doc_id"]: r
        for r in passage_dedup(
            _docs(spark, rows), passage_words=20, max_docs_per_passage=2
        ).collect()
    }
    for i in range(4):
        assert out[i]["n_passages"] == 2 and out[i]["n_dropped"] == 1
    assert out[9]["n_passages"] == 2 and out[9]["n_dropped"] == 0
    # kept text is the unique tail, reassembled in order
    import hashlib

    want = hashlib.md5(
        " ".join(f"u0x{j}" for j in range(20)).encode()
    ).hexdigest()
    assert out[0]["kept_md5"] == want


def test_passage_dedup_fully_boilerplate_doc(spark):
    boiler = " ".join(f"b{i}" for i in range(20))
    rows = [(i, boiler, "en") for i in range(5)] + [(9, "", "en")]
    out = {
        r["doc_id"]: r
        for r in passage_dedup(
            _docs(spark, rows), passage_words=20, max_docs_per_passage=2
        ).collect()
    }
    import hashlib

    empty = hashlib.md5(b"").hexdigest()
    for i in range(5):
        assert out[i]["n_dropped"] == 1 and out[i]["kept_md5"] == empty
    # empty-text doc surfaces with zero counts, not a missing row
    assert out[9]["n_passages"] == 0 and out[9]["kept_md5"] == empty


def test_passage_words_validation(spark):
    with pytest.raises(ValueError, match="passage_words"):
        passage_table(_docs(spark, [(1, "x", "en")]), passage_words=0)


# ---------------------------------------------------------------------------
# unigram_logprob
# ---------------------------------------------------------------------------

def test_unigram_logprob_hand_computed(spark):
    # corpus: "a a b" + "a c" -> tf: a=3, b=1, c=1, total=5
    df = _docs(spark, [(1, "a a b", "en"), (2, "a c", "en")])
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    ln = math.log
    d1 = -(2 * ln(3 / 5) + ln(1 / 5)) / 3
    d2 = -(ln(3 / 5) + ln(1 / 5)) / 2
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_neg_logprob"] == pytest.approx(round(d1, 4))
    assert out[2]["n_tokens"] == 2
    assert out[2]["avg_neg_logprob"] == pytest.approx(round(d2, 4))
    # rare-token-heavy doc scores higher (worse) than stereotypical doc
    assert out[2]["avg_neg_logprob"] > out[1]["avg_neg_logprob"]


# ---------------------------------------------------------------------------
# hash_sample
# ---------------------------------------------------------------------------

def test_hash_sample_deterministic_and_rate_bounds(spark):
    df = _docs(
        spark,
        [(i, "t", "en" if i % 2 == 0 else "de") for i in range(400)],
    )
    a = sorted(r["doc_id"] for r in hash_sample(df, {"en": 0.5, "de": 0.1}).collect())
    b = sorted(r["doc_id"] for r in hash_sample(df, {"en": 0.5, "de": 0.1}).collect())
    assert a == b  # identical across runs (no rand())
    assert hash_sample(df, {}, default_rate=1.0).count() == 400
    assert hash_sample(df, {}, default_rate=0.0).count() == 0
    # stratified: en kept at ~50%, de at ~10%
    kept = hash_sample(df, {"en": 0.5, "de": 0.1}).groupBy("lang").count()
    kc = {r["lang"]: r["count"] for r in kept.collect()}
    assert 60 <= kc.get("en", 0) <= 140          # 200 * 0.5 +/- slack
    assert 5 <= kc.get("de", 0) <= 45            # 200 * 0.1 +/- slack


def test_hash_sample_salt_changes_selection_subset_stable(spark):
    df = _docs(spark, [(i, "t", "en") for i in range(500)])
    s1 = {r["doc_id"] for r in hash_sample(df, {"en": 0.3}).collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, {"en": 0.3}, salt="v2").collect()}
    assert s1 != s2  # a different salt carves a different holdout
    # rate nesting: the 0.1 sample is a SUBSET of the 0.3 sample (same
    # salt) — growing a holdout never resamples already-assigned rows
    s_small = {r["doc_id"] for r in hash_sample(df, {"en": 0.1}).collect()}
    assert s_small <= s1


def test_hash_sample_no_shuffle_and_validation(spark):
    df = _docs(spark, [(1, "t", "en")])
    plan = hash_sample(df, {"en": 0.5})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="rate"):
        hash_sample(df, {"en": 1.5})
    with pytest.raises(ValueError, match="rate"):
        hash_sample(df, {}, default_rate=-0.1)


def test_hash_sample_half_up_threshold_never_silently_zero(spark):
    """r5 ADVICE: Python round() is banker's rounding — rate=0.05 at
    buckets=10 rounded to threshold 0 and silently sampled NOTHING for
    that stratum. Half-up keeps it at 1; a positive rate genuinely below
    half-bucket granularity raises (no-silent-drops) instead."""
    df = _docs(spark, [(i, "t", "en") for i in range(200)])
    kept = hash_sample(df, {"en": 0.05}, buckets=10).count()
    assert kept > 0  # threshold 1, not banker's-rounded 0
    with pytest.raises(ValueError, match="half-bucket granularity"):
        hash_sample(df, {"en": 0.0001}, buckets=10)
    with pytest.raises(ValueError, match="half-bucket granularity"):
        hash_sample(df, {}, default_rate=0.0001, buckets=10)
    # rate 0.0 is an intentional drop, never an error
    assert hash_sample(df, {"en": 0.0}, buckets=10).count() == 0


# ---------------------------------------------------------------------------
# holdout_split
# ---------------------------------------------------------------------------

def _sourced(spark, n_sources=50, docs_per_source=8):
    rows = [
        (s * 100 + i, f"text {s} {i}", f"host{s}.example")
        for s in range(n_sources)
        for i in range(docs_per_source)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_holdout_split_group_atomic_and_deterministic(spark):
    from slowspark.corpus import holdout_split

    df = _sourced(spark)
    out = holdout_split(df, val_frac=0.2, group_col="source")
    # every doc of a source lands on ONE side — the leakage-safety claim
    sides = out.groupBy("source").agg(
        F.countDistinct("split").alias("n_sides")
    ).collect()
    assert all(r["n_sides"] == 1 for r in sides)
    # deterministic across runs
    a = sorted((r["doc_id"], r["split"]) for r in out.collect())
    b = sorted(
        (r["doc_id"], r["split"])
        for r in holdout_split(df, 0.2, "source").collect()
    )
    assert a == b
    # val share of GROUPS is ~val_frac (hash mass), both sides non-empty
    by_side = {r["split"]: r["cnt"] for r in out.select("source", "split")
               .distinct().groupBy("split").agg(F.count("*").alias("cnt"))
               .collect()}
    assert 0 < by_side.get("val", 0) < 50
    assert by_side["val"] + by_side["train"] == 50


def test_holdout_split_salt_and_nesting(spark):
    from slowspark.corpus import holdout_split

    df = _sourced(spark, n_sources=200, docs_per_source=1)
    v1 = {r["source"] for r in holdout_split(df, 0.3, "source")
          .filter("split = 'val'").collect()}
    v2 = {r["source"] for r in holdout_split(df, 0.3, "source", salt="v2")
          .filter("split = 'val'").collect()}
    assert v1 != v2  # a different salt carves a different holdout
    # growing val_frac only GROWS the val side (same salt): no group that
    # was val at 0.1 becomes train at 0.3 — eval sets stay frozen
    v_small = {r["source"] for r in holdout_split(df, 0.1, "source")
               .filter("split = 'val'").collect()}
    assert v_small <= v1


def test_holdout_split_no_shuffle_and_validation(spark):
    from slowspark.corpus import holdout_split

    df = _sourced(spark, n_sources=3, docs_per_source=2)
    plan = (
        holdout_split(df, 0.2, "source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure projection, no shuffle
    with pytest.raises(ValueError, match="val_frac"):
        holdout_split(df, 0.0, "source")
    with pytest.raises(ValueError, match="val_frac"):
        holdout_split(df, 1.0, "source")
    with pytest.raises(ValueError, match="half-bucket granularity"):
        holdout_split(df, 0.00001, "source")
    # NULL group key raises inside the projection (no silent misrouting)
    nulls = spark.createDataFrame(
        [(1, "t", None)], "doc_id long, text string, source string"
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                       match="NULL source"):
        holdout_split(nulls, 0.2, "source").collect()


# ---------------------------------------------------------------------------
# exact_k_sample / pack_sequences
# ---------------------------------------------------------------------------

def test_exact_k_sample_counts_and_determinism(spark):
    df = _docs(
        spark,
        [(i, "t", ["en", "de", "fr"][i % 3]) for i in range(90)] + [(901, "t", "zh")],
    )
    from slowspark.corpus import exact_k_sample

    out = exact_k_sample(df, k=10)
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    # exactly k where the stratum is big enough, whole stratum otherwise
    assert counts == {"en": 10, "de": 10, "fr": 10, "zh": 1}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in exact_k_sample(df, k=10).collect())
    assert a == b
    with pytest.raises(ValueError, match="k must be"):
        exact_k_sample(df, k=0)


def test_pack_sequences_hand_computed(spark):
    # docs of 3, 4, 5 tokens; seq_len=6:
    # starts: 0, 3, 7 -> seq_id 0,0,1; offsets 0,3,1
    df = _docs(spark, [(1, "a b c", "en"), (2, "d e f g", "en"), (3, "h i j k l", "en")])
    from slowspark.corpus import pack_sequences

    out = {r["doc_id"]: r for r in pack_sequences(df, seq_len=6).collect()}
    assert (out[1]["seq_id"], out[1]["seq_offset"]) == (0, 0)
    assert (out[2]["seq_id"], out[2]["seq_offset"]) == (0, 3)
    assert (out[3]["seq_id"], out[3]["seq_offset"]) == (1, 1)
    assert [out[i]["n_tokens"] for i in (1, 2, 3)] == [3, 4, 5]
    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(df, seq_len=0)


def test_pack_sequences_partition_boundary_independence(spark):
    """The defining property of the two-phase prefix sum: the result is a
    pure function of (id order, token counts) — partition count must not
    leak into seq assignments."""
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"w{j}" for j in range(rng.randint(1, 30))), "en")
        for i in range(200)
    ]
    df = _docs(spark, rows)
    from slowspark.corpus import pack_sequences

    def norm(n_parts):
        return sorted(
            (r["doc_id"], r["n_tokens"], r["seq_id"], r["seq_offset"])
            for r in pack_sequences(df, seq_len=64, n_partitions=n_parts).collect()
        )

    one = norm(1)
    assert norm(4) == one
    assert norm(13) == one
    # cross-check against the naive driver-side cumsum
    toks = {i: len(t.split()) for i, t, _ in rows}
    start = 0
    for doc_id, n_tokens, seq_id, seq_offset in one:
        assert n_tokens == toks[doc_id]
        assert seq_id == start // 64 and seq_offset == start % 64
        start += n_tokens


# ---------------------------------------------------------------------------
# tfidf_similar_pairs
# ---------------------------------------------------------------------------

def test_tfidf_identical_disjoint_and_threshold(spark):
    from slowspark.corpus import tfidf_similar_pairs

    df = _docs(spark, [
        (1, "alpha beta gamma", "en"),
        (2, "alpha beta gamma", "en"),      # identical -> cosine 1.0
        (3, "delta epsilon zeta", "en"),    # disjoint from 1/2 -> no pair
        (4, "alpha other words", "en"),     # weak overlap with 1/2
    ])
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in tfidf_similar_pairs(df, min_cosine=0.0).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) not in out and (2, 3) not in out  # never met in the join
    assert 0.0 < out[(1, 4)] < 0.9
    # threshold filters: only the identical pair survives a high cutoff
    high = {(r["id_a"], r["id_b"])
            for r in tfidf_similar_pairs(df, min_cosine=0.99).collect()}
    assert high == {(1, 2)}


def test_tfidf_max_df_prunes_heavy_hitters(spark):
    from slowspark.corpus import tfidf_similar_pairs

    # "common" appears in every doc; pairs exist ONLY through it
    df = _docs(spark, [
        (i, f"common unique{i}a unique{i}b", "en") for i in range(6)
    ])
    with_hh = tfidf_similar_pairs(df, min_cosine=0.0)
    assert with_hh.count() == 15  # all C(6,2) pairs meet via "common"
    pruned = tfidf_similar_pairs(df, min_cosine=0.0, max_df=5)
    assert pruned.count() == 0    # pruning the hub removes all join fan-out


# ---------------------------------------------------------------------------
# mixture_rates / mixture_sample (domain-mix token budgeting)
# ---------------------------------------------------------------------------

def test_mixture_rates_max_budget_and_explicit_target(spark):
    from slowspark.corpus import mixture_rates

    # en: 100 docs x 10 tokens = 1000; de: 50 x 10 = 500; zh: 20 x 10 = 200
    rows = (
        [(i, "t " * 10, "en") for i in range(100)]
        + [(1000 + i, "t " * 10, "de") for i in range(50)]
        + [(2000 + i, "t " * 10, "zh") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # 50/30/20 mixture: binding stratum is zh (200 / 0.2 = 1000 <= en's
    # 1000/0.5 = 2000, de's 500/0.3 ~ 1667) -> T_max = 1000
    rates, t = mixture_rates(df, {"en": 0.5, "de": 0.3, "zh": 0.2})
    assert t == 1000.0
    assert rates["zh"] == 1.0  # binding stratum keeps everything
    assert abs(rates["en"] - 0.5) < 1e-12    # 0.5 * 1000 / 1000
    assert abs(rates["de"] - 0.6) < 1e-12    # 0.3 * 1000 / 500
    # explicit smaller budget scales every rate down proportionally
    rates2, t2 = mixture_rates(
        df, {"en": 0.5, "de": 0.3, "zh": 0.2}, target_tokens=500
    )
    assert t2 == 500.0 and abs(rates2["zh"] - 0.5) < 1e-12
    # an infeasible budget raises, naming the binding stratum
    with pytest.raises(ValueError, match="binding stratum 'zh'"):
        mixture_rates(df, {"en": 0.5, "de": 0.3, "zh": 0.2},
                      target_tokens=2000)
    # a stratum with no rows raises (the mixture cannot deliver it)
    with pytest.raises(ValueError, match="have no rows"):
        mixture_rates(df, {"en": 0.5, "fr": 0.5})
    # proportions normalize (60/40 == 6/4)
    r3, t3 = mixture_rates(df, {"en": 6, "de": 4})
    r4, t4 = mixture_rates(df, {"en": 0.6, "de": 0.4})
    assert r3 == r4 and t3 == t4


def test_mixture_sample_hits_proportions_and_drops_unlisted(spark):
    from slowspark.corpus import hash_sample, mixture_rates, mixture_sample

    rows = (
        [(i, "w " * 20, "en") for i in range(400)]
        + [(1000 + i, "w " * 20, "de") for i in range(100)]
        + [(2000 + i, "w " * 20, "xx") for i in range(30)]  # unlisted
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = mixture_sample(df, {"en": 0.5, "de": 0.5}).collect()
    by_lang: dict = {}
    for r in out:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert "xx" not in by_lang  # unlisted stratum dropped
    assert by_lang["de"] == 100  # binding stratum fully kept
    # en sampled at ~25% (0.5 * 2000 / 8000); all docs same length so
    # token proportions == doc proportions; md5 buckets are uniform-ish
    assert 60 <= by_lang["en"] <= 140
    # composition identity: mixture_sample == hash_sample(mixture_rates)
    rates, _ = mixture_rates(df, {"en": 0.5, "de": 0.5})
    manual = {r["doc_id"] for r in hash_sample(df, rates).collect()}
    assert {r["doc_id"] for r in out} == manual


def test_repeat_sample_upsampling_and_hash_sample_equivalence(spark):
    from slowspark.corpus import hash_sample, mixture_rates, repeat_sample

    rows = (
        [(i, "w " * 10, "en") for i in range(300)]
        + [(1000 + i, "w " * 10, "de") for i in range(60)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    # rate 2.5: every de row appears 2 or 3 times, repeat_ix contiguous
    out = repeat_sample(df, {"de": 2.5}).collect()
    by_doc: dict = {}
    for r in out:
        assert r["lang"] == "de"  # default_rate 0 drops en
        by_doc.setdefault(r["doc_id"], []).append(r["repeat_ix"])
    assert set(by_doc) == {1000 + i for i in range(60)}
    n3 = 0
    for doc, ixs in by_doc.items():
        assert sorted(ixs) == list(range(len(ixs)))
        assert len(ixs) in (2, 3)
        n3 += len(ixs) == 3
    assert 10 <= n3 <= 50  # ~half the rows get the fractional extra copy

    # rates <= 1 reduce EXACTLY to hash_sample's selection
    rep = {(r["doc_id"],) for r in repeat_sample(df, {"en": 0.4}).collect()}
    hs = {(r["doc_id"],) for r in hash_sample(df, {"en": 0.4}).collect()}
    assert rep == hs

    # determinism: same input -> same multiset
    again = {(r["doc_id"], r["repeat_ix"])
             for r in repeat_sample(df, {"de": 2.5}).collect()}
    assert again == {(r["doc_id"], r["repeat_ix"]) for r in out}

    # no-silent-drops: positive rate that would emit nothing raises
    with pytest.raises(ValueError, match="half-bucket granularity"):
        repeat_sample(df, {"en": 0.00001})
    # negative rates rejected
    with pytest.raises(ValueError, match=">= 0"):
        repeat_sample(df, {"en": -1.0})

    # allow_upsample mixture: 50/50 remix of a 3000/600-token corpus at
    # corpus-preserving budget 3600 -> en rate 0.6, de rate 3.0
    rates, t = mixture_rates(
        df, {"en": 0.5, "de": 0.5}, allow_upsample=True
    )
    assert t == 3600.0
    assert abs(rates["en"] - 0.6) < 1e-12 and abs(rates["de"] - 3.0) < 1e-12
    mixed = repeat_sample(df, rates).collect()
    n_de = sum(1 for r in mixed if r["lang"] == "de")
    n_en = sum(1 for r in mixed if r["lang"] == "en")
    assert n_de == 180  # integer rate: every de row exactly 3 times
    assert 140 <= n_en <= 220  # ~0.6 * 300
    # without allow_upsample the same budget raises, naming the regime
    with pytest.raises(ValueError, match="allow_upsample=True"):
        mixture_rates(df, {"en": 0.5, "de": 0.5}, target_tokens=3600)


# ---------------------------------------------------------------------------
# distributed rank / perplexity buckets / training shuffle
# ---------------------------------------------------------------------------


def test_distributed_rank_matches_global_window(spark):
    """Two-phase rank == row_number over a global window, per group,
    regardless of how many range partitions the input lands in."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from slowspark.corpus import _distributed_rank

    rows = [(i, f"g{i % 3}", (i * 37) % 11) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, score long").repartition(7)
    got = _distributed_rank(
        df, order_cols=["score", "id"], group_cols=["g"], n_partitions=5
    )
    w = Window.partitionBy("g").orderBy("score", "id")
    want = df.withColumn("__rank", F.row_number().over(w) - 1)
    diffs = (
        got.select("id", "__rank")
        .join(want.select("id", F.col("__rank").alias("w")), "id")
        .filter(F.col("__rank") != F.col("w"))
        .count()
    )
    assert diffs == 0
    # group count column
    assert got.filter(F.col("__n") != 67).filter(F.col("g") == "g0").count() in (0, 67)


def test_perplexity_buckets_equal_population_and_monotone(spark):
    from pyspark.sql import functions as F

    from slowspark.corpus import perplexity_buckets

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pb = perplexity_buckets(df, n_buckets=4).cache()
    # partition: every doc bucketed exactly once
    assert pb.count() == df.count()
    # equal population per lang within 1
    sizes = pb.groupBy("lang", "ppl_bucket").count()
    spread = (
        sizes.groupBy("lang")
        .agg((F.max("count") - F.min("count")).alias("d"), F.count("*").alias("nb"))
        .collect()
    )
    for r in spread:
        assert r.d <= 1 and r.nb == 4
    # monotone: max score in bucket b <= min score in bucket b+1 (per lang)
    b = pb.groupBy("lang", "ppl_bucket").agg(
        F.min("avg_neg_logprob").alias("lo"), F.max("avg_neg_logprob").alias("hi")
    )
    a = b.alias("a")
    c = b.alias("c")
    bad = (
        a.join(c, (F.col("a.lang") == F.col("c.lang"))
               & (F.col("a.ppl_bucket") + 1 == F.col("c.ppl_bucket")))
        .filter(F.col("a.hi") > F.col("c.lo"))
        .count()
    )
    assert bad == 0
    pb.unpersist()


def test_training_shuffle_permutation_deterministic_and_seed_sensitive(spark):
    from pyspark.sql import functions as F

    from slowspark.corpus import training_shuffle

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = df.count()
    s1 = training_shuffle(df, seed="e1", n_partitions=5)
    stats = s1.agg(
        F.count("*").alias("n"),
        F.min("shuffle_pos").alias("lo"),
        F.max("shuffle_pos").alias("hi"),
        F.count_distinct("shuffle_pos").alias("d"),
    ).first()
    assert (stats.n, stats.lo, stats.hi, stats.d) == (n, 0, n - 1, n)
    # deterministic: same seed -> identical assignment
    s1b = training_shuffle(df, seed="e1", n_partitions=3)
    assert (
        s1.select("doc_id", "shuffle_pos")
        .exceptAll(s1b.select("doc_id", "shuffle_pos"))
        .count()
        == 0
    )
    # a different seed is a different permutation
    s2 = training_shuffle(df, seed="e2", n_partitions=5)
    moved = (
        s1.select("doc_id", "shuffle_pos")
        .join(s2.select("doc_id", F.col("shuffle_pos").alias("p2")), "doc_id")
        .filter(F.col("shuffle_pos") != F.col("p2"))
        .count()
    )
    assert moved > n // 2


def test_stupid_backoff_hand_example(spark):
    from slowspark.corpus import stupid_backoff_logprob
    import math

    model = spark.createDataFrame(
        [(100, "a b a b c")], "doc_id long, text string"
    )
    docs = spark.createDataFrame([(1, "a b x")], "doc_id long, text string")
    r = stupid_backoff_logprob(docs, model_df=model).collect()[0]
    # (a,b): cb=2 / cu(a)=2 -> S=1; (b,x): unseen bigram, x unseen word
    # -> S = 0.4 * 1 / 5
    want = (0.0 + -math.log(0.4 / 5)) / 2
    assert r["n_bigrams"] == 2
    assert r["avg_neg_logprob"] == round(want, 6)


def test_stupid_backoff_self_score_no_backoff_and_short(spark):
    from slowspark.corpus import stupid_backoff_logprob

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "solo")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in stupid_backoff_logprob(docs).collect()}
    # self-scored unique bigrams: S = 1 everywhere -> 0.0
    assert got[1]["n_bigrams"] == 2 and got[1]["avg_neg_logprob"] == 0.0
    assert got[2]["n_bigrams"] == 0 and got[2]["avg_neg_logprob"] == 0.0


def test_stupid_backoff_word_order_matters(spark):
    from slowspark.corpus import stupid_backoff_logprob

    model = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "sat cat the")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["avg_neg_logprob"]
        for r in stupid_backoff_logprob(docs, model_df=model).collect()
    }
    assert got[1] < got[2]  # fluent order beats shuffled SAME bag


def _kn_mirror(model_texts, score_docs, D=0.75):
    """Memory-side mirror of kneser_ney_logprob's exact arithmetic."""
    import math
    from collections import Counter

    big = Counter()
    for t in model_texts:
        w = t.lower().split()
        for i in range(len(w) - 1):
            big[(w[i], w[i + 1])] += 1
    B = len(big)
    nf, cfw, nb = Counter(), Counter(), Counter()
    for (w1, w2), c in big.items():
        nf[w1] += 1
        cfw[w1] += c
        nb[w2] += 1
    out = {}
    for did, t in score_docs:
        w = t.lower().split()
        if len(w) < 2:
            out[did] = (0, 0.0)
            continue
        ss = []
        for i in range(len(w) - 1):
            w1, w2 = w[i], w[i + 1]
            pc = (nb.get(w2) or 1) / B
            if w1 in cfw:
                cb = big.get((w1, w2), 0)
                p = max(cb - D, 0) / cfw[w1] + (D * nf[w1] / cfw[w1]) * pc
            else:
                p = pc
            ss.append(-math.log(p))
        out[did] = (len(ss), round(sum(ss) / len(ss), 6))
    return out


def test_kneser_ney_hand_example(spark):
    """Differential vs the memory-side mirror across all four paths:
    seen bigram, unseen bigram under a seen context, unseen context,
    unseen word (Pc floor 1/B); short docs return (0, 0.0)."""
    from slowspark.corpus import kneser_ney_logprob

    model_texts = [
        "the cat sat on the mat",
        "the dog sat on a rug",
        "a cat ran to the mat",
    ]
    model = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(model_texts)],
        "doc_id long, text string",
    )
    score = [
        (1, "the cat sat on a mat"),     # all-seen path
        (2, "the mat ran"),              # seen context, unseen bigram
        (3, "zebra cat zebra"),          # unseen context + unseen word
        (4, "mat the"),                  # 'mat' never starts a bigram
        (5, "one"),                      # short
    ]
    docs = spark.createDataFrame(score, "doc_id long, text string")
    want = _kn_mirror(model_texts, score)
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_neg_logprob"])
           for r in kneser_ney_logprob(docs, model_df=model).collect()}
    for did, (nb_, s) in want.items():
        assert got[did][0] == nb_
        assert got[did][1] == pytest.approx(s, abs=2e-6)
    with pytest.raises(ValueError, match="discount must be"):
        kneser_ney_logprob(docs, discount=1.5)


def test_kneser_ney_normalization(spark):
    """For a seen context w1, P(.|w1) sums to EXACTLY 1 over the seen
    continuation vocabulary — the property stupid backoff lacks. The
    cyclic model makes every word both a context and a continuation."""
    import math

    from slowspark.corpus import kneser_ney_logprob

    model = spark.createDataFrame(
        [(100, "a b c a b c a c b a")], "doc_id long, text string"
    )
    # one single-bigram doc per (a, x) continuation
    docs = spark.createDataFrame(
        [(i, f"a {x}") for i, x in enumerate(["a", "b", "c"])],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["avg_neg_logprob"]
           for r in kneser_ney_logprob(docs, model_df=model).collect()}
    total = sum(math.exp(-s) for s in got.values())
    assert total == pytest.approx(1.0, abs=1e-5)


def test_kneser_ney_word_order_and_continuation(spark):
    """Fluent order beats the scrambled SAME bag; and the 'san
    francisco' property: under an unseen context, a frequent-but-
    single-context word (francisco) gets LESS mass than a versatile
    lower-count connector — the exact case where stupid backoff
    mis-ranks (pinned by the differential against it)."""
    from slowspark.corpus import kneser_ney_logprob, stupid_backoff_logprob

    model_rows = [(100 + i, "san francisco") for i in range(10)] + [
        (200, "a the b the c the d e f g h i j k")
    ]
    model = spark.createDataFrame(model_rows, "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "zebra francisco"), (2, "zebra the")],
        "doc_id long, text string",
    )
    kn = {r["doc_id"]: r["avg_neg_logprob"]
          for r in kneser_ney_logprob(docs, model_df=model).collect()}
    sb = {r["doc_id"]: r["avg_neg_logprob"]
          for r in stupid_backoff_logprob(docs, model_df=model).collect()}
    # KN: 'the' follows 3 distinct contexts, 'francisco' only 1
    assert kn[2] < kn[1]
    # stupid backoff ranks by raw frequency (francisco 10 vs the 3)
    assert sb[1] < sb[2]
    # fluent vs scrambled, same bag
    fl_model = spark.createDataFrame(
        [(300 + i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    fl = spark.createDataFrame(
        [(1, "the cat sat"), (2, "sat cat the")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["avg_neg_logprob"]
           for r in kneser_ney_logprob(fl, model_df=fl_model).collect()}
    assert got[1] < got[2]


def test_kneser_ney_estimated_discount(spark):
    """discount=None estimates D = n1 / (n1 + 2*n2) from the model's
    bigram count-of-counts (Ney et al. 1994) and must equal an explicit
    discount=D run; the mirror confirms the value."""
    from slowspark.corpus import kneser_ney_logprob

    model_texts = [
        "the cat sat on the mat",
        "the cat ran",
        "a dog sat on a rug",
    ]
    # count-of-counts: 'the cat' occurs twice; count the rest by mirror
    from collections import Counter

    big = Counter()
    for t in model_texts:
        w = t.split()
        for i in range(len(w) - 1):
            big[(w[i], w[i + 1])] += 1
    n1 = sum(1 for c in big.values() if c == 1)
    n2 = sum(1 for c in big.values() if c == 2)
    D = n1 / (n1 + 2 * n2)
    model = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(model_texts)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat on a mat"), (2, "zebra cat")],
        "doc_id long, text string",
    )
    est = {r["doc_id"]: r["avg_neg_logprob"]
           for r in kneser_ney_logprob(
               docs, model_df=model, discount=None).collect()}
    fix = {r["doc_id"]: r["avg_neg_logprob"]
           for r in kneser_ney_logprob(
               docs, model_df=model, discount=D).collect()}
    assert est == fix
    want = _kn_mirror(model_texts, [(1, "the cat sat on a mat")], D=D)
    assert est[1] == pytest.approx(want[1][1], abs=2e-6)


def test_sequence_spans_invariants(spark):
    from slowspark.corpus import pack_sequences, sequence_spans

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(7 + 5 * i))) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    L = 16
    packed = pack_sequences(docs, seq_len=L)
    spans = sequence_spans(packed, L).collect()
    n_tok = {r["doc_id"]: r["n_tokens"] for r in packed.collect()}
    total = sum(n_tok.values())
    # per-doc token mass conserved
    by_doc = {}
    for r in spans:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + r["n_span_tokens"]
    assert by_doc == n_tok
    # every full sequence is exactly covered, in-range, non-overlapping
    by_seq = {}
    for r in spans:
        assert 0 <= r["start_in_seq"] <= r["end_in_seq"] < L
        by_seq.setdefault(r["seq_id"], []).append(
            (r["start_in_seq"], r["end_in_seq"])
        )
    n_full = total // L
    for q, ivs in by_seq.items():
        ivs.sort()
        for (a1, b1), (a2, b2) in zip(ivs, ivs[1:]):
            assert b1 + 1 == a2  # contiguous, no overlap, no gap
        assert ivs[0][0] == 0
        if q < n_full:
            assert ivs[-1][1] == L - 1  # full sequence fully covered
    assert set(by_seq) == set(range(max(by_seq) + 1))


def test_sequence_spans_zero_token_and_bad_args(spark):
    from slowspark.corpus import sequence_spans

    packed = spark.createDataFrame(
        [(1, 0, 0, 0), (2, 3, 0, 0)],
        "doc_id long, n_tokens long, seq_id long, seq_offset long",
    )
    out = sequence_spans(packed, 8).collect()
    assert {r["doc_id"] for r in out} == {2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="seq_len"):
        sequence_spans(packed, 0)


def test_weighted_sample_k_basics(spark):
    from slowspark.corpus import weighted_sample_k

    rows = [(i, 1.0 if i else 1e9) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample_k(df, "w", 10, seed="s1").collect()
    assert len(out) == 10
    ids = {r["doc_id"] for r in out}
    assert 0 in ids  # ln(1e9) ~ +20.7 over every rival: always selected
    assert sorted(r["sample_rank"] for r in out) == list(range(10))
    # same seed -> same set; new seed -> an independent draw
    again = {r["doc_id"] for r in weighted_sample_k(df, "w", 10, seed="s1").collect()}
    assert again == ids
    other = {r["doc_id"] for r in weighted_sample_k(df, "w", 10, seed="s2").collect()}
    assert 0 in other  # the heavy row survives any seed
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be >= 1"):
        weighted_sample_k(df, "w", 0)
    # the positivity guard is FUSED into the ranking pass (raise_error
    # CASE in the sample_key projection — no separate validation scan),
    # so it surfaces at action time as a Spark execution error
    bad = spark.createDataFrame([(1, 0.0)], "doc_id long, w double")
    with _pytest.raises(Exception, match="non-positive weight"):
        weighted_sample_k(bad, "w", 1).collect()


def test_weighted_sample_k_single_source_pass():
    """Pin the r6 verdict #4 fix: no standalone pre-scan validation —
    the guard must be a raise_error CASE inside the keyed projection so
    validation rides the one ranking pass (2x sampler cost at 100 TB
    otherwise, worse when the weight column is derived)."""
    import inspect

    from slowspark.corpus import weighted_sample_k

    src = inspect.getsource(weighted_sample_k)
    assert "raise_error" in src
    assert ".limit(1).collect()" not in src
    assert ".collect()" not in src  # no driver pass at all


def _mix_docs(spark):
    rows = []
    for i in range(40):
        rows.append((i, "the quick brown fox " * 5, "en"))       # 20 tok
    for i in range(100, 110):
        rows.append((i, "der schnelle braune fuchs " * 5, "de"))  # 20 tok
    for i in range(200, 202):
        rows.append((i, "le renard brun rapide " * 5, "fr"))      # 20 tok
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_temperature_mixture_props(spark):
    """T=1 -> natural shares; large T -> near-uniform; always sums to 1
    and composes with mixture_sample."""
    from slowspark.corpus import mixture_sample, temperature_mixture_props

    df = _mix_docs(spark)  # token shares en/de/fr = 800/200/40 -> ~.77/.19/.04
    import pytest as _pytest

    nat = temperature_mixture_props(df, 1.0)
    assert abs(sum(nat.values()) - 1.0) < 1e-12
    assert abs(nat["en"] - 800 / 1040) < 1e-9
    assert abs(nat["fr"] - 40 / 1040) < 1e-9
    flat = temperature_mixture_props(df, 100.0)
    assert max(flat.values()) - min(flat.values()) < 0.02  # ~uniform
    # monotone: higher T raises the scarce stratum's share
    t2 = temperature_mixture_props(df, 2.0)
    assert nat["fr"] < t2["fr"] < flat["fr"]
    # the props plug straight into the mixture sampler
    out = mixture_sample(df, t2)
    assert out.count() > 0
    with _pytest.raises(ValueError, match="temperature"):
        temperature_mixture_props(df, 0.0)


def test_unimax_rates_waterfilling(spark):
    """Water-filling: small strata are capped at max_epochs x their
    tokens, the rest split the remainder evenly; budget == capacity
    degenerates to everyone-at-cap; over-capacity raises."""
    from slowspark.corpus import unimax_rates

    df = _mix_docs(spark)  # tokens: en 800, de 200, fr 40
    import pytest as _pytest

    # budget 300 at 1 epoch: fr capped at 40; en/de split 260 -> 130 each
    # (de's cap is 200 >= 130, en's 800 >= 130)
    rates, budgets = unimax_rates(df, 300, max_epochs=1.0)
    assert budgets == {"de": 130.0, "en": 130.0, "fr": 40.0}
    assert abs(rates["fr"] - 1.0) < 1e-12
    assert abs(rates["de"] - 130 / 200) < 1e-12
    # epochs > 1: fr capped at 2 x 40 = 80; en/de split the 220 left
    rates2, budgets2 = unimax_rates(df, 300, max_epochs=2.0)
    assert budgets2 == {"de": 110.0, "en": 110.0, "fr": 80.0}
    assert abs(rates2["fr"] - 2.0) < 1e-12  # at its epoch cap
    # full capacity: everyone at cap
    _, b3 = unimax_rates(df, 1040, max_epochs=1.0)
    assert b3 == {"en": 800.0, "de": 200.0, "fr": 40.0}
    with _pytest.raises(ValueError, match="capacity"):
        unimax_rates(df, 1041, max_epochs=1.0)
    with _pytest.raises(ValueError, match="total_budget"):
        unimax_rates(df, 0)
    with _pytest.raises(ValueError, match="max_epochs"):
        unimax_rates(df, 10, max_epochs=0)


def test_unimax_sample_realizes_allocation(spark):
    """The sampled token mass per stratum tracks the allocated budgets
    (within hash-bucket granularity) and repeats appear exactly for
    over-1 rates with distinct repeat_ix."""
    from slowspark.corpus import unimax_sample

    df = _mix_docs(spark)
    out = unimax_sample(df, 300, max_epochs=2.0, salt="s").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append((r["doc_id"], r["repeat_ix"]))
    # fr: rate 2.0 -> every fr doc exactly twice (repeat_ix 0 and 1)
    assert sorted(by_lang["fr"]) == sorted(
        [(d, i) for d in (200, 201) for i in (0, 1)]
    )
    # en: rate 0.125 over 40 docs -> about 5 docs, each once
    assert all(ix == 0 for _, ix in by_lang["en"])
    assert 1 <= len(by_lang["en"]) <= 10
    # determinism
    again = unimax_sample(df, 300, max_epochs=2.0, salt="s").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---------------------------------------------------------------------------
# dataset_card
# ---------------------------------------------------------------------------

def test_dataset_card_hand_computed(spark):
    from slowspark.corpus import dataset_card

    df = spark.createDataFrame(
        [
            (1, "a b c", "en", "s1"),
            (2, "a b c", "en", "s2"),      # exact dup of 1
            (3, "d e", "en", "s1"),
            (4, "x", None, "s3"),          # NULL stratum kept
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["stratum"]: r.asDict() for r in dataset_card(df).collect()}
    en = out["en"]
    assert en["n_docs"] == 3 and en["n_sources"] == 2
    assert en["n_tokens"] == 8 and en["avg_tokens"] == 2.6667
    assert en["min_tokens"] == 2 and en["max_tokens"] == 3
    assert en["n_distinct_texts"] == 2 and en["n_exact_dup_docs"] == 1
    nu = out["__null__"]
    assert nu["n_docs"] == 1 and nu["n_exact_dup_docs"] == 0
    # single aggregation pass: exactly one shuffle boundary pair
    plan = dataset_card(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # expand-agg exchange only


# ---------------------------------------------------------------------------
# pack_bins
# ---------------------------------------------------------------------------

def test_pack_bins_next_fit_hand_computed(spark):
    from slowspark.corpus import pack_bins

    # one shard so the fold order is just doc_id order
    rows = [
        (1, "a " * 10, "en"),   # 10 tokens -> bin 0 off 0
        (2, "b " * 40, "en"),   # fits: bin 0 off 10 (fill 50)
        (3, "c " * 30, "en"),   # 50+30 > 64 -> bin 1 off 0
        (4, "d " * 80, "en"),   # > 64 -> own bin 2, truncated
        (5, "e " * 5, "en"),    # bin 2 is full -> bin 3 off 0
        (6, "", "en"),          # zero tokens: rides bin 3 at off 5
    ]
    out = {r["doc_id"]: r for r in pack_bins(
        _docs(spark, rows), seq_len=64, n_shards=1
    ).collect()}
    assert (out[1]["bin_ix"], out[1]["bin_offset"]) == (0, 0)
    assert (out[2]["bin_ix"], out[2]["bin_offset"]) == (0, 10)
    assert (out[3]["bin_ix"], out[3]["bin_offset"]) == (1, 0)
    assert (out[4]["bin_ix"], out[4]["bin_offset"],
            out[4]["truncated"]) == (2, 0, True)
    assert (out[5]["bin_ix"], out[5]["bin_offset"]) == (3, 0)
    assert (out[6]["bin_ix"], out[6]["bin_offset"]) == (3, 5)
    assert not out[1]["truncated"] and not out[5]["truncated"]


def test_pack_bins_invariants_and_determinism(spark):
    from slowspark.corpus import pack_bins

    rows = [(i, "w " * ((i * 13) % 90 + 1), "en") for i in range(200)]
    df = _docs(spark, rows)
    a = pack_bins(df, seq_len=64, n_shards=7).collect()
    b = pack_bins(df.repartition(13), seq_len=64, n_shards=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # layout-proof
    assert len(a) == 200  # no silent drops
    # every non-truncated bin's content fits; offsets are consistent
    import collections

    by_bin = collections.defaultdict(list)
    for r in a:
        by_bin[(r["shard"], r["bin_ix"])].append(r)
    for rows_ in by_bin.values():
        rows_.sort(key=lambda r: r["bin_offset"])
        fill = 0
        for r in rows_:
            if r["truncated"]:
                assert len(rows_) == 1 and r["bin_offset"] == 0
            else:
                assert r["bin_offset"] == fill
                fill += r["n_tokens"]
        if not rows_[0]["truncated"]:
            assert fill <= 64
    # zero-token first doc in a shard opens bin 0, never bin -1
    z = pack_bins(_docs(spark, [(1, "", "en")]), seq_len=8, n_shards=1)
    r0 = z.collect()[0]
    assert (r0["bin_ix"], r0["bin_offset"]) == (0, 0)
    with pytest.raises(ValueError, match="seq_len"):
        pack_bins(df, seq_len=0)


# ------------------------------------------------------- zipf / heaps


def test_zipf_fit_matches_numpy_ols(spark):
    import numpy as np

    from slowspark.corpus import zipf_fit

    rows = []
    # zipf-ish synthetic: term t_i appears ~100/i times, two langs
    for lang in ("en", "de"):
        for i in range(1, 40):
            rows += [(lang, " ".join([f"{lang}term{i}"] * (100 // i)))]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {r["lang"]: r for r in zipf_fit(df).collect()}
    for lang in ("en", "de"):
        freqs = sorted((100 // i for i in range(1, 40)), reverse=True)
        x = np.log(np.arange(1, len(freqs) + 1, dtype=float))
        y = np.log(np.array(freqs, dtype=float))
        slope, intercept = np.polyfit(x, y, 1)
        r = got[lang]
        assert r["n_terms"] == 39
        assert abs(r["zipf_slope"] - slope) < 1e-9
        assert abs(r["zipf_intercept"] - intercept) < 1e-9
        assert 0.9 < r["zipf_r2"] <= 1.0


def test_heaps_growth_matches_python_and_partition_invariant(spark):
    from slowspark.corpus import heaps_growth

    docs = [
        (1, "a b c a"),
        (2, "a d"),
        (3, ""),          # empty doc: counts stay flat, row still present
        (4, "e e e b f"),
        (5, "f g a"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    seen, ct, want = set(), 0, {}
    for did, text in docs:
        tk = text.split()
        ct += len(tk)
        seen |= set(tk)
        want[did] = (ct, len(seen))
    for parts in (1, 7):
        got = {
            r["doc_id"]: (r["cum_tokens"], r["cum_vocab"])
            for r in heaps_growth(df.repartition(parts)).collect()
        }
        assert got == want


# ------------------------------------------------------ chunk_passages


def test_chunk_passages_windows_and_stride(spark):
    from slowspark.corpus import chunk_passages

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, "a b"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_ix"]): (
            r["start_token"], r["n_chunk_tokens"], r["chunk_text"]
        )
        for r in chunk_passages(df, chunk_tokens=4, stride_tokens=2).collect()
    }
    assert got == {
        (1, 0): (0, 4, "t0 t1 t2 t3"),
        (1, 1): (2, 4, "t2 t3 t4 t5"),
        (1, 2): (4, 3, "t4 t5 t6"),
        (2, 0): (0, 2, "a b"),
    }
    # non-overlapping default: stride == chunk
    full = chunk_passages(df, chunk_tokens=4).collect()
    assert {(r["doc_id"], r["chunk_ix"]) for r in full} == {
        (1, 0), (1, 1), (2, 0)
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        chunk_passages(df, chunk_tokens=4, stride_tokens=5)


def test_chunk_passages_no_shuffle_plan(spark):
    from slowspark.corpus import chunk_passages

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        chunk_passages(df, 2, 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_domain_quality_filter_gates_whole_domains(spark):
    from slowspark.corpus import domain_quality_filter

    good = "the quick brown fox jumps over a lazy dog and then some " * 10
    bad = "!!! ??? ,,, ;;; ::: ... !!!"
    rows = [("gooddom", good)] * 3 + [("baddom", bad)] * 3 + [("mixdom", good),
                                                              ("mixdom", bad)]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r["domain"]: (r["n_docs"], r["mean_quality"], r["domain_keep"])
        for r in domain_quality_filter(df, min_mean_quality=0.5).collect()
    }
    assert got["gooddom"][0] == 3 and got["gooddom"][2] is True
    assert got["baddom"][0] == 3 and got["baddom"][2] is False
    assert got["baddom"][1] < got["mixdom"][1] < got["gooddom"][1]


# ----------------------------------------------------------- softdedup


def test_soft_dedup_weights(spark):
    from slowspark.corpus import soft_dedup_weights

    rows = (
        [(i, "copy me") for i in range(4)]
        + [(10, "unique one"), (11, "unique two")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_copies"], r["weight"])
           for r in soft_dedup_weights(df).collect()}
    assert all(out[i] == (4, 0.25) for i in range(4))
    assert out[10] == (1, 1.0) and out[11] == (1, 1.0)
    # expected effective copies per CONTENT = 1 at alpha=1
    assert sum(w for _, w in out.values()) == pytest.approx(3.0)
    # alpha sharpens: 4 copies at alpha=2 -> 1/16
    out2 = {r["doc_id"]: r["weight"]
            for r in soft_dedup_weights(df, alpha=2.0).collect()}
    assert out2[0] == pytest.approx(1 / 16)
    with pytest.raises(ValueError, match="alpha"):
        soft_dedup_weights(df, alpha=0)


# ----------------------------------------------------------------- fim


def test_fim_split_reassembles_and_is_deterministic(spark):
    from slowspark.corpus import fim_split

    rows = [(i, f"doc number {chr(97 + i % 26)} with some content "
                f"of reasonable length for splitting purposes")
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = fim_split(df, fim_rate=0.5).collect()
    n_fim = sum(1 for r in out if r["is_fim"])
    assert 0 < n_fim < 60  # rate selects a strict subset
    for r in out:
        if r["is_fim"]:
            assert (r["fim_prefix"] + r["fim_middle"] + r["fim_suffix"]
                    == r["text"])
            assert len(r["fim_prefix"]) >= 1
            assert len(r["fim_suffix"]) >= 1
        else:
            assert r["fim_prefix"] is None and r["fim_middle"] is None
    # determinism incl. partitioning
    out2 = fim_split(df.repartition(7), fim_rate=0.5).collect()
    key = lambda r: (r["doc_id"], r["is_fim"], r["fim_prefix"],
                     r["fim_middle"], r["fim_suffix"])
    assert sorted(map(key, out)) == sorted(map(key, out2))


def test_fim_split_short_docs_and_rates(spark):
    from slowspark.corpus import fim_split

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "x" * 50)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in fim_split(df, fim_rate=1.0).collect()}
    assert not out[1]["is_fim"]       # under min_chars never splits
    assert out[2]["is_fim"]
    none = fim_split(df, fim_rate=0.0).collect()
    assert all(not r["is_fim"] for r in none)
    import pytest as _p

    with _p.raises(ValueError, match="fim_rate"):
        fim_split(df, fim_rate=1.5)
