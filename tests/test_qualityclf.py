"""qualityclf: hashed features, distributed-GD training, scoring."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from slowspark.qualityclf import (
    classifier_accuracy,
    hashed_text_features,
    score_documents,
    sigmoid,
    train_logreg,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hashed_features_bigrams_and_tf(spark):
    df = _docs(spark, [(1, "a b c"), (2, "x"), (3, "  ")])
    out = hashed_text_features(df, n_buckets=1 << 10).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    # doc 1: grams a,b,c,'a b','b c' -> L2-normalized: sum tf^2 == 1
    assert abs(sum(r["tf"] ** 2 for r in by_id[1]) - 1.0) < 1e-12
    # doc 2: single unigram, tf=1
    assert len(by_id[2]) == 1 and by_id[2][0]["tf"] == 1.0
    # doc 3: no tokens -> no rows
    assert 3 not in by_id
    # bucket domain respected
    assert all(0 <= r["bucket"] < (1 << 10) for r in out)


def test_hashed_features_bigram_content(spark):
    # pin the bigram construction (slice/transform indexing) by comparing
    # against explicit xxhash64 of expected gram strings
    df = _docs(spark, [(1, "a b c")])
    got = {
        (r["bucket"], round(r["tf"], 12))
        for r in hashed_text_features(df, n_buckets=1 << 20).collect()
    }
    expected_grams = ["a", "b", "c", "a b", "b c"]
    exp_buckets = (
        spark.createDataFrame([(g,) for g in expected_grams], "g string")
        .select(F.pmod(F.xxhash64("g"), F.lit(1 << 20)).alias("b"))
        .collect()
    )
    exp = {(r["b"], round(1.0 / 5 ** 0.5, 12)) for r in exp_buckets}
    assert got == exp


def test_hashed_features_match_python_reference(spark):
    """Differential: unigram + bigram L2-tf features against a Python
    reference on 0-, 1-, 2- and ~1,000-token docs (repeated grams, edge
    and interior whitespace runs, one bucket space small enough to
    collide). Spark's xxhash64 hashes the reference's gram strings."""
    import random
    import re
    from collections import Counter

    rng = random.Random(7)
    words = ["the", "cat", "Sat", "on", "a", "mat", "x"]
    long_doc = " ".join(rng.choice(words) for _ in range(1000))
    rows = [(1, ""), (2, " \n\t "), (3, "Word"), (4, "\na  B\n"),
            (5, long_doc), (6, None)]
    n_buckets = 1 << 6
    for bigrams in (True, False):
        grams = {}
        for i, t in rows:
            toks = [w for w in re.split(r"[ \t\n\x0b\f\r]+", (t or "").lower()) if w]
            big = [f"{a} {b}" for a, b in zip(toks, toks[1:])] if bigrams else []
            grams[i] = toks + big
        distinct = sorted({g for gs in grams.values() for g in gs})
        bucket = {
            r["g"]: r["b"]
            for r in spark.createDataFrame([(g,) for g in distinct], "g string")
            .select("g", F.pmod(F.xxhash64("g"), F.lit(n_buckets)).alias("b"))
            .collect()
        }
        want = {}
        for i, gs in grams.items():
            c = Counter(bucket[g] for g in gs)
            norm = sum(v * v for v in c.values()) ** 0.5
            want.update({(i, b): v / norm for b, v in c.items()})
        got = {
            (r["id"], r["bucket"]): r["tf"]
            for r in hashed_text_features(
                _docs(spark, rows), n_buckets=n_buckets, bigrams=bigrams
            ).collect()
        }
        assert got.keys() == want.keys()
        assert all(abs(got[k] - want[k]) < 1e-12 for k in want)


@pytest.fixture(scope="module")
def trained(spark):
    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, f"the quick brown goodword filler{i % 7} text"))
        else:
            rows.append((i, f"the quick brown badword filler{i % 7} text"))
    df = _docs(spark, rows)
    labels = df.select(
        F.col("doc_id").alias("id"), (F.col("doc_id") % 2 == 0).alias("label")
    )
    feats = hashed_text_features(df, n_buckets=1 << 12)
    coeffs, b, hist = train_logreg(
        feats, labels, n_buckets=1 << 12, epochs=25, lr=20.0
    )
    return feats, labels, coeffs, b, hist


def test_train_separable_converges(spark, trained):
    feats, labels, coeffs, b, hist = trained
    assert hist[-1] < hist[0] * 0.6  # loss drops decisively on a separable task
    scores = score_documents(feats, coeffs, b)
    assert classifier_accuracy(scores, labels) == 1.0


def test_score_matches_numpy(spark, trained):
    feats, labels, coeffs, b, hist = trained
    w = {r["bucket"]: r["weight"] for r in coeffs.collect()}
    expected = {}
    for r in feats.collect():
        expected[r["id"]] = expected.get(r["id"], 0.0) + r["tf"] * w.get(
            r["bucket"], 0.0
        )
    got = {r["id"]: r["score"] for r in score_documents(feats, coeffs, b).collect()}
    assert set(got) == set(expected)
    for i, m in expected.items():
        assert got[i] == pytest.approx(sigmoid(m + b), abs=1e-9)


def test_train_deterministic(spark, trained):
    feats, labels, coeffs, b, hist = trained
    coeffs2, b2, hist2 = train_logreg(
        feats, labels, n_buckets=1 << 12, epochs=25, lr=20.0
    )
    w1 = {r["bucket"]: r["weight"] for r in coeffs.collect()}
    w2 = {r["bucket"]: r["weight"] for r in coeffs2.collect()}
    assert set(w1) == set(w2)
    for k in w1:
        assert w1[k] == pytest.approx(w2[k], rel=1e-8)
    assert b == pytest.approx(b2, rel=1e-8)


def test_train_no_labeled_rows_raises(spark):
    df = _docs(spark, [(1, "a b")])
    feats = hashed_text_features(df)
    empty_labels = spark.createDataFrame([], "id long, label boolean")
    with pytest.raises(ValueError, match="no labeled documents"):
        train_logreg(feats, empty_labels, epochs=1)


# ---------------------------------------------------------------------------
# Multilingual language ID (one-vs-rest over hashed char n-grams)
# ---------------------------------------------------------------------------

def test_char_ngram_features_hand_check(spark):
    """Char 3-grams over the LOWERED text with spaces kept, xxhash64
    pmod buckets, L2 norm: 'AbcD' -> grams {abc, bcd}; a doc shorter
    than n yields no rows; tf vector has unit norm."""
    from slowspark.qualityclf import hashed_char_ngram_features

    df = spark.createDataFrame(
        [(1, "AbcD"), (2, "ab"), (3, "aaaa")], "doc_id long, text string"
    )
    rows = hashed_char_ngram_features(df, n=3, n_buckets=1 << 12).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert 2 not in by_id                       # too short
    assert len(by_id[1]) == 2                   # abc, bcd -> 2 buckets
    assert sum(r["tf"] ** 2 for r in by_id[1]) == pytest.approx(1.0)
    # 'aaaa' -> gram aaa twice, one bucket, tf = 2/2 = 1
    assert len(by_id[3]) == 1 and by_id[3][0]["tf"] == pytest.approx(1.0)
    with pytest.raises(ValueError, match="n must be"):
        hashed_char_ngram_features(df, n=0)


def test_langid_heldout_accuracy(spark):
    """The verdict-#7 pin: one-vs-rest char-ngram logreg trained on the
    EVEN half of the deterministic six-language fixture classifies the
    held-out ODD half perfectly — including the four Latin-script
    confusables (es/pt/it/fr) that stopword-overlap language_id cannot
    reliably separate."""
    from slowspark.qualityclf import (
        hashed_char_ngram_features, langid_fixture, score_langid,
        train_langid,
    )

    docs = langid_fixture(spark, n_per_lang=24)
    co = train_langid(docs.filter(F.col("doc_id") % 2 == 0), epochs=8)
    langs = {r["lang"] for r in co.select("lang").distinct().collect()}
    assert langs == {"de", "en", "es", "fr", "it", "pt"}
    feats = hashed_char_ngram_features(docs)
    pred = score_langid(feats, co)
    j = pred.join(
        docs.select(F.col("doc_id").alias("id"), "lang"), "id"
    ).filter(F.col("id") % 2 == 1)
    acc = j.agg(
        F.avg((F.col("lang_pred") == F.col("lang")).cast("double"))
    ).collect()[0][0]
    assert acc == 1.0
    conf = j.filter(F.col("lang").isin("es", "pt", "it", "fr")).agg(
        F.avg((F.col("lang_pred") == F.col("lang")).cast("double"))
    ).collect()[0][0]
    assert conf == 1.0
    with pytest.raises(ValueError, match="need >= 2"):
        train_langid(docs.filter(F.col("lang") == "en"))


def test_score_langid_matches_numpy_and_tiebreak(spark):
    """score_langid margins equal a numpy recomputation from the same
    coeff table (intercept completion included: a doc with no feature
    overlap for some language still gets that language's intercept),
    and exact margin ties break to the lexicographically larger lang."""
    from slowspark.qualityclf import score_langid

    feats = spark.createDataFrame(
        [(1, 10, 0.6), (1, 11, 0.8), (2, 99, 1.0)],
        "id long, bucket int, tf double",
    )
    co = spark.createDataFrame(
        [
            ("aa", 10, 2.0), ("aa", -1, 0.1),
            ("bb", 11, 1.5), ("bb", -1, 0.1),
            ("cc", -1, 0.5),
        ],
        "lang string, bucket int, weight double",
    )
    got = {r["id"]: (r["lang_pred"], r["margin"])
           for r in score_langid(feats, co).collect()}
    # doc 1: aa = 0.6*2 + 0.1 = 1.3; bb = 0.8*1.5 + 0.1 = 1.3 (tie);
    # cc = 0.5 -> tie breaks to 'bb' (larger lang)
    assert got[1] == ("bb", pytest.approx(1.3))
    # doc 2: no bucket overlap anywhere -> intercepts only -> cc wins
    assert got[2] == ("cc", pytest.approx(0.5))
