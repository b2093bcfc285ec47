"""DSIR importance-resampling tests: featurization shape, a pure-Python
model differential, Gumbel top-k determinism, and the selection-bias
sanity the operator exists for."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from slowspark import dsir


def _bucket(gram: str, n_buckets: int = 10_000, salt: str = "") -> int:
    return int(hashlib.md5((gram + salt).encode()).hexdigest()[:8], 16) % n_buckets


def _grams(text: str) -> list[str]:
    toks = [t for t in text.lower().split() if t]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _py_log_weights(raw, target, n_buckets=10_000, alpha=1.0):
    """Pure-Python reimplementation of the bucket log-ratio model +
    dsir_log_weights."""
    c_raw: dict = {}
    c_tgt: dict = {}
    for _, t in raw:
        for g in _grams(t):
            b = _bucket(g, n_buckets)
            c_raw[b] = c_raw.get(b, 0) + 1
    for _, t in target:
        for g in _grams(t):
            b = _bucket(g, n_buckets)
            c_tgt[b] = c_tgt.get(b, 0) + 1
    t_raw, t_tgt = sum(c_raw.values()), sum(c_tgt.values())
    denom = alpha * n_buckets
    out = {}
    for did, t in raw:
        w = 0.0
        for g in _grams(t):
            b = _bucket(g, n_buckets)
            w += math.log((c_tgt.get(b, 0) + alpha) / (t_tgt + denom)) - math.log(
                (c_raw[b] + alpha) / (t_raw + denom)
            )
        out[did] = (len(_grams(t)), w)
    return out


RAW = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "buy cheap pills online now discount pills"),
    (3, "the theorem follows from the lemma above"),
    (4, ""),
    (5, "single"),
]
TARGET = [
    (100, "the lemma implies the theorem by induction"),
    (101, "a theorem and its lemma the proof follows"),
]


def test_hashed_ngram_rows_shape(spark):
    df = spark.createDataFrame(RAW, "doc_id long, text string")
    rows = dsir.hashed_ngram_rows(df).groupBy("doc_id").count().collect()
    got = {r["doc_id"]: r["count"] for r in rows}
    # n tokens -> n unigrams + (n-1) bigrams; empty doc yields no rows,
    # 1-token doc yields exactly its unigram
    assert got == {1: 17, 2: 13, 3: 13, 5: 1}


def test_log_weights_match_python_model(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    tgt = spark.createDataFrame(TARGET, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir.dsir_log_weights(raw, tgt).collect()
    }
    exp = _py_log_weights(RAW, TARGET)
    # the empty doc is present with a zero bag, never dropped
    assert got[4] == (0, 0.0)
    for did, (n, w) in exp.items():
        assert got[did][0] == n
        assert got[did][1] == pytest.approx(w, abs=1e-9)
    # the sanity DSIR exists for: the in-distribution doc (shares the
    # target's theorem/lemma vocabulary) outweighs the spam doc
    assert got[3][1] > got[2][1]


def test_topk_deterministic_seeded_and_cut(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    tgt = spark.createDataFrame(TARGET, "doc_id long, text string")
    one = dsir.dsir_topk(raw, tgt, k=3, seed="7").collect()
    two = dsir.dsir_topk(raw, tgt, k=3, seed="7").collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, two))
    assert len(one) == 3
    assert {r["dsir_rank"] for r in one} == {0, 1, 2}
    # a different seed redraws the noise: scores change
    other = dsir.dsir_topk(raw, tgt, k=3, seed="8").collect()
    assert {r["doc_id"]: r["dsir_score"] for r in other} != {
        r["doc_id"]: r["dsir_score"] for r in one
    }
    # rank order follows (score desc, id)
    by_rank = sorted(one, key=lambda r: r["dsir_rank"])
    scores = [r["dsir_score"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_topk_validates_k(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    tgt = spark.createDataFrame(TARGET, "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be >= 1"):
        dsir.dsir_topk(raw, tgt, k=0)
    with pytest.raises(ValueError, match="alpha must be > 0"):
        dsir.dsir_topk(raw, tgt, k=1, alpha=0.0)


def test_selection_bias_toward_target_distribution(spark):
    """With a well-conditioned model (target gram mass >> smoothing mass
    alpha * n_buckets — the docstring's conditioning requirement),
    selection skews hard toward the target-like population: 30
    target-like and 30 spam-like raw docs, select 20, expect a strong
    majority target-like."""
    tgt_like = [
        (i, f"the theorem and the lemma yield proof number {i % 3}")
        for i in range(30)
    ]
    spam = [
        (100 + i, f"cheap pills discount offer code {i % 3} buy now")
        for i in range(30)
    ]
    raw = spark.createDataFrame(tgt_like + spam, "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(200 + i, f"a theorem implies the lemma by proof {i % 5}") for i in range(10)],
        "doc_id long, text string",
    )
    sel = dsir.dsir_topk(
        raw, tgt, k=20, seed="42", n_buckets=512, alpha=0.01
    ).collect()
    n_target_like = sum(1 for r in sel if r["doc_id"] < 100)
    assert n_target_like >= 16


def test_length_normalize_kills_length_bias(spark):
    """A smoothing-dominated model (tiny target, alpha*n_buckets >> gram
    mass) degenerates to rare-gram scoring where raw sums just count
    length — the mean-per-gram variant still ranks the in-distribution
    doc above equally-LONG off-distribution junk, and per-gram scores
    equal sum/len of the raw variant."""
    raw_rows = [
        (1, "the theorem follows from the lemma above and the proof holds"),
        (2, "buy cheap pills online now discount pills offer code today"),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(TARGET, "doc_id long, text string")
    raw_w = {
        r["doc_id"]: r for r in dsir.dsir_log_weights(raw, tgt).collect()
    }
    norm_w = {
        r["doc_id"]: r
        for r in dsir.dsir_log_weights(raw, tgt, length_normalize=True).collect()
    }
    for did in (1, 2):
        assert norm_w[did]["log_weight"] == pytest.approx(
            raw_w[did]["log_weight"] / raw_w[did]["n_grams"], abs=1e-12
        )
    assert norm_w[1]["log_weight"] > norm_w[2]["log_weight"]
