"""Unigram-LM tokenizer: pure-Python mirror differential for the
distributed seed/E-step aggregations, Viterbi properties, coverage,
and partition invariance."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from slowspark.unigramlm import (
    UNK_LOGP,
    seed_pieces,
    unigram_segment_counts,
    unigram_train,
    viterbi_pieces,
)

CORPUS = [
    "the cat sat on the mat",
    "the cat ran to the hat",
    "a cat and a mat and a hat",
    "the the the cat cat mat",
]


def _mirror_train(texts, vocab_size, n_rounds, max_piece_len, seed_size):
    words = Counter()
    for t in texts:
        for w in t.lower().split():
            words[w] += 1
    # seed: substrings weighted by word count
    sub = Counter()
    for w, c in words.items():
        for s in range(len(w)):
            for e in range(s + 1, min(s + max_piece_len, len(w)) + 1):
                sub[w[s:e]] += c
    top = sorted(sub.items(), key=lambda pc: (-pc[1], pc[0]))[:seed_size]
    counts = dict(top)
    for p, c in sub.items():
        if len(p) == 1:
            counts[p] = c
    def logp_of(cnt):
        tot = sum(c for _, c in sorted(cnt.items()))
        lt = math.log(float(tot))
        return {p: math.log(float(c)) - lt for p, c in cnt.items()}
    model = logp_of(counts)
    for _ in range(n_rounds):
        new = Counter()
        for w, c in words.items():
            for p in viterbi_pieces(w, model, max_piece_len):
                new[p] += c
        for p in counts:
            if len(p) == 1 and p not in new:
                new[p] = 1
        counts = dict(new)
        model = logp_of(counts)
    keep = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))[:vocab_size]
    kept = {p for p, _ in keep}
    for p, c in counts.items():
        if len(p) == 1 and p not in kept:
            keep.append((p, c))
    fc = dict(keep)
    return fc, logp_of(fc)


def test_train_matches_pure_python_mirror(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    got = {
        r["piece"]: (r["count"], r["logp"])
        for r in unigram_train(
            df, vocab_size=20, n_rounds=2, max_piece_len=4, seed_size=30
        ).collect()
    }
    fc, fm = _mirror_train(CORPUS, 20, 2, 4, 30)
    assert set(got) == set(fc)
    for p in fc:
        assert got[p][0] == fc[p]
        assert got[p][1] == fm[p]  # bit-exact float64 (driver-computed)


def test_viterbi_prefers_frequent_whole_pieces(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    model = unigram_train(df, vocab_size=30, n_rounds=2, max_piece_len=4,
                          seed_size=50)
    logp = {r["piece"]: r["logp"] for r in model.collect()}
    # 'cat' and 'the' are frequent whole words -> single pieces
    assert viterbi_pieces("cat", logp, 4) == ["cat"]
    assert viterbi_pieces("the", logp, 4) == ["the"]
    # concatenation splits into the two known pieces
    assert viterbi_pieces("thecat", logp, 4) == ["the", "cat"]


def test_unigram_segment_counts_match_viterbi_per_word(spark):
    """unigram_segment's per-doc n_tokens is the sum of viterbi_pieces
    lengths over the doc's words, typed int like bpe_segment's."""
    from slowspark.unigramlm import unigram_segment

    docs = [(i, t) for i, t in enumerate(CORPUS)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    model = unigram_train(df, vocab_size=12, n_rounds=1, max_piece_len=4,
                          seed_size=40)
    logp = {r["piece"]: r["logp"] for r in model.collect()}
    seg = unigram_segment(df, model, max_piece_len=4)
    assert dict(seg.dtypes)["n_tokens"] == "int"
    assert {r["doc_id"]: r["n_tokens"] for r in seg.collect()} == {
        i: sum(len(viterbi_pieces(w, logp, 4)) for w in t.split())
        for i, t in docs
    }


def test_viterbi_unk_coverage_and_tie_rule():
    # unseen char 'z' covered at UNK_LOGP as a single piece
    logp = {"ab": -1.0, "a": -2.0, "b": -2.0}
    assert viterbi_pieces("azb", logp, 2) == ["a", "z", "b"]
    # tie: two equal-score paths -> smallest start (longest last piece).
    # pieces: x=-1, y=-1, xy=-2: 'xy' paths [x,y] and [xy] both -2.0;
    # smallest start for final piece = 0 -> ['xy']
    assert viterbi_pieces("xy", {"x": -1.0, "y": -1.0, "xy": -2.0}, 2) \
        == ["xy"]


def test_segment_counts_and_partition_invariance(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS * 5)], "doc_id long, text string"
    )
    model = unigram_train(df, vocab_size=25, n_rounds=1, max_piece_len=4,
                          seed_size=40)
    key = lambda r: (r["piece"], r["n"])
    a = sorted(map(key, unigram_segment_counts(
        df.repartition(1), model, max_piece_len=4).collect()))
    b = sorted(map(key, unigram_segment_counts(
        df.repartition(9), model, max_piece_len=4).collect()))
    assert a == b and len(a) > 0
    # totals conserve: sum of piece usage x piece length = total chars
    chars = df.select(
        F.sum(F.expr(
            "aggregate(transform(split(trim(lower(text)), '\\\\s+'), "
            "w -> length(w)), 0L, (acc, x) -> acc + x)"
        ))
    ).collect()[0][0]
    tot = sum(n * len(p) for p, n in a)
    assert tot == chars


def test_save_load_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, "aa ab aa")], "doc_id long, text string"
    )
    m = unigram_train(df, vocab_size=8, n_rounds=1, max_piece_len=2,
                      seed_size=10)
    with pytest.raises(ValueError, match="vocab_size"):
        unigram_train(df, vocab_size=0)


def test_seed_keeps_all_single_chars(spark):
    words = spark.createDataFrame(
        [("abcdef", 1), ("zz", 100)], "word string, count long"
    )
    got = {r["piece"] for r in
           seed_pieces(words, max_piece_len=3, seed_size=2).collect()}
    # top-2 by count plus EVERY single char
    assert {"a", "b", "c", "d", "e", "f", "z"} <= got
