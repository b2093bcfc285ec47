"""Gopher repetition-signal tests: a fully hand-computed fixture (every
signal checked exactly), interval-union semantics, tie-breaks, edge
docs, threshold flags."""

import pytest
from pyspark.sql import functions as F

from slowspark import gopherrep

# period-6 token stream repeated twice; repeated lines and paragraphs
DOC_A = "foo bar\nfoo bar\nbaz qux\n\nfoo bar\nfoo bar\nbaz qux"


def _stats(spark, text, did=1):
    df = spark.createDataFrame([(did, text)], "doc_id long, text string")
    return gopherrep.gopher_repetition_stats(df).collect()[0].asDict()


def test_hand_computed_fixture(spark):
    s = _stats(spark, DOC_A)
    assert s["n_lines"] == 6
    assert s["dup_line_frac"] == pytest.approx(4 / 6)
    assert s["dup_line_char_frac"] == pytest.approx(28 / 42)
    assert s["n_paras"] == 2
    assert s["dup_para_frac"] == pytest.approx(0.5)
    assert s["dup_para_char_frac"] == pytest.approx(0.5)
    # joined stream: 12 tokens x 3 chars + 11 spaces = 47
    assert s["top_2gram_char_frac"] == pytest.approx(28 / 47)  # 'foo bar' x4
    # count-2 tie among trigrams -> lexicographically smallest 'bar baz qux'
    assert s["top_3gram_char_frac"] == pytest.approx(22 / 47)
    assert s["top_4gram_char_frac"] == pytest.approx(30 / 47)
    # overlapping flagged 5-gram spans [0,18],[4,22] union to 23 chars
    # (counted once), same on the second period: 46/47
    assert s["dup_5gram_char_frac"] == pytest.approx(46 / 47)
    assert s["dup_6gram_char_frac"] == pytest.approx(46 / 47)
    # period 6: no 7..10-gram repeats
    for n in (7, 8, 9, 10):
        assert s[f"dup_{n}gram_char_frac"] == 0.0


def test_edge_docs(spark):
    empty = _stats(spark, "")
    assert empty["n_lines"] == 0 and empty["n_paras"] == 0
    for c in gopherrep._STAT_COLS:
        if c not in ("n_lines", "n_paras"):
            assert empty[c] == 0.0
    short = _stats(spark, "only three tokens")
    assert short["top_2gram_char_frac"] > 0.0  # top bigram counted at count 1
    assert short["dup_5gram_char_frac"] == 0.0  # fewer tokens than n
    # null text behaves as empty
    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    row = gopherrep.gopher_repetition_stats(df).collect()[0]
    assert row["n_lines"] == 0


def test_ascii_whitespace_tokenization_matches_repo_convention(spark):
    """NBSP is NOT a token separator (Java \\s semantics, ws_token_array):
    'a\\xa0b c' is two tokens. Python str.split() would say three — the
    divergence this test pins shut."""
    s = _stats(spark, "a\xa0b c a\xa0b c")
    # 4 tokens of lens (3,1,3,1), joined = 11; top bigram 'a\xa0b c' x2 -> 10/11
    assert s["top_2gram_char_frac"] == pytest.approx(10 / 11)


def test_flags_thresholds_and_keep(spark):
    # the clean doc must be LONG: with count-1 top-grams counted (the
    # Gopher/DataTrove convention) a short doc's single top trigram alone
    # exceeds 18% of its characters — Gopher pairs these rules with a
    # min-word-count gate (quality_filter_flags) precisely for that
    clean = " ".join(f"word{i:02d} item{i:02d}" for i in range(30))
    df = spark.createDataFrame(
        [(1, DOC_A), (2, clean)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in
           gopherrep.gopher_repetition_flags(df).collect()}
    assert out[1]["keep"] is False
    assert out[1]["ok_dup_line_frac"] is False  # 0.667 > 0.30
    assert out[2]["keep"] is True
    assert all(out[2][f"ok_{k}"] for k in gopherrep.GOPHER_REPETITION_THRESHOLDS)


def test_flags_unknown_threshold_raises(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown signal"):
        gopherrep.gopher_repetition_flags(df, thresholds={"dup_line_fraction": 0.1})


def test_id_type_preserved_and_no_shuffle(spark):
    df = spark.createDataFrame(
        [("doc-a", "w x y z"), ("doc-b", "p q r s")], "doc_id string, text string"
    )
    out = gopherrep.gopher_repetition_stats(df)
    assert dict(out.dtypes)["doc_id"] == "string"
    # narrow plan: a single mapInArrow over the scan, no Exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
