"""bpe: distributed BPE training/segmentation vs a pure-Python reference."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from slowspark.bpe import bpe_learn, bpe_segment, word_frequencies


def _ref_bpe(word_counts: dict[str, int], n_merges: int):
    """Reference Sennrich BPE on a word-frequency dict: left-to-right
    non-overlapping merge application, (count desc, pair asc) argmax."""
    words: dict[tuple, int] = {}
    for w, c in word_counts.items():
        words[tuple(w)] = words.get(tuple(w), 0) + c
    merges = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        pc = Counter({p: c for p, c in pc.items() if c >= 2})
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append({"left": a, "right": b, "merged": a + b, "pair_count": c})
        new: dict[tuple, int] = {}
        for syms, cnt in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + cnt
        words = new
    return merges


def _ref_segment(word: str, merges) -> list[str]:
    syms = list(word)
    for m in merges:
        out, i = [], 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] == m["left"]
                and syms[i + 1] == m["right"]
            ):
                out.append(m["merged"])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


CORPUS = [
    (1, "low low low lower lower lowest newest newest newest newest"),
    (2, "wider wider new new newer lowest widest low"),
    (3, "the cat sat on the mat the cat ran"),
]


def test_word_frequencies(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wf = {r["word"]: r["count"] for r in word_frequencies(df).collect()}
    assert wf["low"] == 4 and wf["newest"] == 4 and wf["the"] == 3


def test_bpe_learn_matches_reference(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wf = {r["word"]: r["count"] for r in word_frequencies(df).collect()}
    got = bpe_learn(df, n_merges=10)
    ref = _ref_bpe(wf, 10)
    assert [
        (m["left"], m["right"], m["merged"], m["pair_count"]) for m in got
    ] == [(m["left"], m["right"], m["merged"], m["pair_count"]) for m in ref]
    assert [m["merge_ix"] for m in got] == list(range(len(got)))


def test_bpe_multichar_symbol_boundary_safety(spark):
    """After (a,b)->ab, the pair (b,c) must match only a REAL b symbol —
    never the b inside the merged 'ab' (the sentinel-wrapping invariant)."""
    # counts: (a,b)=5 ties (b,c)=5 -> lexicographic picks (a,b); then
    # (ab,c)=3 beats (b,c)=2; merge 3 IS (b,c) and must touch only the
    # real b,c symbols in 'xbc' — never the 'bc' inside the merged 'abc'
    text = "abc abc abc ab ab xbc xbc"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = bpe_learn(df, n_merges=3)
    assert [(m["left"], m["right"]) for m in got] == [
        ("a", "b"), ("ab", "c"), ("b", "c"),
    ]
    seg = {
        r["doc_id"]: r["tokens"]
        for r in bpe_segment(df, got).collect()
    }
    ref = _ref_bpe({"abc": 3, "ab": 2, "xbc": 2}, 3)
    exp = []
    for w in text.split():
        exp.extend(_ref_segment(w, ref))
    assert seg[1] == exp
    assert _ref_segment("abc", ref) == ["abc"]  # stayed whole
    assert _ref_segment("xbc", ref) == ["x", "bc"]


def test_bpe_early_stop_and_bad_args(spark):
    df = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    got = bpe_learn(df, n_merges=50)
    assert got == []  # no pair reaches count 2
    with pytest.raises(ValueError, match="n_merges"):
        bpe_learn(df, 0)


def test_bpe_segment_matches_reference(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges = bpe_learn(df, n_merges=6)
    seg = {r["doc_id"]: r for r in bpe_segment(df, merges).collect()}
    for doc_id, text in CORPUS:
        exp = []
        for w in text.split():
            exp.extend(_ref_segment(w, merges))
        assert seg[doc_id]["tokens"] == exp
        assert seg[doc_id]["n_tokens"] == len(exp)


def test_bpe_segment_udf_matches_expression_path_small(spark):
    """Token-identity differential at 8 merges: the broadcast merge-rank
    UDF segmenter must reproduce the replace-chain path exactly."""
    from slowspark.bpe import bpe_segment_udf

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges = bpe_learn(df, n_merges=8)
    assert len(merges) >= 6
    expr = {r["doc_id"]: r for r in bpe_segment(df, merges).collect()}
    udf = {r["doc_id"]: r for r in bpe_segment_udf(df, merges).collect()}
    assert set(expr) == set(udf)
    for d in expr:
        assert udf[d]["tokens"] == expr[d]["tokens"], d
        assert udf[d]["n_tokens"] == expr[d]["n_tokens"]


def _rich_corpus(spark):
    """A deterministic corpus richer than the sf testdata (whose
    synthetic vocabulary exhausts its count>=2 pairs at 89 merges):
    1,500 md5-hex words with Zipf-ish counts, enough pairs for 300+
    merges at word and at byte level."""
    import hashlib

    words = [
        hashlib.md5(f"w{i}".encode()).hexdigest()[: 5 + i % 8]
        for i in range(1500)
    ]
    toks = [w for i, w in enumerate(words) for _ in range(1 + 400 // (i + 1))]
    docs = [
        (d, " ".join(toks[d * 60 : (d + 1) * 60]))
        for d in range(len(toks) // 60)
    ]
    return docs, spark.createDataFrame(docs, "doc_id long, text string")


def test_bpe_segment_udf_matches_expression_path_200_merges(spark):
    """Token-identity differential at ~200 merges (the production-side
    regime the expression path tops out at)."""
    from slowspark.bpe import bpe_segment_udf

    _, df = _rich_corpus(spark)
    merges = bpe_learn(df, n_merges=200, rounds_per_pass=32)
    assert len(merges) == 200, len(merges)
    expr = {
        r["doc_id"]: r["tokens"]
        for r in bpe_segment(df, merges).collect()
    }
    udf = {
        r["doc_id"]: r["tokens"]
        for r in bpe_segment_udf(df, merges).collect()
    }
    assert expr == udf


def test_bpe_learn_batched_matches_one_at_a_time(spark):
    """rounds_per_pass=k must learn the SAME ordered merge table as k=1
    on a corpus where batched picks are symbol-disjoint and no
    mid-pass-created pair can out-rank a same-pass pick (two-char words
    over disjoint alphabets: each merge collapses its word to one
    symbol, creating no new pairs at all)."""
    rows = [
        (1, " ".join(["aa"] * 50 + ["bb"] * 40 + ["cc"] * 30 + ["dd"] * 20)),
        (2, " ".join(["ee"] * 10 + ["ff"] * 6 + ["gg"] * 4)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    one = bpe_learn(df, n_merges=7, rounds_per_pass=1)
    for k in (3, 4, 7, 100):
        batched = bpe_learn(df, n_merges=7, rounds_per_pass=k)
        assert batched == one, k
    with pytest.raises(ValueError, match="rounds_per_pass"):
        bpe_learn(df, 5, rounds_per_pass=0)


def test_bpe_learn_batched_skips_conflicting_pairs(spark):
    """Within a pass only symbol-disjoint pairs are accepted: with
    (a,b) and (b,c) both frequent, one pass must take (a,b) (count
    order), DEFER (b,c) (shares 'b'), and pick it up next pass after
    recounting — never apply two same-symbol merges on frozen counts."""
    # (a,b) count 7 > (b,c) count 5 (the 2 xbc + 5 abc... construct)
    text = " ".join(["abq"] * 7 + ["xbc"] * 5)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    one = bpe_learn(df, n_merges=4, rounds_per_pass=1)
    batched = bpe_learn(df, n_merges=4, rounds_per_pass=4)
    got = [(m["left"], m["right"]) for m in batched]
    # first pass: (a,b) then (x,?)/(b,c)... every adjacent duplicate-symbol
    # candidate deferred; all four merges still learned, orders may differ
    assert len(batched) == len(one) == 4
    assert set(got) == {(m["left"], m["right"]) for m in one}
    # within each pass, accepted pairs are mutually symbol-disjoint: no
    # pair's left/right equals another same-pass pair's left/right —
    # verified indirectly: (a,b) and (b,c) not both in the first pass
    # (they share 'b'); since pass 1 had capacity 4 but (b,c) conflicts,
    # (b,c)'s merge_ix must come after a recount round
    ab_ix = got.index(("a", "b"))
    bc_ix = got.index(("b", "c")) if ("b", "c") in got else None
    if bc_ix is not None:
        assert bc_ix > ab_ix


@pytest.mark.parametrize("byte_level", [False, True])
def test_bpe_segment_above_256_merges_takes_the_udf_path(spark, byte_level):
    """Past 256 merges bpe_segment segments through bpe_segment_udf
    instead of refusing the table: tokens and counts_only counts equal
    the UDF path's and the in-order merge replay of the reference, at
    word level and at byte level."""
    from slowspark.bpe import _byte_map, bpe_segment_udf

    docs, df = _rich_corpus(spark)
    merges = bpe_learn(df, n_merges=300, rounds_per_pass=64,
                       byte_level=byte_level)
    assert len(merges) == 300, len(merges)
    got = {r["doc_id"]: r["tokens"] for r in
           bpe_segment(df, merges, byte_level=byte_level).collect()}
    udf = {r["doc_id"]: r["tokens"] for r in
           bpe_segment_udf(df, merges, byte_level=byte_level).collect()}
    assert got == udf
    for doc_id, text in docs[::25]:
        words = (
            [_byte_map(pt) for pt in _py_pretokenize(text)] if byte_level
            else text.split()
        )
        assert got[doc_id] == [
            t for w in words for t in _ref_segment(w, merges)
        ], doc_id
    counts = {r["doc_id"]: r["n_tokens"] for r in bpe_segment(
        df, merges, byte_level=byte_level, counts_only=True).collect()}
    assert counts == {d: len(t) for d, t in got.items()}


# ---------------------------------------------------------------------------
# Byte-level mode (GPT-2): pre-tokenization mirror + end-to-end differentials
# ---------------------------------------------------------------------------

def _py_pretokenize(text: str) -> list[str]:
    """Pure-Python mirror of GPT2_PRETOKEN_RE's Java semantics, char by
    char via unicodedata categories (Python re lacks \\p{L}): leftmost
    alternative wins, `\\s+(?!\\S)` leaves the last whitespace char of a
    run to (maybe) attach to the next token. Excludes \\x1c-\\x1f from
    whitespace (Python isspace() counts them, Java (?U)\\s does not)."""
    import unicodedata

    def is_l(c):
        return unicodedata.category(c).startswith("L")

    def is_n(c):
        return unicodedata.category(c).startswith("N")

    def is_ws(c):
        return c.isspace() and c not in "\x1c\x1d\x1e\x1f"

    CONTR = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")
    out, i, n = [], 0, len(text)
    while i < n:
        for c in CONTR:
            if text.startswith(c, i):
                out.append(c)
                i += len(c)
                break
        else:
            j = i
            k = j + 1 if text[j] == " " else j
            if k < n and is_l(text[k]):
                e = k
                while e < n and is_l(text[e]):
                    e += 1
                out.append(text[j:e])
                i = e
            elif k < n and is_n(text[k]):
                e = k
                while e < n and is_n(text[e]):
                    e += 1
                out.append(text[j:e])
                i = e
            elif (k < n and not is_ws(text[k]) and not is_l(text[k])
                  and not is_n(text[k])):
                e = k
                while (e < n and not is_ws(text[e]) and not is_l(text[e])
                       and not is_n(text[e])):
                    e += 1
                out.append(text[j:e])
                i = e
            else:
                # whitespace run (text[j] is ws here by construction)
                e = j
                while e < n and is_ws(text[e]):
                    e += 1
                if e < n and e - j >= 2:
                    out.append(text[j:e - 1])  # \s+(?!\S) backtracks one
                    i = e - 1
                else:
                    out.append(text[j:e])      # trailing run, or plain \s+
                    i = e
    return out


UNICODE_CORPUS = [
    (1, "héllo wörld  it's l'école 漢字漢字 123 4,56!  tail's"),
    (2, "Emoji ☃ snow\t\tmix   spaces\n\nnewlines aren't FuNkY?"),
    (3, "naïve café naïve café CAFÉ  's what'll we'd œuf œuf"),
    (4, "digitsé12mix ΑΒΓαβγ ΑΒΓαβγ русский текст русский héllo"),
]


def test_gpt2_pretokenize_matches_mirror(spark):
    """The JVM regex and the category-driven Python mirror tile every
    document into the SAME pre-token list (contractions, optional-space
    runs, trailing-whitespace lookahead, CJK/Greek/Cyrillic letters,
    tabs/newlines, contraction-after-double-space)."""
    from slowspark.bpe import gpt2_pretoken_array

    df = spark.createDataFrame(UNICODE_CORPUS, "doc_id long, text string")
    got = {r["doc_id"]: r["a"] for r in
           df.select("doc_id",
                     gpt2_pretoken_array("text").alias("a")).collect()}
    for did, text in UNICODE_CORPUS:
        assert got[did] == _py_pretokenize(text), f"doc {did}"
        assert "".join(got[did]) == text  # the regex tiles the string


def test_bpe_byte_level_learn_matches_reference(spark):
    """byte_level=True trains over byte-mapped GPT-2 pre-tokens and must
    equal the pure-Python reference trainer (same tie-break, same
    left-to-right merge application) on a unicode-heavy corpus — merge
    strings, order, and counts all identical."""
    from slowspark.bpe import bytes_to_unicode

    b2u = bytes_to_unicode()
    wf = Counter()
    for _, text in UNICODE_CORPUS:
        for pt in _py_pretokenize(text):
            wf["".join(b2u[b] for b in pt.encode("utf-8"))] += 1
    df = spark.createDataFrame(UNICODE_CORPUS, "doc_id long, text string")
    got = bpe_learn(df, n_merges=12, byte_level=True)
    ref = _ref_bpe(dict(wf), 12)
    assert [
        (m["left"], m["right"], m["merged"], m["pair_count"]) for m in got
    ] == [(m["left"], m["right"], m["merged"], m["pair_count"]) for m in ref]
    # multi-byte chars became multi-symbol byte sequences: at least one
    # learned merge glues two bytes of one UTF-8 char (é, 漢, Α, ...)
    assert any(len(m["merged"].encode("utf-8")) > len(m["merged"])
               or ord(max(m["merged"])) > 255 for m in got)


def test_bpe_byte_level_segment_paths_and_losslessness(spark):
    """The replace-chain expression path and the broadcast-rank UDF path
    segment byte-level corpora token-identically; per-doc tokens equal
    the mirror's in-order merge replay; and decoding every token's bytes
    reconstructs each document EXACTLY (the no-OOV byte-level
    guarantee) — including case, double spaces, tabs, and CJK."""
    from slowspark.bpe import (
        bpe_segment_udf, bytes_to_unicode, decode_token,
    )

    df = spark.createDataFrame(UNICODE_CORPUS, "doc_id long, text string")
    merges = bpe_learn(df, n_merges=12, byte_level=True)
    expr = {r["doc_id"]: r["tokens"] for r in
            bpe_segment(df, merges, byte_level=True).collect()}
    udf = {r["doc_id"]: r["tokens"] for r in
           bpe_segment_udf(df, merges, byte_level=True).collect()}
    assert expr == udf
    b2u = bytes_to_unicode()
    for did, text in UNICODE_CORPUS:
        want = []
        for pt in _py_pretokenize(text):
            mapped = "".join(b2u[b] for b in pt.encode("utf-8"))
            want.extend(_ref_segment(mapped, merges))
        assert expr[did] == want, f"doc {did}"
        raw = b"".join(decode_token(t) for t in expr[did])
        assert raw.decode("utf-8") == text, f"doc {did} not lossless"


def test_bpe_byte_level_case_and_space_sensitivity(spark):
    """What byte level buys over the word path: ' the' and 'The' are
    DISTINCT learned units (no lowering, leading space in-token), and a
    word-path-invisible whitespace distinction (double space) survives
    the round trip."""
    rows = [(1, "The the The the  the the The")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from slowspark.bpe import pretoken_frequencies

    wf = {r["word"]: r["count"] for r in pretoken_frequencies(df).collect()}
    g = "Ġ"  # byte-mapped space
    assert wf[f"{g}the"] == 4 and wf[f"{g}The"] == 2
    assert wf["The"] == 1 and wf[g] == 1  # doc-initial word; extra space
