"""Distributed Unigram-LM tokenizer (Kudo 2018, SentencePiece's other
model) — the subword family BPE cannot express: instead of a merge
ordering, the vocabulary is a set of pieces with probabilities, and a
word's tokenization is the Viterbi-best segmentation under the unigram
likelihood. Trained here as deterministic Viterbi hard-EM (documented
divergence from the paper's soft-EM + likelihood-loss pruning: hard EM
is the standard deterministic variant; soft EM's forward-backward
expectations are order-sensitive float sums that no second engine
could replay exactly).

Scale discipline (the bpe.py contract): ONE corpus-wide pass builds the
distinct-word frequency table; seeding, every EM round, and final
segmentation run over that table (10^7-ish rows at web scale, vs 10^12
tokens). The piece table is bounded by seed_size and collected to the
driver once per round (a few MB at production vocab sizes — the
documented bounded-collect idiom; the E-step itself is distributed).
Python appears only in the Viterbi pass over DISTINCT words, which is
bpe's one distinct-word segmentation stage (bpe._segment_words, the
model broadcast once) with viterbi_pieces as its per-word function —
the stage bpe_segment_udf runs its merge-rank loop in.

Determinism contract (what lets DuckDB replay the segmenter): Viterbi
scans candidate starts in ASCENDING order with strictly-greater
updates, so ties keep the SMALLEST start (= longest last piece); piece
log-probs are computed ONCE in float64 on the driver and carried as
data (the HLL no-engine-ln lesson: both engines consume identical
doubles instead of each calling their own libm); per-candidate score is
a single two-double addition — bit-exact everywhere. Characters absent
from the vocabulary segment as single-char pieces at UNK_LOGP.

No reference analog (/root/reference is a slow-log parser, src/*.rs).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

UNK_LOGP = -100.0


def seed_pieces(
    words: DataFrame,
    max_piece_len: int = 8,
    seed_size: int = 2000,
) -> DataFrame:
    """Seed vocabulary: every substring of length 1..max_piece_len of
    every distinct word, weighted by word frequency x occurrence count,
    kept to the top `seed_size` by (count desc, piece asc) — PLUS every
    single character regardless of rank (the coverage floor: Viterbi
    must always have a path). One explode + one map-side-combined
    groupBy over the distinct-word table; the rank prune is a
    distributed sort-limit, never a driver sort."""
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    subs = F.expr(
        f"flatten(transform(sequence(1, length(word)), "
        f"s -> transform(sequence(s, least(s + {max_piece_len} - 1, "
        f"length(word))), e -> substring(word, s, e - s + 1))))"
    )
    counts = (
        words.select("count", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("count").alias("count"))
    )
    chars = counts.filter(F.length("piece") == 1)
    top = (
        counts.orderBy(F.col("count").desc(), F.col("piece").asc())
        .limit(seed_size)
    )
    return top.unionByName(chars).groupBy("piece").agg(
        F.max("count").alias("count")
    )


def _logp_model(pairs: list[tuple[str, int]]) -> dict[str, float]:
    """(piece, count) -> {piece: ln(count/total)} in float64. Zero/neg
    counts are a bug upstream and raise."""
    total = 0
    for p, c in pairs:
        if c <= 0:
            raise ValueError(f"unigram: non-positive count for {p!r}")
        total += c
    lt = math.log(float(total))
    return {p: math.log(float(c)) - lt for p, c in pairs}


def viterbi_pieces(word: str, logp: dict, max_piece_len: int) -> list:
    """Viterbi-best segmentation; ties keep the smallest start (see
    module contract). Pure function — the test mirror and the UDF share
    it."""
    n = len(word)
    best = [0.0] + [None] * n
    bp = [0] * (n + 1)
    for pos in range(1, n + 1):
        b, arg = None, None
        for j in range(max(0, pos - max_piece_len), pos):
            if best[j] is None:
                continue
            piece = word[j:pos]
            lp = logp.get(piece)
            if lp is None:
                if pos - j != 1:
                    continue
                lp = UNK_LOGP
            s = best[j] + lp
            if b is None or s > b:
                b, arg = s, j
        best[pos], bp[pos] = b, arg
    out = []
    pos = n
    while pos > 0:
        j = bp[pos]
        out.append(word[j:pos])
        pos = j
    out.reverse()
    return out


def _viterbi(word: str, model: tuple) -> list:
    """viterbi_pieces under the broadcast (logp, max_piece_len) model."""
    return viterbi_pieces(word, *model)


def _viterbi_counts(
    words: DataFrame, logp: dict, max_piece_len: int
) -> DataFrame:
    """E-step / corpus-count pass: per-piece usage counts over the
    distinct-word table, Viterbi per word in the distinct-word stage,
    weighted by word frequency. Python work is O(distinct words x len x
    max_piece_len)."""
    from slowspark.bpe import _segment_words

    seg = _segment_words(
        words.select("word", "count"), (logp, max_piece_len), _viterbi
    )
    return (
        seg.select("count", F.explode("sym").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("count").alias("count"))
    )


def _word_table(df: DataFrame, text_col: str) -> DataFrame:
    """bpe.word_frequencies, materialized and spread: the distinct-word
    table the trainer's EM rounds and the segment counts each read. It
    comes out of an AQE-coalesced groupBy (~1 partition at test scale),
    so it is materialized before spread reads its partition count."""
    from slowspark.bpe import word_frequencies
    from slowspark.util import materialize, spread

    return spread(materialize(word_frequencies(df, text_col)))


def _piece_logp(model: DataFrame) -> dict[str, float]:
    """A trained model's {piece: logp} on the driver (bounded collect:
    one row per vocabulary piece)."""
    return {
        r["piece"]: r["logp"] for r in model.select("piece", "logp").collect()
    }


def unigram_train(
    df: DataFrame,
    vocab_size: int = 512,
    n_rounds: int = 2,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    text_col: str = "text",
    words: DataFrame | None = None,
) -> DataFrame:
    """Train a unigram-LM vocabulary: seed from substring frequencies,
    n_rounds of Viterbi hard-EM over the distinct-word table, then
    prune to `vocab_size` by (usage desc, piece asc) with single
    characters always kept. Returns (piece, count, logp) — logp is the
    FINAL model's float64 log-probability, computed once on the driver
    and carried as data (the cross-engine contract).

    Pieces with zero usage after an E-step drop out of the model
    (hard-EM's pruning); single characters are floored at count 1 so
    the coverage guarantee survives every round."""
    if vocab_size < 1 or n_rounds < 1:
        raise ValueError("unigram_train: vocab_size and n_rounds must "
                         f"be >= 1, got {vocab_size}, {n_rounds}")
    from slowspark.util import local_frame

    if words is None:
        words = _word_table(df, text_col)
    pieces = seed_pieces(words, max_piece_len, seed_size)
    # bounded collect: <= seed_size + |alphabet| rows per round
    pairs = [(r["piece"], r["count"]) for r in pieces.collect()]
    model = _logp_model(pairs)
    counts = {p: c for p, c in pairs}
    for _ in range(n_rounds):
        used = _viterbi_counts(words, model, max_piece_len).collect()
        new = {r["piece"]: r["count"] for r in used}
        # coverage floor: every character stays at >= 1 count
        for p in counts:
            if len(p) == 1 and p not in new:
                new[p] = 1
        counts = new
        model = _logp_model(sorted(counts.items()))
    keep = sorted(
        counts.items(), key=lambda pc: (-pc[1], pc[0])
    )[:vocab_size]
    kept = {p for p, _ in keep}
    for p, c in counts.items():
        if len(p) == 1 and p not in kept:
            keep.append((p, c))
    final_counts = dict(keep)
    final_model = _logp_model(sorted(final_counts.items()))
    spark = df.sparkSession
    return local_frame(
        spark,
        [(p, int(final_counts[p]), float(final_model[p]))
         for p in sorted(final_counts)],
        "piece string, count long, logp double",
    )


def unigram_segment_counts(
    df: DataFrame,
    model: DataFrame,
    max_piece_len: int = 8,
    text_col: str = "text",
    words: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide per-piece segmentation counts under a trained model:
    (piece, n) — the fertility/budget statistic and the driver-oracle
    surface (a DuckDB recursive CTE replays the Viterbi DP from the
    materialized (piece, logp) table and must reproduce every count).
    Same distinct-word bound as training's E-step. Pass the trainer's
    `words` table to share ONE tokenize + distinct pass between
    training and segmentation (r9: each built its own)."""
    if words is None:
        words = _word_table(df, text_col)
    return _viterbi_counts(words, _piece_logp(model), max_piece_len).select(
        "piece", F.col("count").alias("n")
    )


def unigram_segment(
    df: DataFrame,
    model: DataFrame,
    max_piece_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token counts under a trained model: (id, n_tokens
    int) — the packing input (pack_sequences n_tokens_col contract, same
    shape as bpe_segment's counts_only output, through the same
    occurrence table, distinct-word stage and per-doc count). The
    Viterbi runs over DISTINCT words only; occurrences join back by
    word — O(distinct) Python, one occurrence-side shuffle."""
    from slowspark.bpe import _count_tokens, _occurrences, _segment_words

    occurrences = _occurrences(df, text_col, id_col, byte_level=False)
    segmented = _segment_words(
        occurrences.select("word").distinct(),
        (_piece_logp(model), max_piece_len), _viterbi,
    )
    return _count_tokens(occurrences.join(segmented, "word"), id_col)
