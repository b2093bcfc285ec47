"""Gopher repetition signals — the full Rae et al. 2021 Table A1 set.

textops.repetition_stats carries the two cheapest signals (dup-line
ratio, top-bigram fraction) as pure built-ins; real Gopher filtering
uses THIRTEEN within-document repetition measures:

  - duplicate line / paragraph fraction (count and character mass),
  - top {2,3,4}-gram character fraction,
  - duplicated {5..10}-gram character coverage fraction.

All thirteen are per-document computations over one document's own
lines/tokens — no cross-document state — so the Spark shape is a single
narrow Arrow-batched mapInArrow pass: no shuffle, no explode (a
relational formulation would shuffle O(6 x tokens) gram rows per doc —
a 6x corpus inflation at 100 TB for a value each doc can compute from
itself), no driver state. Python-per-document is the sanctioned slow
path here for the same reason as textops.minhash_signatures: six gram
sizes of run counting plus interval-union coverage exceed what codegen
expressions express without the O(len^2) lambda-inlining trap
(textops.token_grams docstring), and the per-batch numpy work is
microseconds per document.

Definitions (each deterministic and engine-reproducible — the driver
oracle recomputes all of them relationally in DuckDB):

  - lines: '\\n'-split, stripped, empties dropped; paragraphs:
    '\\n{2,}'-split, stripped, empties dropped.
  - duplicate fraction over items = (occurrences beyond the first of
    any repeated item) / n_items; character fraction = the same
    occurrences' character mass / all items' character mass.
  - token stream: the repo-wide lowered whitespace tokens
    (textops.ws_token_array); gram/character accounting happens on the
    single-space-joined stream (tokens + single joining spaces), so
    original inter-token whitespace width never skews a ratio.
  - top n-gram character fraction (n=2,3,4): occurrences(top gram) x
    charlen(top gram) / joined-stream length; the top gram is the
    highest-count gram, ties broken lexicographically smallest.
    Counted whether or not the top gram repeats (the Gopher/DataTrove
    convention); docs with no n-gram score 0.0.
  - duplicated n-gram character fraction (n=5..10): each n-gram
    occurring >= 2 times covers its character span [start, start +
    charlen - 1] on the joined stream; the fraction is |union of
    spans| / joined-stream length (overlaps counted once).

No reference analog (/root/reference is a slow-log parser, src/*.rs);
thresholds follow the published Table A1.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from slowspark.util import arrow_batch

_PARA_RE = re.compile(r"\n{2,}")
# Java \s (what textops.ws_token_array splits on): ASCII whitespace ONLY.
# Python str.split()/str.strip() also treat Unicode spaces (NBSP, ideographic
# space) as whitespace — using them here would silently diverge from every
# other operator and from the DuckDB oracle on e.g. \xa0-bearing crawls.
_WS_CHARS = " \t\n\x0b\f\r"
_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")

_STAT_COLS = [
    "n_lines", "dup_line_frac", "dup_line_char_frac",
    "n_paras", "dup_para_frac", "dup_para_char_frac",
    "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
    "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac",
]

#: Rae et al. 2021 Table A1 removal thresholds: a document is dropped
#: when a signal EXCEEDS its threshold.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _dup_fracs(items: list[str]) -> tuple[int, float, float]:
    """(n_items, duplicate fraction, duplicate character fraction):
    duplicates = occurrences beyond the first of each repeated item."""
    n = len(items)
    if n == 0:
        return 0, 0.0, 0.0
    counts = Counter(items)
    dup_n = sum(v - 1 for v in counts.values())
    dup_chars = sum((v - 1) * len(k) for k, v in counts.items())
    tot_chars = sum(len(x) for x in items)
    return n, dup_n / n, (dup_chars / tot_chars) if tot_chars else 0.0


def _gopher_doc(text: str) -> list:
    lines = [ln.strip(_WS_CHARS) for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    paras = [p.strip(_WS_CHARS) for p in _PARA_RE.split(text)]
    paras = [p for p in paras if p]
    n_lines, dlf, dlcf = _dup_fracs(lines)
    n_paras, dpf, dpcf = _dup_fracs(paras)

    toks = [t for t in _WS_RE.split(text.lower()) if t]
    n_tok = len(toks)
    tok_lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n_tok)
    # char offset of token i on the single-space-joined stream
    starts = np.zeros(n_tok, dtype=np.int64)
    if n_tok:
        np.cumsum(tok_lens[:-1] + 1, out=starts[1:])
    joined_len = int(tok_lens.sum()) + max(n_tok - 1, 0)

    out = [n_lines, dlf, dlcf, n_paras, dpf, dpcf]
    for n in (2, 3, 4):
        if n_tok < n or joined_len == 0:
            out.append(0.0)
            continue
        grams = [" ".join(toks[i:i + n]) for i in range(n_tok - n + 1)]
        counts = Counter(grams)
        top_count = max(counts.values())
        top_gram = min(g for g, v in counts.items() if v == top_count)
        out.append(top_count * len(top_gram) / joined_len)
    for n in range(5, 11):
        if n_tok < n or joined_len == 0:
            out.append(0.0)
            continue
        grams = [" ".join(toks[i:i + n]) for i in range(n_tok - n + 1)]
        counts = Counter(grams)
        # char-interval union via a +1/-1 difference array over the
        # joined stream — overlapping spans counted once, O(len) per doc
        delta = np.zeros(joined_len + 1, dtype=np.int64)
        for i, g in enumerate(grams):
            if counts[g] >= 2:
                s = starts[i]
                delta[s] += 1
                delta[s + len(g)] -= 1
        covered = int(np.count_nonzero(np.cumsum(delta[:-1]) > 0))
        out.append(covered / joined_len)
    return out


def gopher_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher repetition signals (module docstring has the
    definitions): (id, n_lines, dup_line_frac, dup_line_char_frac,
    n_paras, dup_para_frac, dup_para_char_frac, top_{2,3,4}gram_char_frac,
    dup_{5..10}gram_char_frac). Fractions are full-precision doubles;
    round at the consumer if an engine-portable cut is needed (the driver
    query rounds to 6, where IEEE division of identical integers makes
    both engines round identically).

    Scale shape: one narrow mapInArrow over (id, text) — no shuffle, no
    gram explode; the id column passes through as its source Arrow
    array."""
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [T.StructField("__id", id_field.dataType, id_field.nullable)]
        + [
            T.StructField(
                c, T.IntegerType() if c in ("n_lines", "n_paras") else T.DoubleType(),
                False,
            )
            for c in _STAT_COLS
        ]
    )

    def fn(batches):
        for batch in batches:
            stats = [_gopher_doc(t or "") for t in batch.column(1).to_pylist()]
            cols = list(zip(*stats)) if stats else [[] for _ in _STAT_COLS]
            yield arrow_batch(out_schema, [batch.column(0), *cols])

    return (
        df.select(id_col, text_col)
        .mapInArrow(fn, schema=out_schema)
        .withColumnRenamed("__id", id_col)
    )


def gopher_repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Stats + one boolean per Table A1 rule (ok_<signal> = signal <=
    threshold) + the conjunction `keep` — the quality_filter_flags
    convention: a curation stage filters on `keep` and audits per-rule
    drop rates instead of a silent composite. Unknown threshold keys
    raise (a typo would otherwise silently not filter).

    Short-document caveat: the top-n-gram rules count the top gram even
    at one occurrence, so a doc of a few dozen tokens can exceed 16-20%
    on its single top gram alone. Gopher applies these jointly with a
    min-word-count rule (quality_filter_flags; Gopher's own floor is 50
    words) — do the same, or tune thresholds, before filtering a corpus
    that keeps very short documents."""
    thresholds = dict(
        GOPHER_REPETITION_THRESHOLDS if thresholds is None else thresholds
    )
    unknown = set(thresholds) - set(GOPHER_REPETITION_THRESHOLDS)
    if unknown:
        raise ValueError(
            f"gopher_repetition_flags: unknown signal(s) {sorted(unknown)}"
        )
    out = gopher_repetition_stats(df, text_col, id_col)
    keep = F.lit(True)
    for name, thr in sorted(thresholds.items()):
        flag = F.col(name) <= F.lit(float(thr))
        out = out.withColumn(f"ok_{name}", flag)
        keep = keep & flag
    return out.withColumn("keep", keep)
