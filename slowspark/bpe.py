"""Distributed BPE tokenizer training — Sennrich et al. 2016 merges
learned over a corpus with pure DataFrame string/array ops.

The standard algorithm never iterates over the corpus: it aggregates to
the DISTINCT-WORD frequency table once (10^7-ish rows at web scale, vs
10^12 docs) and runs the merge loop there. The Spark shape per merge
round is: adjacent-pair counts from the current symbol strings (explode
+ one map-side-combined weighted count), a 1-row argmax collect
(count desc, pair asc — deterministic), and applying the merge as ONE
string replace() over the word table. No UDF in the merge loop.

Symbol-state representation: a word's symbols are kept as a single
string with every symbol wrapped in sentinel \\x1f characters —
"the" -> "\\x1ft\\x1f\\x1fh\\x1f\\x1fe\\x1f". Wrapping makes merge
application a plain substring replace: the pair (a, b) is
"\\x1fa\\x1f\\x1fb\\x1f" and CANNOT match across symbol boundaries or
inside a longer symbol (any such match would need a sentinel mid-symbol,
and symbols never contain the sentinel — enforced). replace() scans
left-to-right non-overlapping, exactly the BPE convention for runs like
"a a a" under merge (a,a). Every engine with replace() reproduces the
whole training loop — the driver oracle unrolls the rounds into
generated SQL stages and hash-checks the learned merge table itself,
not just a downstream application.

Lineage: each round rewrites the word table; 50 nested replace()
columns would blow plan depth, so rounds localCheckpoint (lineage
truncation; on a cluster, checkpoint to the reliable store instead —
the table is tiny relative to the corpus either way).

Segmentation shares its machinery with unigramlm: every segmenter
explodes the corpus once into the occurrence table (_occurrences), runs
its Python work in the one distinct-word stage (_segment_words: the
model broadcast once, one mapInArrow over the DISTINCT words), joins the
per-word result back and reduces per document (_reassemble, or the
counts-only _count_tokens).

No reference analog (/root/reference is a slow-log parser, src/*.rs).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, functions as F, types as T

SENT = "\x1f"

# bpe_segment replays a merge table of up to this many merges as one
# replace() chain (the plan the DuckDB oracle replays); past it the chain
# degrades Catalyst, and it segments through bpe_segment_udf instead
_EXPR_MERGES = 256

_SYM = T.StructField("sym", T.ArrayType(T.StringType()))
_MAPPED = T.StructField("mapped", T.StringType())

# GPT-2's pre-tokenization regex (Radford et al. 2019; the public
# encoder.py pattern), in Java regex form: contractions, optional-space
# letter/number/other-category runs, and the trailing-whitespace
# lookahead that leaves the LAST space of a run to attach to the next
# word ("  a" -> [" ", " a"]). (?U) lifts \s/\S to Unicode whitespace
# (Java's default \s is ASCII-only; \p{L}/\p{N} are Unicode already),
# matching the `regex` module semantics the original uses. Known
# residue: Python counts \x1c-\x1f as whitespace, Java does not — the
# mirror in tests/test_bpe.py excludes those four C0 separators.
GPT2_PRETOKEN_RE = (
    r"(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)


@lru_cache(maxsize=1)
def bytes_to_unicode() -> dict:
    """The GPT-2 byte->printable-unicode bijection (public encoder.py
    algorithm): printable latin bytes map to themselves, every other
    byte b to chr(256 + rank(b)) — so arbitrary UTF-8 byte sequences
    become clean unicode strings the sentinel machinery (and any
    string engine) can process, and EVERY byte is representable: no
    OOV, lossless decode."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


@lru_cache(maxsize=1)
def unicode_to_bytes() -> dict:
    """Inverse of bytes_to_unicode — decode a byte-level token back to
    its raw bytes (decode_token)."""
    return {c: b for b, c in bytes_to_unicode().items()}


def decode_token(tok: str) -> bytes:
    """Byte-level token -> original bytes. Concatenating every token's
    decode over a document reproduces the document's exact UTF-8 bytes
    (the losslessness pin in tests/test_bpe.py)."""
    u2b = unicode_to_bytes()
    return bytes(u2b[c] for c in tok)


def gpt2_pretoken_array(text_col: str):
    """GPT-2 pre-tokens as an array column — one JVM-side
    regexp_extract_all, no Python. The concatenation of a document's
    pre-tokens is exactly the document (the regex tiles the string)."""
    return F.regexp_extract_all(
        F.col(text_col), F.lit(GPT2_PRETOKEN_RE), F.lit(0)
    )


def _byte_map(word: str) -> str:
    """`word`'s UTF-8 bytes through bytes_to_unicode: the string the
    byte-level trainer learns on and both byte-level segmenters merge.
    Injective (UTF-8 is, and the byte map is a bijection), so counts
    keyed by the raw word need no re-aggregation."""
    b2u = bytes_to_unicode()
    return "".join(b2u[b] for b in word.encode("utf-8"))


def _segment_words(
    words: DataFrame, model, segment, out: T.StructField = _SYM
) -> DataFrame:
    """`words` plus the column `out` = segment(word, model) per row, the
    word being the first column: the one Python stage of the tokenizer
    family (the byte map, the BPE merge-rank loop, the unigram Viterbi).
    Callers pass a DISTINCT-word table, so the Python work is
    O(distinct words) — 10^7-ish at web scale — never O(word
    occurrences); `model` travels once per executor as a Spark
    broadcast. Every output field is nullable."""
    from slowspark.util import arrow_batch

    bc = words.sparkSession.sparkContext.broadcast(model)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in words.schema] + [out]
    )

    def seg_fn(batches):
        m = bc.value
        for batch in batches:
            col = [segment(w, m) for w in batch.column(0).to_pylist()]
            yield arrow_batch(schema, batch.columns + [col])

    return words.mapInArrow(seg_fn, schema)


def _occurrences(
    df: DataFrame, text_col: str, id_col: str, byte_level: bool
) -> DataFrame:
    """(id, pos, word), one row per word occurrence: GPT-2 pre-tokens
    when byte_level, else lowered whitespace tokens. No sentinel filter:
    words containing \\x1f (absent from real text; word_frequencies
    never learns from them) have undefined segmentation on every
    path."""
    from slowspark.textops import ws_token_array

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            gpt2_pretoken_array(text_col) if byte_level
            else ws_token_array(text_col)
        ).alias("pos", "word"),
    )


def pretoken_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, count) over GPT-2 BYTE-LEVEL pre-tokens — the byte-level
    sibling of word_frequencies. The corpus-wide pass (pre-tokenize,
    explode, count) is pure JVM regex + one map-side-combined groupBy;
    only the DISTINCT (pre-token, count) table then passes through the
    byte map. No sentinel filter needed: mapped strings use printable
    codepoints >= 0x21 only, so \\x1f cannot occur."""
    counts = (
        df.select(F.explode(gpt2_pretoken_array(text_col)).alias("pt"))
        .groupBy("pt")
        .agg(F.count("*").alias("count"))
    )
    return _segment_words(
        counts, None, lambda w, _: _byte_map(w), _MAPPED
    ).select(F.col("mapped").alias("word"), "count")


def word_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, count) over lowered whitespace tokens — the one corpus-wide
    pass; everything after runs on this table. Words containing the
    sentinel character are dropped (they would corrupt the symbol-state
    encoding; \\x1f is a C0 control char absent from any real text)."""
    from slowspark.textops import ws_token_array

    return (
        df.select(F.explode(ws_token_array(text_col)).alias("word"))
        .filter(~F.col("word").contains(SENT))
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def _encode(col):
    """word string -> sentinel-wrapped initial character symbols."""
    return F.concat(
        F.lit(SENT),
        F.array_join(F.split(col, ""), SENT + SENT),
        F.lit(SENT),
    )


def _merge_chain(state, merges: list[dict]):
    """Apply `merges` in order to a sentinel state column: one replace()
    per merge, the trainer's round update and bpe_segment's inference
    rule."""
    for m in merges:
        state = F.replace(
            state,
            F.lit(f"{SENT}{m['left']}{SENT}{SENT}{m['right']}{SENT}"),
            F.lit(f"{SENT}{m['merged']}{SENT}"),
        )
    return state


def _symbols(state):
    """sentinel state column -> array of symbols."""
    return F.split(F.btrim(state, F.lit(SENT)), SENT + SENT)


def _pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, c): adjacent-symbol pair counts weighted by word count —
    the textops.token_grams bigram stream over words of >= 2 symbols."""
    from slowspark.textops import token_grams

    sym = words.select("count", _symbols(F.col("s")).alias("sym"))
    g = F.col("gram")
    return (
        token_grams(sym.filter(F.size("sym") >= 2), "sym", 2, "count")
        .groupBy(g[0].alias("a"), g[1].alias("b"))
        .agg(F.sum("count").alias("c"))
    )


def bpe_learn(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds_per_pass: int = 1,
    byte_level: bool = False,
) -> list[dict]:
    """Learn `n_merges` BPE merges. Returns the ordered merge table:
    [{merge_ix, left, right, merged, pair_count}] — left/right are the
    merged pair's symbols, pair_count its corpus-weighted frequency at
    the time of the merge. Ties break lexicographically on (left, right)
    — fully deterministic. Stops early (shorter list) when no pair
    occurs twice.

    Scale: the loop runs on the distinct-word table; each round is one
    explode+count over it, a small bounded collect, and one replace()
    map. The corpus is touched exactly once (word_frequencies).

    `rounds_per_pass=k` is the production-trainer batching (RUNBOOK
    §11): a 32k-merge vocabulary at k=1 is 32k driver-scheduled
    rounds; at k=256 it is ~125. Each pass counts pairs ONCE and
    accepts up to k pairs that are mutually SYMBOL-DISJOINT (no symbol
    shared between any two accepted pairs), greedily in (count desc,
    left, right) order from a bounded top-(8k) collect. Disjoint merges
    are order-independent and do not perturb each other's counts, so
    every accepted pair's recorded pair_count equals what the
    one-at-a-time trainer would have recorded had it picked the same
    pair. DIVERGENCE SEMANTICS: counts are frozen for the duration of a
    pass — a symbol created mid-pass (e.g. 'ab' from merge (a,b)) only
    becomes mergeable in the NEXT pass, so if a newly-created pair
    would have out-ranked a later same-pass pick, k=1 and k>1 learn
    different (both valid greedy-BPE) orders. k=1 is exact Sennrich;
    the differential test pins equality on a corpus where no
    cross-rank creation occurs.

    `byte_level=True` is the production-tokenizer mode (GPT-2, Radford
    et al. 2019): words come from pretoken_frequencies (GPT-2
    pre-tokenization regex + the byte->unicode map) instead of lowered
    \\S+ tokens, so merges are learned over BYTES — case is preserved,
    leading spaces are part of tokens ('Ġthe'), there is no OOV, and
    segment->decode is byte-lossless. The merge loop itself is
    identical: byte-mapped words are plain strings of printable
    codepoints, so the sentinel machinery applies unchanged (pinned
    token-identical to a pure-Python reference trainer on a
    unicode-heavy corpus, tests/test_bpe.py)."""
    if n_merges < 1:
        raise ValueError(f"bpe_learn: n_merges must be >= 1, got {n_merges}")
    if rounds_per_pass < 1:
        raise ValueError(
            f"bpe_learn: rounds_per_pass must be >= 1, got {rounds_per_pass}"
        )
    freqs = (
        pretoken_frequencies(df, text_col, id_col)
        if byte_level
        else word_frequencies(df, text_col, id_col)
    )
    words = (
        freqs.select(_encode(F.col("word")).alias("s"), "count")
        .localCheckpoint()
    )
    merges: list[dict] = []
    while len(merges) < n_merges:
        k = min(rounds_per_pass, n_merges - len(merges))
        top = (
            _pair_counts(words)
            .filter(F.col("c") >= 2)
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(8 * k)
            .collect()
        )
        if not top:
            break
        # greedy symbol-disjoint selection: candidate rejected if either
        # symbol already participates in an accepted pair this pass
        used: set[str] = set()
        accepted: list[dict] = []
        for row in top:
            if len(accepted) == k:
                break
            if row["a"] in used or row["b"] in used:
                continue
            used.update((row["a"], row["b"]))
            accepted.append(
                {
                    "merge_ix": len(merges) + len(accepted),
                    "left": row["a"],
                    "right": row["b"],
                    "merged": row["a"] + row["b"],
                    "pair_count": int(row["c"]),
                }
            )
        merges.extend(accepted)
        prev = words
        words = words.withColumn(
            "s", _merge_chain(F.col("s"), accepted)
        ).localCheckpoint()
        prev.unpersist()
        # the first candidate is always accepted, so every pass makes
        # progress and the loop terminates
    words.unpersist()
    return merges


def _reassemble(toks: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, sym array) word rows -> (id, tokens, n_tokens) docs."""
    return (
        toks.groupBy("id")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "sym"))
                ).getField("sym")
            ).alias("tokens")
        )
        .select(
            F.col("id").alias(id_col),
            "tokens",
            F.size("tokens").alias("n_tokens"),
        )
    )


def _count_tokens(toks: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, sym array) word rows -> (id, n_tokens) docs. The
    counts-only sibling of _reassemble: a plain map-side-combined sum —
    one partial long per doc per partition crosses the shuffle instead
    of every token riding a collect_list ObjectHashAggregate (r9; the
    packing/fertility/count callers never read the token array)."""
    return (
        toks.groupBy("id")
        # cast: schema-identical to _reassemble's size(tokens) (int)
        .agg(F.sum(F.size("sym")).cast("int").alias("n_tokens"))
        .select(F.col("id").alias(id_col), "n_tokens")
    )


def bpe_segment(
    df: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_level: bool = False,
    counts_only: bool = False,
) -> DataFrame:
    """Apply a learned merge table: (id, tokens array<string>, n_tokens)
    where each word is segmented by replaying the merges IN ORDER — the
    exact BPE inference rule. With counts_only=True, returns just
    (id, n_tokens) via a map-side-combined sum — identical counts, no
    token-array assembly shuffle (use for packing/fertility callers
    that never read the tokens).

    The path follows the size of the merge table. Up to 256 merges the
    per-word symbol state goes through the same sentinel replace() chain
    the trainer used — one explode to words, one codegen'd projection,
    one groupBy(id) reassembly — so segment(learn(corpus)) is internally
    consistent by construction, and it is the plan the DuckDB oracle
    replays. Past 256 the expression tree degrades Catalyst (a 32k-deep
    replace chain is a 32k-node projection to analyze, codegen falls
    back to interpreted, and every WORD OCCURRENCE pays all 32k scans),
    so the table goes to bpe_segment_udf — the broadcast merge-rank
    path, token-identical (tests/test_bpe.py differentials)."""
    if len(merges) > _EXPR_MERGES:
        return bpe_segment_udf(
            df, merges, text_col, id_col, byte_level, counts_only
        )
    occurrences = _occurrences(df, text_col, id_col, byte_level)
    if byte_level:
        # the byte map runs over the DISTINCT pre-token table only; the
        # chain applies to the mapped form, which joins back on the raw
        # pre-token
        mapped = _segment_words(
            occurrences.select("word").distinct(), None,
            lambda w, _: _byte_map(w), _MAPPED,
        )
        segmented = mapped.select("word", _symbols(
            _merge_chain(_encode(F.col("mapped")), merges)
        ).alias("sym"))
        toks = occurrences.join(segmented, "word")
    else:
        toks = occurrences.withColumn("sym", _symbols(
            _merge_chain(_encode(F.col("word")), merges)
        ))
    return (_count_tokens if counts_only else _reassemble)(toks, id_col)


def merge_table(spark, merges: list[dict]) -> DataFrame:
    """A learned merge list as the typed frame (merge_ix int, lhs string,
    rhs string, merged string, pair_count long) — the curate CLI's
    bpe_vocab stage and the driver contract's merge-table queries. A
    util.local_frame of an n_merges-bounded list: no job until consumed,
    and consuming it starts no Python worker. A missing pair_count is
    0."""
    from slowspark.util import local_frame

    return local_frame(
        spark,
        [
            (m["merge_ix"], m["left"], m["right"], m["merged"],
             m.get("pair_count", 0))
            for m in merges
        ],
        "merge_ix int, lhs string, rhs string, merged string,"
        " pair_count long",
    )


def _merge_word(word: str, ranks: dict) -> list[str]:
    """Segment one word by greedy lowest-merge-rank application — the
    classic BPE inference loop (GPT-2 bpe()). Equivalent to replaying
    the merges in learned order: a merge can only CREATE pairs that
    involve its new symbol, and any pair containing that symbol was
    necessarily learned later, so 'always apply the earliest applicable
    merge' never misses an earlier one. Within one merge, occurrences
    are merged left-to-right non-overlapping — exactly replace()'s
    scan, so 'a a a' under (a,a) becomes ['aa','a'] on both paths."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_segment_udf(
    df: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_level: bool = False,
    counts_only: bool = False,
) -> DataFrame:
    """Production-vocabulary segmentation: same contract and output as
    bpe_segment, any number of merges (counts_only likewise). The
    {(left, right): rank} dict (rank = position in `merges`, the order
    the chain replays) is the broadcast model of the distinct-word stage
    (_segment_words), which segments each DISTINCT word once with the
    greedy lowest-rank loop (see _merge_word for the equivalence
    argument vs the in-order replace chain); the per-word result joins
    back to the exploded occurrences. byte_level: the occurrences are
    GPT-2 pre-tokens and the byte map runs inside the same stage.

    Scale shape: the Python work is O(distinct words) — 10^7-ish at web
    scale — NOT O(word occurrences) (10^11+); the occurrence-side cost
    is one shuffle join of (id, pos, word) against the segmented
    distinct-word table plus the same groupBy reassembly as the
    expression path (plan shape pinned, tests/test_plans.py). Per word
    the loop is O(len^2 * log-ish) on ~10-char strings regardless of
    vocabulary size, vs the replace chain's O(len * n_merges) — at 32k
    merges the UDF path is ~3 orders of magnitude less string
    scanning."""
    ranks = {(m["left"], m["right"]): i for i, m in enumerate(merges)}
    occurrences = _occurrences(df, text_col, id_col, byte_level)
    segmented = _segment_words(
        occurrences.select("word").distinct(), ranks,
        (lambda w, r: _merge_word(_byte_map(w), r)) if byte_level
        else _merge_word,
    )
    toks = occurrences.join(segmented, "word")
    return (_count_tokens if counts_only else _reassemble)(toks, id_col)
