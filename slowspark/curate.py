"""spark-submit entry point for the training-data CURATION pipeline:
filter -> exact dedup -> near dedup -> passage scrub -> sample -> pack,
with the same checkpoint-resumable stage manifests as slowspark.job.
The full optional graph (every stage resumable, every knob in the
signature): url dedup -> lang routing -> hard quality rules -> badword
blocklist -> gopher repetition -> line boilerplate -> exact dedup ->
minhash near-dup -> semantic dedup -> substring dedup -> perplexity
buckets (unigram or Stupid Backoff) -> classifier filter -> passage
scrub -> PII scrub -> exact+fuzzy decontamination -> sampling/mixture/
upsample -> BPE vocab + subword packing.

This is the corpus-side counterpart of the log pipeline: where job.py
turns raw pages into routed/aggregated entry tables, curate.py turns a
raw `documents` table (doc_id, text, lang, ...) into a training-ready
corpus plus a per-stage attrition report. Stage order is the sanctioned
one (textops docs): exact dedup BEFORE near-dup (byte-identical viral
blobs collapse to one representative before they can flood LSH buckets),
near-dup BEFORE passage scrub (no point passage-scrubbing documents that
are about to be dropped whole), scrub before sampling (rates apply to
the cleaned population), packing last (sequences index the final corpus).

Cluster usage:

    spark-submit --py-files slowspark.zip -m slowspark.curate \\
        --input <documents-parquet-or-table> --warehouse <out> \\
        [--sample-rate 1.0] [--seq-len 4096] [--min-words 20]

Every stage writes a manifest {input_signature, row_count, content_hash};
re-running with the same input + parameters skips completed stages
(checkpoint.run_stage) — at 100 TB a curation run is hours long and WILL
be preempted; resume must not recompute the signature UDFs.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import sys

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from slowspark.catalog import Catalog
from slowspark.checkpoint import _hash_sum, load_manifest, run_stage
from slowspark.util import fs_listing_stamp, logger
from slowspark.corpus import (
    hash_sample,
    pack_sequences,
    passage_dedup,
    quality_filter_flags,
)
from slowspark.session import get_spark
from slowspark.textops import exact_dedup, minhash_dedup

_RULE_COLS = (
    "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
    "rule_digit_ratio", "rule_stopwords",
)


def _content_sig(df: DataFrame, *cols: Column) -> str:
    """`n:h` — the row count and checkpoint._hash_sum over `cols` (0 for
    no rows) of a side input, so its CONTENT joins the resume signature
    and a changed table misses the resume. One aggregate job."""
    r = df.agg(
        F.count("*").alias("n"),
        F.coalesce(_hash_sum(list(cols)), F.lit(0)).alias("h"),
    ).first()
    return f"{r['n']}:{r['h']}"


def _kept_text(df: DataFrame, kept: DataFrame) -> DataFrame:
    """`df` with `text` replaced by the `kept_text` of `kept` (doc_id,
    kept_text): the rewrite of every text-cutting stage. A doc left
    with no text is dropped — the count delta is the stage's audit
    trail."""
    return (
        df.drop("text")
        .join(kept.select("doc_id", "kept_text"), "doc_id")
        .filter(F.col("kept_text") != "")
        .withColumnRenamed("kept_text", "text")
        .select(*df.columns)
    )


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    warehouse: str,
    input_signature: str,
    min_words: int = 20,
    passage_words: int = 20,
    max_docs_per_passage: int = 2,
    sample_rate: float = 1.0,
    sample_rates: dict[str, float] | None = None,
    sample_salt: str = "",
    seq_len: int = 4096,
    eval_df: DataFrame | None = None,
    decontaminate_ngram: int = 13,
    fuzzy_decontaminate_threshold: float | None = None,
    fuzzy_decontaminate_ngram: int = 3,
    langs: list[str] | None = None,
    scrub_pii: bool = False,
    substring_dedup_n: int | None = None,
    substring_dedup_chars: int | None = None,
    embeddings_df: DataFrame | None = None,
    semantic_cells_df: DataFrame | None = None,
    semantic_n_clusters: int = 16,
    semantic_threshold: float = 0.95,
    mixture: dict[str, float] | None = None,
    target_tokens: int | None = None,
    mixture_upsample: bool = False,
    url_dedup: bool = False,
    badwords: list[str] | None = None,
    gopher_repetition: bool = False,
    line_dedup_min_df: int | None = None,
    ppl_keep_buckets: list[int] | None = None,
    ppl_n_buckets: int = 3,
    ppl_scorer: str = "unigram",
    ppl_model_df: DataFrame | None = None,
    quality_coeffs_df: DataFrame | None = None,
    quality_threshold: float = 0.5,
    quality_n_buckets: int = 1 << 15,
    bpe_merges_n: int | None = None,
    bpe_byte_level: bool = False,
    unigram_vocab: int | None = None,
    dsir_target_df: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_buckets: int = 10_000,
    dsir_alpha: float = 1.0,
    dsir_length_normalize: bool = False,
    mixture_temperature: float | None = None,
    unimax_budget: int | None = None,
    unimax_epochs: float = 1.0,
    holdout_frac: float | None = None,
    holdout_group: str = "source",
    latest_capture: bool = False,
    delta_old_df: DataFrame | None = None,
    pack_whole_docs: bool = False,
    quality_sample_k: int | None = None,
    domain_quality_threshold: float | None = None,
    domain_col: str = "source",
    max_docs_per_domain: int | None = None,
) -> dict[str, DataFrame]:
    """Full curation chain. Returns the materialized stage DataFrames;
    `filter_audit` carries the per-rule drop counts (the no-silent-drops
    rule at pipeline granularity: every document lost between stages is
    attributable to a stage and, for the filter stage, to a rule).

    Every option is checked before the first Spark job: an invalid
    combination, or a column an enabled stage needs that `docs` lacks,
    raises ValueError before anything is hashed or written (every stage
    before `sampled` keeps docs' columns).

    Optional stages, each participating in the resume signature:
      - `langs`: keep only documents whose lang column is in the list,
        BEFORE the quality filter — the C4/Gopher rules are tuned for
        whitespace-segmented (and partly English) text, so a multilingual
        corpus routes by language first rather than letting the word-count
        rules wipe unsegmented scripts (corpus.quality_filter_flags docs);
        populate the column with textops.language_id when the source has
        none.
      - `eval_df` (a benchmark/eval table with a text column) enables the
        GPT-3-style decontamination stage between scrub and sampling —
        training-set leakage into evals is the one curation failure that
        silently corrupts every downstream measurement. The signature
        includes a content hash of eval_df (count + xxhash64 sum), so
        swapping the eval set invalidates the decontaminated/sampled/
        packed manifests even when every other knob matches.
      - `fuzzy_decontaminate_threshold` (requires `eval_df`) adds a FUZZY
        decontamination stage after the exact one: corpus docs whose word
        `fuzzy_decontaminate_ngram`-gram Jaccard against some eval doc
        clears the threshold are dropped
        (textops.decontaminate_fuzzy — cross-table MinHash-LSH
        candidates, estimate prefilter, exact verify). Catches the
        paraphrased / lightly-edited benchmark copies that share no
        verbatim 13-gram. Both knobs join the eval content hash in the
        resume signature.
      - `scrub_pii`: mask emails / IPs / phone numbers (textops.scrub_pii)
        after the passage scrub — the text that reaches sampling/packing
        is the scrubbed rendition.
      - `sample_rates`: per-stratum (lang) keep-rates for the
        deterministic hash sampler; `sample_rate` remains the default for
        strata not listed.
      - `substring_dedup_n`: exact substring dedup (Lee et al. 2022,
        textops.exact_substring_dedup) between near-dup dedup and the
        passage scrub — duplicated >= n-token runs are cut (first
        occurrence kept corpus-wide); a doc emptied by it is dropped.
        Like the passage scrub, the rewrite is in token space
        (lowercased, whitespace-normalized).
      - `substring_dedup_chars`: the suffix-array-grade char-granularity
        sibling (textops.exact_substring_dedup_chars) at the same slot —
        duplicated >= L-CHAR spans are cut exactly, case- and
        word-boundary-sensitive (the rewrite preserves original
        casing/whitespace outside the cut spans). Composable with
        `substring_dedup_n` (token pass first, then char pass).
      - `embeddings_df` (sidecar table: doc_id + embedding array) enables
        the SemDeDup semantic-dedup stage (Abbas et al. 2023) directly
        after MinHash near-dup — the published recipe's position: token
        dedup first (cheap, catches literal copies), then embedding-space
        dedup catches the paraphrase-shaped near-dups token overlap can
        never see. Drops the higher-id member of every cluster-blocked
        cosine pair >= `semantic_threshold` (min-id keeper, the
        minhash_dedup policy), via similarity.semantic_near_dup_pairs.
        A doc with no embedding row survives (the stage can only judge
        docs it has vectors for — the count delta is still attributable
        to exactly this stage). Pass `semantic_cells_df` instead (doc_id,
        embedding, ivf_cell — e.g. an IVF/IVFPQ index's cell table over
        the same corpus; mutually exclusive with `embeddings_df`) to
        skip k-means training AND assignment: the standard composition
        when embeddings are already stored cell-partitioned for ANN.
        The embeddings CONTENT (count + xxhash64 sum) participates in
        the resume signature, like the eval set — swapping the embedding
        table invalidates every downstream manifest.
      - `mixture` (+ optional `target_tokens`): replace flat/per-stratum
        sampling with domain-mix TOKEN budgeting (corpus.mixture_sample)
        — per-stratum rates derived from the scrubbed corpus's measured
        token counts so the sampled output hits the given proportions at
        the largest achievable budget (or the explicit one; infeasible
        budgets raise). Mutually exclusive with `sample_rates`; strata
        not in the mixture are dropped. With `mixture_upsample=True` the
        repetition regime applies instead (rates may exceed 1; scarce
        strata repeat via corpus.repeat_sample with a per-row repeat_ix;
        default budget = the corpus's own token mass): the sampled table
        gains a repeat_ix column and packing keys on
        (doc_id, repeat_ix) so repeated copies pack as distinct
        documents — deterministically, the same copies in every run.
      - `url_dedup`: URL-canonical dedup (weburl.url_dedup — tracking
        params/case/ports/fragments collapse; min-id keeper per
        canonical class) as the FIRST stage, before even the quality
        rules — the real-crawl order: a re-fetched URL is the cheapest
        duplicate to drop, and it never reaches the text stages.
        Requires a `url` column; raises without one.
      - `badwords`: C4 word-blocklist filter (textops.badword_filter —
        whole-token matching, never substrings) directly after the hard
        quality rules; a doc containing ANY listed word is dropped.
      - `gopher_repetition`: the full Rae et al. Table A1 within-document
        repetition rules (gopherrep.gopher_repetition_flags) directly
        after the quality filter — the sanctioned pairing: the
        min-word-count rule has already run, so the short-doc top-n-gram
        caveat (gopherrep docs) does not bite.
      - `line_dedup_min_df`: RefinedWeb line-wise boilerplate removal
        (textops.line_boilerplate_dedup) BEFORE exact dedup — lines
        recurring across >= min_df documents are template chrome; with
        it stripped, docs differing only by chrome become byte-identical
        and the exact stage collapses them. A doc emptied by it is
        dropped.
      - `ppl_keep_buckets` (+ `ppl_n_buckets`): CCNet perplexity-bucket
        filter (corpus.perplexity_buckets — per-lang rank cut into
        equal-population buckets) after the dedup family, the CCNet
        order (dedup first so duplicate mass cannot skew the LM); keeps
        only docs whose bucket is in the list. `ppl_scorer='bigram'`
        swaps the corpus-unigram LM for Stupid Backoff
        (corpus.stupid_backoff_logprob), `'kneser_ney'` for the
        interpolated Kneser-Ney bigram LM (corpus.kneser_ney_logprob —
        the properly-smoothed scorer, closest to CCNet's real KenLM);
        with `ppl_model_df` the counts
        come from that REFERENCE corpus — the published CCNet shape
        (train on trusted text, score the crawl). The model corpus's
        CONTENT is hashed into the resume signature.
      - `quality_coeffs_df` (+ `quality_threshold`, `quality_n_buckets`):
        model-based quality filter — score every doc with a PRETRAINED
        linear classifier (qualityclf.score_documents; coefficient table
        (bucket, weight) with the intercept as the bucket = -1 row, the
        qualityclf.stack_coeffs layout; a table without that row scores
        with intercept 0.0) and keep score >= threshold.
        `quality_n_buckets` must match the trainer's feature hashing.
        The coefficients' CONTENT is hashed into the resume signature —
        retraining the model invalidates downstream manifests even when
        every knob matches.
      - `bpe_merges_n`: learn a BPE vocabulary of that many merges ON
        THE SAMPLED CORPUS (bpe.bpe_learn — the tokenizer is trained on
        what will actually be packed), persist the merge table as the
        `bpe_vocab` stage, and pack in TOKENIZER subword counts
        (with `bpe_byte_level` both steps run in GPT-2 byte mode:
        pre-tokenized, case/space-preserving, no OOV)
        (bpe.bpe_segment → pack_sequences n_tokens_col) instead of
        whitespace tokens — the unit the training loader consumes.
        Composes with the repetition regime (repeated copies pack by
        their subword counts too).
      - `dsir_target_df` (+ required `dsir_k`, optional `dsir_buckets`):
        DSIR importance resampling (Xie et al. 2023, dsir.dsir_topk) AS
        the sampling stage — the quality-targeting sampler: keep the
        dsir_k scrubbed documents whose hashed-n-gram likelihood ratio
        against the target corpus wins the Gumbel top-k, seeded by
        sample_salt. Default scoring is the paper's RAW log-ratio sum
        (selection is then sharply proportional to the likelihood
        ratio; the paper length-chunks documents first) —
        `dsir_length_normalize=True` switches to the mean-per-gram
        score for unchunked mixed-length corpora, at the cost of the
        Gumbel noise dominating when per-gram domain separation is
        small (dsir_log_weights docstring). MUTUALLY EXCLUSIVE with `mixture`
        and `sample_rates`: all three answer the same question — which
        rows survive the sampling slot — and composing two samplers
        would make the attrition at the `sampled` stage unattributable
        to a single policy (run two curations, or pre-mix the DSIR
        target, instead). The target corpus's CONTENT (count + xxhash64
        sum of text) joins the resume signature like the eval set:
        swapping the target invalidates sampled/packed manifests even
        when every knob matches. The attrition row is the standard
        `sampled` stage_rows entry: scrubbed -> dsir_k rows.
      - `mixture_temperature` (T): temperature-scaled domain mixing —
        target proportions derived as (token share)^(1/T)
        (corpus.temperature_mixture_props, the multilingual-T5 rule)
        then the standard mixture_sample path; composes with
        `target_tokens`. Mutually exclusive with the other sampling
        policies (same one-policy rule as DSIR).
      - `unimax_budget` (+ `unimax_epochs`): UniMax water-filled token
        budgets (corpus.unimax_sample) — as uniform as possible subject
        to the per-stratum epoch cap; output always carries repeat_ix
        (epochs > 1 repeat scarce strata deterministically) and packing
        keys on (doc_id, repeat_ix) like the upsample regime. Mutually
        exclusive with the other sampling policies.
      - `holdout_frac` (+ `holdout_group`, default 'source'): carve a
        leakage-safe validation set (corpus.holdout_split — assignment
        at GROUP granularity so within-group near-dups never straddle
        the split) from the fully scrubbed/decontaminated corpus,
        BEFORE the sampling slot: the `holdout_val` table is written
        and the sampling policy then sees only the train side
        (`holdout_train`) — val content can never leak into the packed
        training corpus, and the holdout is frozen under sample-policy
        changes (same sample_salt keys the group hash, so the identical
        salt carves the identical holdout across runs and crawls).
        Composes with every sampling policy; both stage tables carry
        the standard attrition rows.
      - `latest_capture`: consolidate a multi-capture input (a corpus
        spanning several crawl snapshots, e.g. WARC ingest where the
        same URL was refetched) to its NEWEST capture per URL
        (weburl.latest_capture, max (warc_ts, doc_id) keeper) as the
        very first stage — training on every capture of a news homepage
        is duplication by another name. Requires `url` and `warc_ts`
        columns.
      - `delta_old_df` (a previous snapshot with url + fingerprint —
        md5(text) contract — or url + text): incremental-ingest filter
        (weburl.keep_new_or_changed) right after capture consolidation
        — only NEW or CHANGED URLs flow into curation; the 10^12 pages
        that didn't move since last month are dropped at the front
        door, which is the cheapest place a page can be dropped. The
        old snapshot's CONTENT (count + xxhash64 over url+fingerprint)
        joins the resume signature — re-pointing at a different
        snapshot invalidates every downstream manifest.
      - `pack_whole_docs`: replace concat-chunk packing with
        whole-document next-fit bin packing (corpus.pack_bins) — no
        document ever splits across training sequences; over-length
        docs get a dedicated bin with a `truncated` flag. The packed
        table's schema becomes (doc_id, shard, n_tokens, bin_ix,
        bin_offset, truncated). Mutually exclusive with the repetition
        regimes (`mixture_upsample`/`unimax_budget`) whose packing
        keys on (doc_id, repeat_ix).
      - `quality_sample_k` (requires `quality_coeffs_df`): SOFT quality
        selection as the sampling policy — every scrubbed doc gets the
        classifier's sigmoid score as a sampling WEIGHT and
        corpus.weighted_sample_k keeps k docs without replacement
        (Efraimidis-Spirakis, seeded by sample_salt): high-quality docs
        are strongly preferred but a borderline doc still has
        proportional probability — the soft alternative to the hard
        `quality_threshold` cut, which this policy REPLACES (the
        quality_filtered stage is skipped; thresholding then weighting
        with the same model would double-count it). Docs the feature
        pass cannot score (zero tokens) weigh sigmoid(intercept).
        Mutually exclusive with the other sampling policies."""
    if ppl_scorer not in ("unigram", "bigram", "kneser_ney"):
        raise ValueError(
            f"run_curation: ppl_scorer must be 'unigram', 'bigram', or"
            f" 'kneser_ney', got {ppl_scorer!r}"
        )
    if (dsir_target_df is None) != (dsir_k is None):
        raise ValueError(
            "run_curation: dsir_target_df and dsir_k go together"
        )
    n_policies = sum(
        x is not None and x is not False and x != {}
        for x in (
            sample_rates or None, mixture or None, dsir_target_df,
            mixture_temperature, unimax_budget, quality_sample_k,
        )
    )
    if n_policies > 1:
        raise ValueError(
            "run_curation: sample_rates / mixture / dsir_target_df / "
            "mixture_temperature / unimax_budget / quality_sample_k "
            "are mutually exclusive (one sampling policy per run)"
        )
    if quality_sample_k is not None and quality_coeffs_df is None:
        raise ValueError(
            "run_curation: quality_sample_k requires quality_coeffs_df"
        )
    if unimax_epochs != 1.0 and unimax_budget is None:
        raise ValueError(
            "run_curation: unimax_epochs requires unimax_budget"
        )
    if mixture_upsample and not mixture:
        raise ValueError(
            "run_curation: mixture_upsample requires a mixture"
        )
    if pack_whole_docs and (mixture_upsample or unimax_budget is not None):
        raise ValueError(
            "run_curation: pack_whole_docs is mutually exclusive with "
            "the repetition regimes (their packing keys on "
            "(doc_id, repeat_ix))"
        )
    if fuzzy_decontaminate_threshold is not None and eval_df is None:
        raise ValueError(
            "run_curation: fuzzy_decontaminate_threshold requires eval_df"
        )
    if embeddings_df is not None and semantic_cells_df is not None:
        raise ValueError(
            "run_curation: embeddings_df and semantic_cells_df are "
            "mutually exclusive"
        )
    if bpe_byte_level and bpe_merges_n is None:
        raise ValueError(
            "run_curation: bpe_byte_level requires bpe_merges_n"
        )
    if unigram_vocab is not None and bpe_merges_n is not None:
        raise ValueError(
            "run_curation: unigram_vocab and bpe_merges_n are mutually "
            "exclusive — one tokenizer decides the packing budget"
        )
    # every stage before `sampled` keeps docs.columns (a select of them,
    # or a semi/anti join), so the column checks run here, before any job
    missing = [c for c in ("url", "warc_ts") if c not in docs.columns]
    if latest_capture and missing:
        raise ValueError(
            f"run_curation: latest_capture=True requires url and "
            f"warc_ts columns (missing {missing})"
        )
    if delta_old_df is not None and "url" not in docs.columns:
        raise ValueError(
            "run_curation: delta_old_df requires a 'url' column"
        )
    if url_dedup and "url" not in docs.columns:
        raise ValueError(
            "run_curation: url_dedup=True requires a 'url' column"
        )
    for knob, flag in (
        (domain_quality_threshold, "--domain-quality-threshold"),
        (max_docs_per_domain, "--max-docs-per-domain"),
    ):
        if knob is not None and domain_col not in docs.columns:
            raise ValueError(
                f"{flag} needs a '{domain_col}' column "
                f"(have: {docs.columns}); pass --domain-col"
            )
    if holdout_frac is not None and holdout_group not in docs.columns:
        raise ValueError(
            f"run_curation: holdout_group column {holdout_group!r} "
            f"not in the corpus (have {docs.columns})"
        )
    cat = Catalog(warehouse)
    if eval_df is not None:
        fz = (
            f"{fuzzy_decontaminate_threshold}:{fuzzy_decontaminate_ngram}"
            if fuzzy_decontaminate_threshold is not None else "off"
        )
        eval_sig = (
            f"{decontaminate_ngram}:{fz}:{_content_sig(eval_df, F.col('text'))}"
        )
    else:
        eval_sig = "0"
    rates_sig = ",".join(
        f"{k}={v}" for k, v in sorted((sample_rates or {}).items())
    )
    sem_src = semantic_cells_df if semantic_cells_df is not None else embeddings_df
    if sem_src is not None:
        # content hash, same discipline as the eval set: resume must miss
        # when the embedding table changes, not just when knobs change.
        # For a pre-assigned cell table the CELL ASSIGNMENTS are part of
        # the content (rebuilding the IVF index with a different seed
        # keeps doc_id+embedding identical but moves docs across cells,
        # which changes the cluster-blocked pair set) — hash ivf_cell too
        hash_cols = [
            F.col("doc_id").cast("string"),
            F.col("embedding").cast("string"),
        ]
        if semantic_cells_df is not None:
            hash_cols.append(F.col("ivf_cell").cast("string"))
        sem_sig = (
            f"{semantic_n_clusters}:{semantic_threshold}"
            f":{int(semantic_cells_df is not None)}"
            f":{_content_sig(sem_src, *hash_cols)}"
        )
    else:
        sem_sig = "0"
    if quality_coeffs_df is not None:
        qc_sig = f"{quality_threshold}:{quality_n_buckets}:" + _content_sig(
            quality_coeffs_df,
            F.col("bucket").cast("string"), F.col("weight").cast("string"),
        )
    else:
        qc_sig = "0"
    ppl_model_sig = (
        _content_sig(ppl_model_df, F.col("text"))
        if ppl_model_df is not None else "self"
    )
    if dsir_target_df is not None:
        dsir_sig = (
            f"{dsir_k}:{dsir_buckets}:{dsir_alpha}"
            f":{int(dsir_length_normalize)}"
            f":{_content_sig(dsir_target_df, F.col('text'))}"
        )
    else:
        dsir_sig = "off"
    if delta_old_df is not None:
        fp = (
            F.col("fingerprint") if "fingerprint" in delta_old_df.columns
            else F.md5("text")
        )
        delta_sig = _content_sig(delta_old_df, F.col("url"), fp)
    else:
        delta_sig = "off"
    sig = (
        f"{input_signature}|mw={min_words}|pw={passage_words}"
        f"|mdp={max_docs_per_passage}|sr={sample_rate}|srates={rates_sig}"
        f"|salt={sample_salt}"
        f"|sl={seq_len}|decon={eval_sig}"
        f"|langs={','.join(sorted(langs)) if langs else '*'}"
        f"|pii={int(scrub_pii)}|ssd={substring_dedup_n or 0}"
        f"|ssc={substring_dedup_chars or 0}"
        f"|sem={sem_sig}"
        f"|mix={','.join(f'{k}={v}' for k, v in sorted((mixture or {}).items()))}"
        f"|tt={target_tokens or 0}|mup={int(mixture_upsample)}"
        f"|ud={int(url_dedup)}"
        f"|bw={','.join(sorted(w.lower() for w in badwords)) if badwords else 'off'}"
        f"|gop={int(gopher_repetition)}|ldf={line_dedup_min_df or 0}"
        f"|ppl={','.join(map(str, sorted(ppl_keep_buckets))) if ppl_keep_buckets else 'off'}"
        f":{ppl_n_buckets}:{ppl_scorer}:{ppl_model_sig}"
        f"|qc={qc_sig}|bpe={bpe_merges_n or 0}"
        f"|bbl={int(bpe_byte_level)}|uni={unigram_vocab or 0}"
        f"|dsir={dsir_sig}"
        f"|mtemp={mixture_temperature if mixture_temperature is not None else 'off'}"
        f"|umax={unimax_budget or 0}:{unimax_epochs}"
        f"|ho={holdout_frac if holdout_frac is not None else 'off'}"
        f":{holdout_group}"
        f"|lc={int(latest_capture)}|dold={delta_sig}"
        f"|pwd={int(pack_whole_docs)}|qsk={quality_sample_k or 0}"
        f"|domq={domain_quality_threshold if domain_quality_threshold is not None else 'off'}"
        f":{domain_col}|domcap={max_docs_per_domain or 0}"
    )
    out: dict[str, DataFrame] = {}

    def _quality_scores(df: DataFrame) -> tuple[DataFrame, float]:
        """(doc_id, score) of the pretrained classifier over `df`'s docs
        with at least one token, and the classifier's intercept."""
        from slowspark.qualityclf import (
            hashed_text_features, score_documents, split_coeffs,
        )

        weights, b = split_coeffs(quality_coeffs_df)
        scores = score_documents(
            hashed_text_features(df, n_buckets=quality_n_buckets), weights, b
        )
        return scores.withColumnRenamed("id", "doc_id"), b

    if latest_capture:
        from slowspark.weburl import latest_capture as _lc_fn

        lc_cols = docs.columns

        def _lc() -> DataFrame:
            return _lc_fn(docs).select(*lc_cols)

        docs = run_stage(spark, cat, "latest_captured", sig, _lc)
        out["latest_captured"] = docs

    if delta_old_df is not None:
        from slowspark.weburl import keep_new_or_changed

        def _delta() -> DataFrame:
            return keep_new_or_changed(docs, delta_old_df)

        docs = run_stage(spark, cat, "delta_ingested", sig, _delta)
        out["delta_ingested"] = docs

    if url_dedup:
        from slowspark.weburl import url_dedup as _url_dedup_fn

        cols = docs.columns

        def _udedup() -> DataFrame:
            return _url_dedup_fn(docs).select(*cols)

        docs = run_stage(spark, cat, "url_deduped", sig, _udedup)
        out["url_deduped"] = docs

    if langs is not None:
        docs = run_stage(
            spark, cat, "lang_filtered", sig,
            lambda: docs.filter(F.col("lang").isin(list(langs))),
        )
        out["lang_filtered"] = docs

    flagged = run_stage(
        spark, cat, "flagged", sig,
        lambda: quality_filter_flags(docs, min_words=min_words),
    )
    out["filter_audit"] = run_stage(
        spark, cat, "filter_audit", sig,
        lambda: flagged.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            *[
                F.sum((~F.col(c)).cast("int")).alias(f"dropped_by_{c}")
                for c in _RULE_COLS
            ],
        ),
    )
    filtered = run_stage(
        spark, cat, "filtered", sig,
        lambda: flagged.filter(F.col("keep")).select(*docs.columns),
    )
    out["filtered"] = filtered

    if badwords:
        from slowspark.textops import badword_filter

        def _badwords() -> DataFrame:
            return (
                badword_filter(filtered, list(badwords))
                .filter(F.col("keep"))
                .select(*filtered.columns)
            )

        filtered = run_stage(spark, cat, "badword_filtered", sig, _badwords)
        out["badword_filtered"] = filtered

    if gopher_repetition:
        from slowspark.gopherrep import gopher_repetition_flags

        def _gopher() -> DataFrame:
            keep_ids = (
                gopher_repetition_flags(filtered)
                .filter(F.col("keep"))
                .select("doc_id")
            )
            return filtered.join(keep_ids, "doc_id", "left_semi")

        filtered = run_stage(spark, cat, "gopher_filtered", sig, _gopher)
        out["gopher_filtered"] = filtered

    if domain_quality_threshold is not None:
        # RefinedWeb-style site-level gating: drop WHOLE domains whose
        # mean heuristic quality falls below the threshold — spam sites'
        # occasional fluent page survives per-doc rules; its domain mean
        # does not. Runs after the per-doc filter so the mean is over
        # rule-surviving docs.
        from slowspark.corpus import domain_quality_filter

        def _domq() -> DataFrame:
            keep = domain_quality_filter(
                filtered,
                domain_col=domain_col,
                min_mean_quality=domain_quality_threshold,
            ).filter(F.col("domain_keep"))
            return filtered.join(
                F.broadcast(keep.select(F.col("domain").alias(domain_col))),
                domain_col,
                "left_semi",
            )

        filtered = run_stage(spark, cat, "domain_filtered", sig, _domq)
        out["domain_filtered"] = filtered

    if max_docs_per_domain is not None:
        # C4-style per-host cap: a single spam domain must not dominate
        # the corpus however many pages it serves. Deterministic
        # md5-rank keeper (exact_k_sample) — same rows win in every
        # run/engine; domains under the cap are untouched. Runs after
        # the per-doc/domain quality gates, before dedup (the cap is an
        # ingest-side volume guard, not a dedup policy).
        from slowspark.corpus import exact_k_sample

        def _domcap() -> DataFrame:
            over = (
                filtered.groupBy(domain_col)
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > max_docs_per_domain)
                .agg(
                    F.count("*").alias("nd"),
                    F.coalesce(
                        F.sum(F.col("__n") - max_docs_per_domain), F.lit(0)
                    ).alias("nr"),
                )
                .first()
            )
            if over["nd"]:
                logger.warning(
                    "max_docs_per_domain=%d capped %d domain(s), "
                    "dropping %d row(s) (no-silent-drops rule)",
                    max_docs_per_domain, over["nd"], over["nr"],
                )
            return exact_k_sample(
                filtered, max_docs_per_domain,
                stratum_col=domain_col, salt="domcap",
            )

        filtered = run_stage(spark, cat, "domain_capped", sig, _domcap)
        out["domain_capped"] = filtered

    if line_dedup_min_df is not None:
        from slowspark.textops import line_boilerplate_dedup

        filtered = run_stage(
            spark, cat, "line_deduped", sig,
            lambda: _kept_text(filtered, line_boilerplate_dedup(
                filtered, min_df=line_dedup_min_df, with_text=True
            )),
        )
        out["line_deduped"] = filtered

    deduped_exact = run_stage(
        spark, cat, "deduped_exact", sig, lambda: exact_dedup(filtered)
    )
    out["deduped_exact"] = deduped_exact

    deduped = run_stage(
        spark, cat, "deduped_near", sig, lambda: minhash_dedup(deduped_exact)
    )
    out["deduped_near"] = deduped

    if sem_src is not None:
        from slowspark.similarity import semantic_near_dup_pairs

        def _sem() -> DataFrame:
            # judge only docs still alive after token-level dedup: a doc
            # already dropped must not also kill its semantic twin
            alive = sem_src.join(deduped.select("doc_id"), "doc_id", "left_semi")
            pairs = semantic_near_dup_pairs(
                alive,
                vec_col="embedding",
                id_col="doc_id",
                n_clusters=semantic_n_clusters,
                cosine_threshold=semantic_threshold,
                assigned=alive if semantic_cells_df is not None else None,
            )
            losers = pairs.select(
                F.greatest("id_a", "id_b").alias("doc_id")
            ).distinct()
            return deduped.join(losers, "doc_id", "left_anti")

        deduped = run_stage(spark, cat, "semantic_deduped", sig, _sem)
        out["semantic_deduped"] = deduped

    if substring_dedup_n is not None:
        from slowspark.textops import exact_substring_dedup

        deduped = run_stage(
            spark, cat, "substring_deduped", sig,
            lambda: _kept_text(deduped, exact_substring_dedup(
                deduped, n=substring_dedup_n, with_text=True
            )),
        )
        out["substring_deduped"] = deduped

    if substring_dedup_chars is not None:
        from slowspark.textops import exact_substring_dedup_chars

        deduped = run_stage(
            spark, cat, "substring_char_deduped", sig,
            lambda: _kept_text(deduped, exact_substring_dedup_chars(
                deduped, min_len=substring_dedup_chars, with_text=True
            )),
        )
        out["substring_char_deduped"] = deduped

    if ppl_keep_buckets is not None:
        from slowspark.corpus import perplexity_buckets

        def _ppl() -> DataFrame:
            lang_col = "lang" if "lang" in deduped.columns else None
            scored = None
            if ppl_scorer == "bigram":
                from slowspark.corpus import stupid_backoff_logprob

                scored = stupid_backoff_logprob(
                    deduped, model_df=ppl_model_df
                )
            elif ppl_scorer == "kneser_ney":
                from slowspark.corpus import kneser_ney_logprob

                scored = kneser_ney_logprob(
                    deduped, model_df=ppl_model_df
                )
            keep_ids = (
                perplexity_buckets(
                    deduped, lang_col=lang_col, n_buckets=ppl_n_buckets,
                    scored_df=scored,
                )
                .filter(F.col("ppl_bucket").isin([int(b) for b in ppl_keep_buckets]))
                .select("doc_id")
            )
            return deduped.join(keep_ids, "doc_id", "left_semi")

        deduped = run_stage(spark, cat, "ppl_filtered", sig, _ppl)
        out["ppl_filtered"] = deduped

    if quality_coeffs_df is not None and quality_sample_k is None:
        def _qclf() -> DataFrame:
            scores, _ = _quality_scores(deduped)
            keep_ids = scores.filter(
                F.col("score") >= float(quality_threshold)
            ).select("doc_id")
            return deduped.join(keep_ids, "doc_id", "left_semi")

        deduped = run_stage(spark, cat, "quality_filtered", sig, _qclf)
        out["quality_filtered"] = deduped

    # rewrite text to the boilerplate-free reassembly; a doc whose every
    # passage was boilerplate is dropped (nothing left to train on) — the
    # count delta vs deduped_near is the audit trail
    scrubbed = run_stage(
        spark, cat, "scrubbed", sig,
        lambda: _kept_text(deduped, passage_dedup(
            deduped,
            passage_words=passage_words,
            max_docs_per_passage=max_docs_per_passage,
            with_text=True,
        )),
    )
    out["scrubbed"] = scrubbed

    if scrub_pii:
        from slowspark.textops import scrub_pii as _scrub_pii_fn

        def _pii() -> DataFrame:
            cols = scrubbed.columns
            return (
                _scrub_pii_fn(scrubbed)
                .drop("text")
                .withColumnRenamed("text_scrubbed", "text")
                .select(*cols)
            )

        scrubbed = run_stage(spark, cat, "pii_scrubbed", sig, _pii)
        out["pii_scrubbed"] = scrubbed

    if eval_df is not None:
        from slowspark.textops import decontaminate

        scrubbed = run_stage(
            spark, cat, "decontaminated", sig,
            lambda: decontaminate(scrubbed, eval_df, n=decontaminate_ngram),
        )
        out["decontaminated"] = scrubbed

    if fuzzy_decontaminate_threshold is not None:
        from slowspark.textops import decontaminate_fuzzy

        # the eval side needs an id column for the cross-table band join;
        # an eval parquet that carries none gets a deterministic
        # content-derived one (identity is irrelevant — only corpus
        # doc_ids are dropped)
        ev_df = (
            eval_df if "doc_id" in eval_df.columns
            else eval_df.withColumn("doc_id", F.xxhash64("text"))
        )

        def _fuzzy() -> DataFrame:
            return decontaminate_fuzzy(
                scrubbed, ev_df,
                jaccard_threshold=fuzzy_decontaminate_threshold,
                ngram_n=fuzzy_decontaminate_ngram,
            )

        scrubbed = run_stage(spark, cat, "fuzzy_decontaminated", sig, _fuzzy)
        out["fuzzy_decontaminated"] = scrubbed

    if holdout_frac is not None:
        from slowspark.corpus import holdout_split

        def _holdout(side: str):
            def _f() -> DataFrame:
                return holdout_split(
                    scrubbed, holdout_frac, holdout_group,
                    salt=sample_salt,
                ).filter(F.col("split") == side).drop("split")
            return _f

        out["holdout_val"] = run_stage(
            spark, cat, "holdout_val", sig, _holdout("val")
        )
        scrubbed = run_stage(
            spark, cat, "holdout_train", sig, _holdout("train")
        )
        out["holdout_train"] = scrubbed

    if quality_sample_k is not None:
        from slowspark.corpus import weighted_sample_k
        from slowspark.qualityclf import sigmoid

        def sample() -> DataFrame:
            scores, b = _quality_scores(scrubbed)
            wdf = scrubbed.join(scores, "doc_id", "left").withColumn(
                "__qw", F.coalesce(F.col("score"), F.lit(sigmoid(b)))
            )
            return weighted_sample_k(
                wdf, "__qw", int(quality_sample_k), seed=sample_salt
            ).select(*scrubbed.columns)
    elif dsir_target_df is not None:
        from slowspark.dsir import dsir_topk

        def sample() -> DataFrame:
            picked = dsir_topk(
                scrubbed, dsir_target_df, k=int(dsir_k),
                n_buckets=dsir_buckets, alpha=dsir_alpha,
                seed=sample_salt,
                length_normalize=dsir_length_normalize,
            ).select("doc_id")
            # inner join back: keep the scrubbed schema (the dsir score
            # columns stay in the dsir stage, not the training corpus)
            return scrubbed.join(picked, "doc_id").select(*scrubbed.columns)
    elif unimax_budget is not None:
        from slowspark.corpus import unimax_sample

        def sample() -> DataFrame:
            return unimax_sample(
                scrubbed, unimax_budget, unimax_epochs, salt=sample_salt
            )
    elif mixture_upsample:
        from slowspark.corpus import mixture_rates, repeat_sample

        def sample() -> DataFrame:
            rates, _t = mixture_rates(
                scrubbed, dict(mixture), target_tokens=target_tokens,
                allow_upsample=True,
            )
            return repeat_sample(scrubbed, rates, salt=sample_salt)
    elif mixture or mixture_temperature is not None:
        from slowspark.corpus import mixture_sample, temperature_mixture_props

        def sample() -> DataFrame:
            props = (
                dict(mixture) if mixture
                else temperature_mixture_props(scrubbed, mixture_temperature)
            )
            return mixture_sample(
                scrubbed, props, target_tokens=target_tokens,
                salt=sample_salt,
            )
    else:
        def sample() -> DataFrame:
            return hash_sample(
                scrubbed, rates=dict(sample_rates or {}),
                default_rate=sample_rate, salt=sample_salt,
            )
    sampled = run_stage(spark, cat, "sampled", sig, sample)
    out["sampled"] = sampled

    def _subword_counts(tokenizer: str, segment) -> DataFrame:
        """`sampled` plus `<tokenizer>_n_tokens`: one `segment` count per
        distinct doc (upsample repeats join by doc_id), persisted as the
        `<tokenizer>_counts` stage. LEFT join + zero-fill (ADVICE r8): a
        doc whose text yields no tokens gets no segmenter row; an inner
        join would silently drop it before packing (no-silent-drops
        rule)."""
        col = f"{tokenizer}_n_tokens"
        counts = run_stage(
            spark, cat, f"{tokenizer}_counts", sig,
            lambda: segment(
                sampled.select("doc_id", "text").dropDuplicates(["doc_id"])
            ).select("doc_id", F.col("n_tokens").alias(col)),
        )
        return sampled.join(counts, "doc_id", "left").withColumn(
            col, F.coalesce(col, F.lit(0))
        )

    pack_tokens_col = None
    if unigram_vocab is not None:
        from slowspark.unigramlm import unigram_segment, unigram_train

        uni_model = run_stage(
            spark, cat, "unigram_vocab", sig,
            lambda: unigram_train(sampled, vocab_size=unigram_vocab),
        )
        out["unigram_vocab"] = uni_model
        sampled = _subword_counts(
            "unigram", lambda d: unigram_segment(d, uni_model)
        )
        pack_tokens_col = "unigram_n_tokens"
    if bpe_merges_n is not None:
        from slowspark.bpe import bpe_learn, bpe_segment, merge_table

        def _vocab() -> DataFrame:
            return merge_table(
                spark,
                bpe_learn(sampled, bpe_merges_n, byte_level=bpe_byte_level),
            )

        vocab = run_stage(spark, cat, "bpe_vocab", sig, _vocab)
        out["bpe_vocab"] = vocab
        merges = [
            {"left": r["lhs"], "right": r["rhs"], "merged": r["merged"]}
            for r in vocab.orderBy("merge_ix").collect()
        ]
        sampled = _subword_counts("bpe", lambda d: bpe_segment(
            d, merges, byte_level=bpe_byte_level, counts_only=True
        ))
        pack_tokens_col = "bpe_n_tokens"

    if mixture_upsample or unimax_budget is not None:
        # repeated copies are distinct documents to the packer: key the
        # global concat order on (doc_id, repeat_ix), then flatten back
        def pack() -> DataFrame:
            # NOT named __pid: pack_sequences uses that internally for
            # its range-partition id and would overwrite the struct
            p = pack_sequences(
                sampled.withColumn(
                    "__packkey", F.struct("doc_id", "repeat_ix")
                ),
                seq_len=seq_len,
                id_col="__packkey",
                n_tokens_col=pack_tokens_col,
            )
            return p.select(
                F.col("__packkey.doc_id").alias("doc_id"),
                F.col("__packkey.repeat_ix").alias("repeat_ix"),
                "n_tokens", "seq_id", "seq_offset",
            )
    else:
        from slowspark.corpus import pack_bins

        packer = pack_bins if pack_whole_docs else pack_sequences

        def pack() -> DataFrame:
            return packer(
                sampled, seq_len=seq_len, n_tokens_col=pack_tokens_col
            )
    out["packed"] = run_stage(spark, cat, "packed", sig, pack)
    return out


def _rates(spec: str) -> dict[str, float]:
    return {
        k: float(v) for k, v in (kv.split("=", 1) for kv in spec.split(","))
    }


# run_curation parameters the CLI takes as one comma-separated string
_COMMA_PARAMS = {
    "sample_rates": _rates,
    "mixture": _rates,
    "langs": lambda s: s.split(","),
    "badwords": lambda s: s.split(","),
    "ppl_keep_buckets": lambda s: [int(b) for b in s.split(",")],
}
# run_curation parameters the CLI takes as a parquet path
_PARQUET_PARAMS = (
    "eval_df", "embeddings_df", "semantic_cells_df", "ppl_model_df",
    "quality_coeffs_df", "dsir_target_df", "delta_old_df",
)


def main(argv: list[str] | None = None) -> int:
    # a knob flag's dest is its run_curation parameter and it has no
    # default: only the flags given are forwarded, so run_curation's
    # defaults are the only ones
    p = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    p.add_argument("--input", required=True,
                   help="documents parquet path (or WARC glob with "
                   "--input-format warc)")
    p.add_argument("--input-format", default="parquet",
                   choices=("parquet", "warc", "jsonl"),
                   help="'warc' reads Common-Crawl-style WARC files "
                   "(sources.read_warc): doc_id = xxhash64(url), text = "
                   "UTF-8-decoded payload, lang detected with "
                   "textops.language_id — the real crawl entry point; "
                   "'jsonl' reads JSONL(.gz) dataset releases "
                   "(sources.read_jsonl, FAILFAST, requires doc_id + "
                   "text; lang detected when absent)")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--min-words", type=int)
    p.add_argument("--passage-words", type=int)
    p.add_argument("--max-docs-per-passage", type=int)
    p.add_argument("--sample-rate", type=float)
    p.add_argument("--sample-rates",
                   help="per-stratum rates as lang=rate[,lang=rate...], "
                   "e.g. 'en=0.5,zh=1.0'; --sample-rate stays the default "
                   "for unlisted strata")
    p.add_argument("--sample-salt")
    p.add_argument("--seq-len", type=int)
    p.add_argument("--eval-set", dest="eval_df", metavar="EVAL_SET",
                   help="eval/benchmark parquet with a text column: enables "
                   "the n-gram decontamination stage")
    p.add_argument("--decontaminate-ngram", type=int)
    p.add_argument("--fuzzy-decontaminate-threshold", type=float,
                   help="word-n-gram Jaccard threshold for FUZZY "
                   "decontamination against --eval-set (catches "
                   "paraphrased eval copies exact n-gram overlap misses); "
                   "runs after the exact stage")
    p.add_argument("--fuzzy-decontaminate-ngram", type=int)
    p.add_argument("--langs",
                   help="comma-separated language allowlist (lang column); "
                   "filters BEFORE the quality rules")
    p.add_argument("--scrub-pii", action="store_true",
                   help="mask emails/IPs/phone numbers after passage scrub")
    p.add_argument("--substring-dedup-n", type=int,
                   help="exact substring dedup window (tokens): duplicated "
                   ">= n-token runs are cut, first occurrence kept")
    p.add_argument("--substring-dedup-chars", type=int,
                   help="suffix-array-grade exact substring dedup (CHARS): "
                   "duplicated >= L-char spans are cut exactly, first "
                   "occurrence kept")
    p.add_argument("--semantic-dedup-embeddings", dest="embeddings_df",
                   metavar="SEMANTIC_DEDUP_EMBEDDINGS",
                   help="sidecar parquet (doc_id, embedding array): enables "
                   "the SemDeDup semantic-dedup stage after near-dup")
    p.add_argument("--semantic-dedup-cells", dest="semantic_cells_df",
                   metavar="SEMANTIC_DEDUP_CELLS",
                   help="pre-assigned cell parquet (doc_id, embedding, "
                   "ivf_cell — e.g. an IVF index's cell table): enables the "
                   "semantic-dedup stage WITHOUT k-means training/assignment")
    p.add_argument("--semantic-n-clusters", type=int)
    p.add_argument("--semantic-threshold", type=float)
    p.add_argument("--mixture",
                   help="domain-mix token budgeting as lang=prop[,...] "
                   "(e.g. 'en=0.6,de=0.4'): per-stratum rates derived from "
                   "measured token counts; unlisted strata dropped; "
                   "mutually exclusive with --sample-rates")
    p.add_argument("--target-tokens", type=int,
                   help="explicit mixture token budget (default: largest "
                   "achievable; infeasible budgets fail loudly)")
    p.add_argument("--url-dedup", action="store_true",
                   help="URL-canonical dedup as the first stage "
                   "(requires a url column)")
    p.add_argument("--badwords",
                   help="comma-separated word blocklist (C4 style, "
                   "whole-token matching): any hit drops the doc")
    p.add_argument("--gopher-repetition", action="store_true",
                   help="apply the full Gopher Table A1 within-document "
                   "repetition rules after the quality filter")
    p.add_argument("--domain-quality-threshold", type=float,
                   help="drop WHOLE domains whose mean heuristic quality "
                        "is below this (RefinedWeb site-level gating); "
                        "needs the --domain-col column")
    p.add_argument("--domain-col",
                   help="domain/site column for --domain-quality-threshold "
                        "(default: source)")
    p.add_argument("--max-docs-per-domain", type=int,
                   help="C4-style per-domain volume cap: keep at most N "
                        "docs per --domain-col value (deterministic "
                        "md5-rank keeper; capped domains are logged)")
    p.add_argument("--line-dedup-min-df", type=int,
                   help="RefinedWeb line-wise boilerplate removal before "
                   "exact dedup: lines recurring across >= N docs are cut")
    p.add_argument("--ppl-keep-buckets",
                   help="CCNet perplexity filter after dedup: keep only "
                   "these buckets, e.g. '0,1' (0 = most stereotypical)")
    p.add_argument("--ppl-n-buckets", type=int)
    p.add_argument("--ppl-scorer",
                   choices=("unigram", "bigram", "kneser_ney"),
                   help="LM behind the perplexity filter: corpus-unigram, "
                   "Stupid Backoff bigram, or interpolated Kneser-Ney "
                   "bigram")
    p.add_argument("--ppl-model", dest="ppl_model_df", metavar="PPL_MODEL",
                   help="reference-corpus parquet for the bigram scorer "
                   "(CCNet shape: train on trusted text, score the "
                   "crawl); default scores against the corpus itself")
    p.add_argument("--quality-classifier-coeffs", dest="quality_coeffs_df",
                   metavar="QUALITY_CLASSIFIER_COEFFS",
                   help="coefficient parquet (bucket, weight; intercept at "
                   "bucket=-1) from qualityclf.train_logreg: score every "
                   "doc after dedup and keep score >= threshold")
    p.add_argument("--quality-threshold", type=float)
    p.add_argument("--bpe-merges", dest="bpe_merges_n",
                   metavar="BPE_MERGES", type=int,
                   help="learn a BPE vocab of N merges on the sampled "
                   "corpus (persisted as the bpe_vocab stage) and pack "
                   "in tokenizer subword counts instead of whitespace "
                   "tokens")
    p.add_argument("--unigram-vocab", type=int,
                   help="train a Unigram-LM tokenizer of this vocab size "
                        "on the sampled corpus (unigram_vocab stage) and "
                        "pack in its subword counts; mutually exclusive "
                        "with --bpe-merges")
    p.add_argument("--bpe-byte-level", action="store_true",
                   help="with --bpe-merges: train/segment BYTE-level "
                   "BPE over GPT-2 pre-tokens (case/space-preserving, "
                   "no OOV) instead of char-level over \\S+ words")
    p.add_argument("--quality-classifier-buckets", dest="quality_n_buckets",
                   metavar="QUALITY_CLASSIFIER_BUCKETS", type=int,
                   help="feature-hash bucket count; must match training")
    p.add_argument("--mixture-upsample", action="store_true",
                   help="repetition regime for --mixture: scarce strata "
                   "repeat (per-row repeat_ix; packing keys on doc_id + "
                   "repeat_ix); default budget = the corpus's token mass")
    p.add_argument("--dsir-target", dest="dsir_target_df",
                   metavar="DSIR_TARGET",
                   help="target-corpus parquet (text column): DSIR "
                   "importance resampling as the sampling stage — keep "
                   "the --dsir-k docs most target-like by hashed-n-gram "
                   "likelihood ratio (Gumbel top-k, seeded by "
                   "--sample-salt); target content joins the resume "
                   "signature; mutually exclusive with --mixture and "
                   "--sample-rates")
    p.add_argument("--dsir-k", type=int,
                   help="number of documents DSIR keeps (required with "
                   "--dsir-target)")
    p.add_argument("--dsir-buckets", type=int,
                   help="hashed n-gram bucket count for the DSIR model")
    p.add_argument("--dsir-alpha", type=float,
                   help="additive smoothing for the DSIR bucket models; "
                   "keep alpha*buckets well under the target's gram "
                   "count or the ratio degenerates (dsir docstring)")
    p.add_argument("--dsir-length-normalize", action="store_true",
                   help="score by mean per-gram log ratio instead of the "
                   "paper's raw sum — for unchunked mixed-length corpora")
    p.add_argument("--mixture-temperature", type=float,
                   help="temperature-scaled domain mixing: proportions ~ "
                   "(token share)^(1/T), then the mixture sampler; "
                   "composes with --target-tokens; mutually exclusive "
                   "with the other sampling policies")
    p.add_argument("--unimax-budget", type=int,
                   help="UniMax water-filled token budget: as uniform as "
                   "possible subject to --unimax-epochs per stratum; "
                   "output carries repeat_ix; mutually exclusive with "
                   "the other sampling policies")
    p.add_argument("--unimax-epochs", type=float,
                   help="per-stratum epoch cap for --unimax-budget")
    p.add_argument("--latest-capture", action="store_true",
                   help="consolidate a multi-capture input to the newest "
                   "capture per URL (weburl.latest_capture) as the very "
                   "first stage; requires url + warc_ts columns")
    p.add_argument("--delta-old", dest="delta_old_df", metavar="PARQUET",
                   help="previous snapshot (url + fingerprint, md5(text) "
                   "contract, or url + text): keep only NEW or CHANGED "
                   "URLs (weburl.keep_new_or_changed) — incremental "
                   "recrawl ingest; snapshot content in the resume "
                   "signature")
    p.add_argument("--holdout-frac", type=float,
                   help="carve a leakage-safe validation set before the "
                   "sampling slot: this fraction of GROUPS (by hash "
                   "mass) goes to a holdout_val table; sampling/packing "
                   "see only the train side (corpus.holdout_split)")
    p.add_argument("--holdout-group",
                   help="group column for the holdout assignment — all "
                   "docs of a group land on one side (default: source)")
    p.add_argument("--main-content", action="store_true", default=False,
                   help="with --input-format warc: extract the MAIN "
                        "content of each page (textops."
                        "main_content_blocks block-level link-density "
                        "heuristic) instead of all visible text — nav "
                        "bars, footers, and link boxes never become "
                        "document text")
    p.add_argument("--export-warc", type=int, default=None, metavar="N_FILES",
                   help="after packing, export the sampled corpus as N "
                   "deterministic WARC files under <warehouse>/warc_export "
                   "(sources.write_warc; crawl-tool interchange)")
    p.add_argument("--respect-noindex", action="store_true", default=False,
                   help="WARC input only: drop pages carrying a meta "
                   "robots noindex directive at the ingest boundary "
                   "(weburl.NOINDEX_RE) — the publisher opt-out")
    p.add_argument("--quality-sample-k", type=int,
                   help="soft quality selection as the sampling policy "
                   "(requires --quality-classifier-coeffs): classifier "
                   "sigmoid score becomes the sampling weight; keep K "
                   "docs without replacement (corpus.weighted_sample_k); "
                   "replaces the hard-threshold quality_filtered stage")
    p.add_argument("--pack-whole-docs", action="store_true",
                   help="pack with whole-document next-fit bins "
                   "(corpus.pack_bins: no doc ever splits across "
                   "sequences; over-length docs flagged truncated) "
                   "instead of concat-chunk")
    p.add_argument("--export-jsonl", type=int, default=None,
                   metavar="N_FILES",
                   help="after packing, export the sampled corpus as N "
                   "deterministic JSONL.gz files under "
                   "<warehouse>/jsonl_export (sources.write_jsonl; "
                   "dataset-release interchange, byte-identical reruns)")
    args = p.parse_args(argv)
    params = inspect.signature(run_curation).parameters
    knobs = {
        name for name, prm in params.items()
        if prm.default is not inspect.Parameter.empty
    }
    kw = {k: v for k, v in vars(args).items() if k in knobs}
    if (kw.get("dsir_target_df") is None) != (kw.get("dsir_k") is None):
        p.error("--dsir-target and --dsir-k go together")
    n_pol = sum(bool(kw.get(k)) for k in (
        "sample_rates", "mixture", "dsir_target_df",
        "mixture_temperature", "unimax_budget", "quality_sample_k",
    ))
    if n_pol > 1:
        p.error("--sample-rates/--mixture/--dsir-target/"
                "--mixture-temperature/--unimax-budget/"
                "--quality-sample-k are mutually "
                "exclusive (one sampling policy per run)")
    if kw.get("quality_sample_k") and not kw.get("quality_coeffs_df"):
        p.error("--quality-sample-k requires --quality-classifier-coeffs")
    if args.main_content and args.input_format != "warc":
        p.error("--main-content applies to --input-format warc only "
                "(other formats carry text, not page HTML)")
    if args.respect_noindex and args.input_format != "warc":
        p.error("--respect-noindex applies to --input-format warc only "
                "(parquet/jsonl corpora carry no html)")
    if (kw.get("unimax_epochs") not in (None, 1.0)
            and not kw.get("unimax_budget")):
        p.error("--unimax-epochs requires --unimax-budget")
    if kw.get("mixture_upsample") and not kw.get("mixture"):
        p.error("--mixture-upsample requires --mixture")
    if (kw.get("fuzzy_decontaminate_threshold") is not None
            and not kw.get("eval_df")):
        p.error("--fuzzy-decontaminate-threshold requires --eval-set")
    for k, parse in _COMMA_PARAMS.items():
        if k in kw:
            kw[k] = parse(kw[k]) if kw[k] else None

    spark = get_spark("slowspark-curate", master=args.master)
    try:
        if args.input_format == "warc":
            from slowspark.sources import read_warc

            recs = read_warc(spark, args.input).filter(
                F.col("warc_type") == "response"
            )
            if args.respect_noindex:
                # publisher opt-out honored at the ingest boundary: a
                # noindexed page never even becomes a document row
                from slowspark.weburl import NOINDEX_RE

                recs = recs.filter(
                    ~F.coalesce(
                        F.decode("payload", "UTF-8").rlike(NOINDEX_RE),
                        F.lit(False),
                    )
                )
            if args.main_content:
                from slowspark.textops import main_content_blocks

                recs = main_content_blocks(recs, html_col="payload")
                text_expr = F.col("main_text")
            else:
                text_expr = F.decode("payload", "UTF-8")
            docs = recs.select(
                # doc_id is per CAPTURE, not per URL: multi-snapshot
                # crawls normally carry several responses for the same
                # URL, and a url-only hash would silently collide the
                # md5(doc_id) samplers and (doc_id, repeat_ix) packing
                # keys downstream (ADVICE r7)
                F.xxhash64("url", F.col("warc_ts").cast("string"))
                .alias("doc_id"),
                "url",
                F.col("warc_ts"),
                text_expr.alias("text"),
            )
            if not kw.get("latest_capture"):
                # same url AND same warc_ts is genuinely ambiguous input —
                # fail loudly with the flag that consolidates captures
                dup = (
                    docs.groupBy("doc_id").count()
                    .filter(F.col("count") > 1).limit(1).collect()
                )
                if dup:
                    raise SystemExit(
                        "curate: duplicate doc_id after WARC ingest (same "
                        "url + warc_ts captured more than once). Pass "
                        "--latest-capture to consolidate captures per URL, "
                        "or dedupe the WARC input."
                    )
        elif args.input_format == "jsonl":
            from slowspark.sources import read_jsonl

            docs = read_jsonl(
                spark, args.input, required_cols=("doc_id", "text")
            )
        else:
            docs = spark.read.parquet(args.input)
        if args.input_format != "parquet" and "lang" not in docs.columns:
            from slowspark.textops import language_id

            docs = language_id(docs).withColumnRenamed(
                "lang_pred", "lang"
            ).drop("lang_score")
        for k in _PARQUET_PARAMS:
            if k in kw:
                kw[k] = spark.read.parquet(kw[k]) if kw[k] else None
        tables = run_curation(
            spark, docs, args.warehouse,
            f"path:{args.input}:{args.input_format}"
            f":files={fs_listing_stamp(spark, args.input)}"
            f":ni={int(args.respect_noindex)}"
            f":mc={int(args.main_content)}",
            **kw,
        )
        exports = {}
        if args.export_warc:
            from slowspark.sources import write_warc

            sampled = tables["sampled"]
            if "url" not in sampled.columns:
                sampled = sampled.withColumn(
                    "url",
                    F.concat(F.lit("urn:slowspark:doc:"),
                             F.col("doc_id").cast("string")),
                )
            exports["warc_export"] = write_warc(
                sampled.select(
                    "url", F.encode("text", "UTF-8").alias("payload"),
                    *(c for c in ("lang", "doc_id") if c in sampled.columns),
                ).dropDuplicates(["url"]),
                os.path.join(args.warehouse, "warc_export"),
                n_files=args.export_warc,
                header_cols=tuple(
                    c for c in ("lang", "doc_id") if c in sampled.columns
                ),
            )
        if args.export_jsonl:
            from slowspark.sources import write_jsonl

            sampled = tables["sampled"]
            exports["jsonl_export"] = write_jsonl(
                sampled.select(*(
                    c for c, t in sampled.dtypes if t != "binary"
                )),
                os.path.join(args.warehouse, "jsonl_export"),
                n_files=args.export_jsonl,
            )
        audit = tables["filter_audit"].collect()[0].asDict()
        # row counts from the stage manifests (observed on each write),
        # in pipeline order: no count job
        cat = Catalog(args.warehouse)
        stages = {
            name: load_manifest(cat, name, spark)["row_count"]
            for name in tables
            if name not in ("filter_audit", "unigram_vocab", "bpe_vocab")
        }
        if kw.get("pack_whole_docs"):
            n_seq = tables["packed"].select("shard", "bin_ix").distinct() \
                .count()
        else:
            n_seq = tables["packed"].agg(
                (F.max("seq_id") + 1).alias("n")
            ).collect()[0]["n"]
        summary = {
            "filter_audit": audit,
            "stage_rows": stages,
            "n_sequences": int(n_seq or 0),
        }
        for name, manifest in exports.items():
            summary[name] = {
                "n_files": len(manifest),
                "n_records": sum(m["n_records"] for m in manifest),
                "n_bytes": sum(m["n_bytes"] for m in manifest),
            }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
