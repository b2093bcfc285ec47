"""End-to-end tests for the curation pipeline (slowspark.curate):
filter -> exact dedup -> near dedup -> passage scrub -> sample -> pack,
with resumable stage manifests."""

import os

import pytest
from pyspark.sql import functions as F

from slowspark.curate import run_curation

GOOD_TAIL = "the quick brown fox jumps over a lazy dog near the old mill"
BOILER = " ".join(f"nav{i}" for i in range(20))  # one exact 20-word passage


def _corpus(spark):
    rows = []
    # 6 good docs sharing the SAME leading boilerplate passage; tails are
    # long and unique so the docs are NOT near-dups of each other (the
    # shared 32-word head over a ~100-word doc is Jaccard ~0.3 < 0.7 —
    # exactly the boilerplate-but-distinct-documents case passage scrub
    # exists for, which document-level dedup must NOT collapse)
    import hashlib

    for i in range(6):
        # hash-derived words: shingling is CHARACTER-level, so the tails
        # must differ in character content, not just in an index digit
        # all-letter words (hex digits would trip the digit-ratio rule)
        letters = str.maketrans("0123456789", "ghijklmnop")
        tail = " ".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8].translate(letters)
            for j in range(70)
        )
        rows.append((i, f"{BOILER} {GOOD_TAIL} {tail}", "en"))
    # an exact duplicate pair (doc 10 survives, 11 dropped at exact dedup)
    dup_text = (
        f"{GOOD_TAIL} alpha beta gamma delta epsilon zeta eta theta " * 3
    ).strip()
    rows += [(10, dup_text, "en"), (11, dup_text, "en")]
    # a near-duplicate of doc 10: ONE word changed in ~60 (jaccard ~0.9,
    # well over the 0.7 threshold; a single change in a SHORT doc rewrites
    # most of its 5-shingles and is correctly NOT a near-dup)
    rows.append((12, dup_text.replace("theta", "iota", 1), "en"))
    # low-quality: too short
    rows.append((20, "too short", "en"))
    # low-quality: no stopwords
    rows.append((21, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg", "en"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_curation_end_to_end(spark, tmp_path):
    tables = run_curation(
        spark, _corpus(spark), str(tmp_path / "wh"), "test:v1",
        min_words=10, passage_words=20, max_docs_per_passage=2, seq_len=32,
    )
    # filter drops 20 (short) and 21 (no stopwords)
    kept = {r["doc_id"] for r in tables["filtered"].collect()}
    assert 20 not in kept and 21 not in kept and len(kept) == 9
    # exact dedup collapses {10, 11} -> {10}
    exact = {r["doc_id"] for r in tables["deduped_exact"].collect()}
    assert 11 not in exact and 10 in exact and len(exact) == 8
    # near dedup collapses {10, 12} -> {10}
    near = {r["doc_id"] for r in tables["deduped_near"].collect()}
    assert 12 not in near and 10 in near and len(near) == 7
    # passage scrub removes the shared nav boilerplate from the 6 docs
    scrubbed = {r["doc_id"]: r["text"] for r in tables["scrubbed"].collect()}
    assert len(scrubbed) == 7
    for i in range(6):
        assert "nav0" not in scrubbed[i]
        assert GOOD_TAIL.split()[0] in scrubbed[i]  # unique content kept
    assert scrubbed[10].startswith("the quick")
    # packing covers every surviving doc exactly once, ids are contiguous
    packed = tables["packed"].collect()
    assert {r["doc_id"] for r in packed} == set(scrubbed)
    audit = tables["filter_audit"].collect()[0]
    assert audit["n_docs"] == 11 and audit["n_kept"] == 9
    assert audit["dropped_by_rule_word_count"] >= 1
    assert audit["dropped_by_rule_stopwords"] >= 1


def test_curation_resume_skips_stages(spark, tmp_path):
    wh = str(tmp_path / "wh")
    docs = _corpus(spark)
    t1 = run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32)
    first = sorted(
        (r["doc_id"], r["seq_id"], r["seq_offset"])
        for r in t1["packed"].collect()
    )
    # mtime of a stage's parquet dir must not change on resume
    packed_dir = os.path.join(wh, "packed")
    mtime_before = os.path.getmtime(packed_dir)
    t2 = run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32)
    second = sorted(
        (r["doc_id"], r["seq_id"], r["seq_offset"])
        for r in t2["packed"].collect()
    )
    assert first == second
    assert os.path.getmtime(packed_dir) == mtime_before  # stage skipped
    # a parameter change invalidates the signature and recomputes
    t3 = run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=16)
    assert os.path.getmtime(packed_dir) != mtime_before
    n16 = t3["packed"].agg(F.max("seq_id")).collect()[0][0]
    n32 = max(seq_id for _, seq_id, _ in first)  # from the pre-t3 collect
    assert n16 > n32  # half the seq_len -> about twice the sequences


def test_curation_lang_filter_and_pii_stages(spark, tmp_path):
    """--langs drops a wrong-language doc at exactly the lang_filtered
    stage (before the quality rules see it); --scrub-pii rewrites a PII
    doc at exactly the pii_scrubbed stage (text before it still carries
    the email, text after it carries the placeholder)."""
    rows = [r for r in _corpus(spark).collect()]
    extra = [
        # wrong language, otherwise high quality
        (30, rows[0]["text"], "fr"),
        # PII doc: long enough, with an email + stopwords
        (31, ("please contact me at someone@example.com for the details "
              "of the plan and a copy of that report in a timely manner "
              "with all of the numbers included for review and approval "
              "so that we can proceed to the next stage of the project"),
         "en"),
    ]
    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"]) for r in rows] + extra,
        "doc_id long, text string, lang string",
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, seq_len=32, langs=["en"], scrub_pii=True,
    )
    lang_kept = {r["doc_id"] for r in tables["lang_filtered"].collect()}
    assert 30 not in lang_kept and 31 in lang_kept
    filtered = {r["doc_id"] for r in tables["filtered"].collect()}
    assert 30 not in filtered and 31 in filtered
    before = {r["doc_id"]: r["text"] for r in tables["scrubbed"].collect()}
    after = {r["doc_id"]: r["text"] for r in tables["pii_scrubbed"].collect()}
    assert "someone@example.com" in before[31]
    assert "someone@example.com" not in after[31] and "<EMAIL>" in after[31]
    # the scrubbed rendition is what gets packed
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert 31 in packed and 30 not in packed


def test_curation_new_knobs_invalidate_resume(spark, tmp_path):
    """Changing --langs / --scrub-pii / per-stratum rates / the eval set
    must miss the stage manifests and recompute downstream stages — the
    'knob change invalidates downstream resumes' contract extended to the
    round-5 knobs (the eval-set content hash closes the r4 ADVICE hole:
    same ngram + different eval set no longer resumes stale
    decontamination)."""
    wh = str(tmp_path / "wh")
    docs = _corpus(spark)
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32)
    packed_dir = os.path.join(wh, "packed")
    m0 = os.path.getmtime(packed_dir)

    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 langs=["en"])
    m1 = os.path.getmtime(packed_dir)
    assert m1 != m0  # langs knob invalidates

    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 langs=["en"], scrub_pii=True)
    m2 = os.path.getmtime(packed_dir)
    assert m2 != m1  # pii knob invalidates

    t = run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                     langs=["en"], scrub_pii=True,
                     sample_rates={"en": 1.0})
    m3 = os.path.getmtime(packed_dir)
    assert m3 != m2  # per-stratum rates invalidate
    assert "sampled" in t

    # eval-set CONTENT participates: same ngram, different eval rows
    ev1 = spark.createDataFrame([(0, "alpha beta gamma")], "eid long, text string")
    ev2 = spark.createDataFrame([(0, "delta epsilon zeta")], "eid long, text string")
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 eval_df=ev1)
    m4 = os.path.getmtime(packed_dir)
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 eval_df=ev2)
    m5 = os.path.getmtime(packed_dir)
    assert m5 != m4  # swapped eval set cannot serve stale manifests
    # and an identical re-run still resumes
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 eval_df=ev2)
    assert os.path.getmtime(packed_dir) == m5


# ---------------------------------------------------------------------------
# continuous-ingest curation (streaming.start_curate_ingest)
# ---------------------------------------------------------------------------

def _write_batch(spark, path, rows, name):
    """Land one parquet FILE in the stream-source dir (the file source
    lists files, not arbitrary subdirectories): write to a staging dir,
    move the part file in."""
    import glob
    import os
    import shutil

    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    staging = f"{path}__staging_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    os.makedirs(path, exist_ok=True)
    part = glob.glob(f"{staging}/part-*.parquet")[0]
    shutil.move(part, os.path.join(path, f"{name}.parquet"))
    shutil.rmtree(staging)


def _accepted_ids(spark, acc):
    import glob

    if not glob.glob(f"{acc}/epoch=*"):
        return set()
    return {
        r["doc_id"] for r in spark.read.parquet(str(acc)).select("doc_id").collect()
    }


def test_curate_ingest_stream(spark, tmp_path):
    from slowspark.streaming import curate_ingest_batch, start_curate_ingest

    src, idx, acc, ckpt = (str(tmp_path / d) for d in ("src", "idx", "acc", "ck"))
    base = ("the quick brown fox jumps over a lazy dog and runs to the old "
            "mill with great speed every single morning before dawn " * 2)
    doc_a = base + "alpha ending here"
    doc_b = "completely different words that still keep the a to of and " \
            "in that with tokens repeated many times over and over again " \
            "for a long enough document to pass the word count threshold"
    # batch 1: two good docs, one exact dup of A, one low-quality doc
    _write_batch(spark, src, [
        (1, doc_a, "en"), (2, doc_b, "en"), (3, doc_a, "en"),
        (4, "too short", "en"),
    ], "b1")

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = start_curate_ingest(stream, idx, acc, ckpt, min_words=10)
        q.awaitTermination(120)

    run()
    assert _accepted_ids(spark, acc) == {1, 2}  # dup 3 + low-quality 4 dropped

    # batch 2: a near-dup of doc 1 (corpus priority -> dropped) + a new doc
    near_a = doc_a.replace("alpha", "omega", 1)
    doc_c = "fresh content the and a of with in that plus many new unique " \
            "tokens making this another valid long document for ingestion " \
            "well beyond the minimum word count threshold for this test"
    _write_batch(spark, src, [(10, near_a, "en"), (11, doc_c, "en")], "b2")
    run()
    assert _accepted_ids(spark, acc) == {1, 2, 11}  # 10 dropped vs corpus

    # index grew to exactly the accepted docs
    sig_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/sigs").select("doc_id").collect()
    }
    assert sig_ids == {1, 2, 11}

    # replay idempotency: re-running a COMPLETED epoch must not change the
    # sink (re-read from its _SUCCESS) nor re-append to the index (marker)
    n_sig_rows = spark.read.parquet(f"{idx}/sigs").count()
    batch2 = spark.createDataFrame(
        [(10, near_a, "en"), (11, doc_c, "en")],
        "doc_id long, text string, lang string",
    )
    curate_ingest_batch(batch2, 1, idx, acc, min_words=10)
    assert _accepted_ids(spark, acc) == {1, 2, 11}
    assert spark.read.parquet(f"{idx}/sigs").count() == n_sig_rows


def test_curate_ingest_stream_simhash_method(spark, tmp_path):
    """method='simhash' runs the SAME ingest lifecycle over the persisted
    SimHash index family: first epoch builds the index, later epochs probe
    it with corpus priority (an exact copy of an accepted doc is hamming 0
    — dropped), accepted docs grow the index, and a completed-epoch replay
    changes nothing (sink re-read, marker-gated append). A minhash probe
    of a simhash index path fails loudly (distinct key-table layouts), and
    an unknown method raises."""
    import pytest as _pytest

    from slowspark.streaming import curate_ingest_batch, start_curate_ingest

    src, idx, acc, ckpt = (str(tmp_path / d) for d in ("src", "idx", "acc", "ck"))
    doc_a = ("the quick brown fox jumps over a lazy dog and runs to the old "
             "mill with great speed every single morning before dawn " * 2
             + "alpha ending here")
    doc_b = ("completely different words that still keep the a to of and "
             "in that with tokens repeated many times over and over again "
             "for a long enough document to pass the word count threshold")
    _write_batch(spark, src, [
        (1, doc_a, "en"), (2, doc_b, "en"), (4, "too short", "en"),
    ], "b1")

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = start_curate_ingest(
            stream, idx, acc, ckpt, min_words=10, method="simhash"
        )
        q.awaitTermination(120)

    run()
    assert _accepted_ids(spark, acc) == {1, 2}
    # the simhash index layout (tables/, not bands/) exists and is marked
    import os

    assert os.path.exists(f"{idx}/tables/_SUCCESS")
    assert not os.path.exists(f"{idx}/bands")

    # batch 2: exact copy of accepted doc 1 (hamming 0 -> corpus priority
    # drops it) + a fresh doc
    doc_c = ("fresh content the and a of with in that plus many new unique "
             "tokens making this another valid long document for ingestion "
             "well beyond the minimum word count threshold for this test")
    _write_batch(spark, src, [(10, doc_a, "en"), (11, doc_c, "en")], "b2")
    run()
    assert _accepted_ids(spark, acc) == {1, 2, 11}
    sig_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/sigs").select("doc_id").collect()
    }
    assert sig_ids == {1, 2, 11}

    # completed-epoch replay: sink re-read, index unchanged
    n_sig_rows = spark.read.parquet(f"{idx}/sigs").count()
    batch2 = spark.createDataFrame(
        [(10, doc_a, "en"), (11, doc_c, "en")],
        "doc_id long, text string, lang string",
    )
    curate_ingest_batch(batch2, 1, idx, acc, min_words=10, method="simhash")
    assert _accepted_ids(spark, acc) == {1, 2, 11}
    assert spark.read.parquet(f"{idx}/sigs").count() == n_sig_rows

    # method mismatch fails loudly BEFORE touching the index (the _method
    # stamp; without it the minhash probe would silently rebuild over the
    # simhash index), unknown method raises
    batch3 = spark.createDataFrame(
        [(20, doc_b, "en")], "doc_id long, text string, lang string"
    )
    with _pytest.raises(ValueError, match="was built with"):
        curate_ingest_batch(batch3, 2, idx, acc, min_words=10)  # minhash probe
    with _pytest.raises(ValueError, match="method must be"):
        curate_ingest_batch(batch3, 2, idx, acc, min_words=10, method="nope")
    # the failed mismatch attempts changed nothing
    assert _accepted_ids(spark, acc) == {1, 2, 11}
    assert spark.read.parquet(f"{idx}/sigs").count() == n_sig_rows


def test_curation_substring_dedup_stage(spark, tmp_path):
    """--substring-dedup-n cuts a duplicated >= n-token run from every doc
    but the globally first, at exactly the substring_deduped stage — for
    doc pairs that share a long run yet are NOT near-dups overall (the
    case document-level dedup must not collapse and passage scrub only
    catches at passage alignment). The knob participates in the resume
    signature."""
    import hashlib
    import os

    letters = str.maketrans("0123456789", "ghijklmnop")

    def salad(tag, n):
        return " ".join(
            hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8].translate(letters)
            for j in range(n)
        )

    run = " ".join(f"shared{i} the a of" for i in range(8))  # 32-token run
    rows = [
        (1, f"{salad('a', 60)} {run} {salad('b', 60)} and in that with", "en"),
        (2, f"{salad('c', 60)} {run} {salad('d', 60)} and in that with", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        substring_dedup_n=20,
    )
    near = {r["doc_id"] for r in tables["deduped_near"].collect()}
    assert near == {1, 2}  # NOT near-dups: both survive document dedup
    sd = {r["doc_id"]: r["text"] for r in tables["substring_deduped"].collect()}
    assert "shared0" in sd[1]      # first occurrence kept
    assert "shared0" not in sd[2]  # duplicated run cut from the later doc
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == {1, 2}
    # the knob invalidates downstream manifests
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 substring_dedup_n=24)
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0


def test_curation_substring_dedup_chars_stage(spark, tmp_path):
    """--substring-dedup-chars cuts duplicated >= L-CHAR spans at the
    substring_char_deduped stage — catching a shared run too few WORDS
    for the token-window pass (the suffix-array-grade upgrade), while
    preserving original casing outside the cut. The knob participates
    in the resume signature."""
    import hashlib
    import os

    letters = str.maketrans("0123456789", "ghijklmnop")

    def salad(tag, n):
        return " ".join(
            hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8].translate(letters)
            for j in range(n)
        )

    # 8 words / ~70 chars: invisible to a 20-token window, caught at L=40
    run = " ".join(f"sharedrun{i}" for i in range(8))
    rows = [
        (1, f"{salad('a', 60)} Q {run} W {salad('b', 60)} and in that with", "en"),
        (2, f"{salad('c', 60)} R {run} T {salad('d', 60)} and in that with", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        substring_dedup_n=20, substring_dedup_chars=40,
    )
    # token-window pass sees nothing (run is 8 words < 20)
    sd = {r["doc_id"]: r["text"] for r in tables["substring_deduped"].collect()}
    assert "sharedrun0" in sd[1] and "sharedrun0" in sd[2]
    sc = {r["doc_id"]: r["text"]
          for r in tables["substring_char_deduped"].collect()}
    assert "sharedrun0" in sc[1]      # first occurrence kept
    assert "sharedrun0" not in sc[2]  # >= 40-char duplicated span cut
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == {1, 2}
    # the knob invalidates downstream manifests
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 substring_dedup_n=20, substring_dedup_chars=48)
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0


def _semantic_corpus(spark):
    """Four quality docs with MUTUALLY token-disjoint content words (plus
    shared stopwords, which 5-shingling never aligns): no token-level
    stage can relate any pair. Docs 1 and 2 are PARAPHRASE twins only in
    embedding space."""
    stop = "the a of and in that with for to is"
    rows = [
        (1, f"apples oranges pears grapes melons {stop} fruit basket market stand", "en"),
        (2, f"puppies kittens rabbits hamsters parrots {stop} animal shelter adoption center", "en"),
        (3, f"granite basalt marble quartzite slate {stop} geology museum rock exhibit", "en"),
        (4, f"violins cellos trumpets clarinets drums {stop} orchestra concert hall stage", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _semantic_embeddings(spark):
    # twins 1/2: cosine ~0.995; doc 3 orthogonal; doc 4 has NO embedding
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.995, 0.0999, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "doc_id long, embedding array<double>",
    )


def test_curation_semantic_dedup_stage(spark, tmp_path):
    """An embeddings sidecar enables the SemDeDup stage directly after
    MinHash near-dup: a paraphrase-shaped pair (token-disjoint texts,
    cosine ~0.995 embeddings) is collapsed to its min-id member at
    exactly the semantic_deduped stage — the case NO token-level stage
    (exact, minhash, substring, passage) can see. A doc with no
    embedding row survives. The pre-assigned cell-table variant skips
    training and drops the same doc."""
    docs, emb = _semantic_corpus(spark), _semantic_embeddings(spark)
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, seq_len=32,
        embeddings_df=emb, semantic_n_clusters=1, semantic_threshold=0.95,
    )
    near = {r["doc_id"] for r in tables["deduped_near"].collect()}
    assert near == {1, 2, 3, 4}  # token stages see nothing
    sem = {r["doc_id"] for r in tables["semantic_deduped"].collect()}
    assert sem == {1, 3, 4}  # twin 2 dropped (min-id keeper); no-vector 4 kept
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == {1, 3, 4}

    # pre-assigned cell table (IVF-index composition): no k-means, same drop
    cells = emb.withColumn(
        "ivf_cell", (F.col("doc_id") >= 3).cast("int")
    )
    t2 = run_curation(
        spark, docs, str(tmp_path / "wh2"), "test:v1",
        min_words=10, seq_len=32,
        semantic_cells_df=cells, semantic_threshold=0.95,
    )
    assert {r["doc_id"] for r in t2["semantic_deduped"].collect()} == {1, 3, 4}


def test_curation_semantic_knobs_invalidate_resume(spark, tmp_path):
    """The semantic-dedup knobs AND the embedding table's CONTENT
    participate in the resume signature: threshold change or swapped
    embeddings recompute downstream; an identical re-run still resumes."""
    wh = str(tmp_path / "wh")
    docs, emb = _semantic_corpus(spark), _semantic_embeddings(spark)
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 embeddings_df=emb, semantic_n_clusters=1)
    packed_dir = os.path.join(wh, "packed")
    m0 = os.path.getmtime(packed_dir)

    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 embeddings_df=emb, semantic_n_clusters=1,
                 semantic_threshold=0.9)
    m1 = os.path.getmtime(packed_dir)
    assert m1 != m0  # threshold knob invalidates

    emb2 = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x * 0.5)
    )
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 embeddings_df=emb2, semantic_n_clusters=1,
                 semantic_threshold=0.9)
    m2 = os.path.getmtime(packed_dir)
    assert m2 != m1  # swapped embedding CONTENT cannot serve stale manifests

    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 embeddings_df=emb2, semantic_n_clusters=1,
                 semantic_threshold=0.9)
    assert os.path.getmtime(packed_dir) == m2  # identical re-run resumes

    # a pre-assigned cell table's CELL ASSIGNMENTS are content too (r6
    # review: rebuilding the IVF index with a different seed keeps
    # doc_id+embedding identical but moves docs across cells, changing
    # the blocked pair set — the signature must hash ivf_cell)
    cells1 = emb2.withColumn("ivf_cell", F.lit(0))
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 semantic_cells_df=cells1)
    m3 = os.path.getmtime(packed_dir)
    cells2 = emb2.withColumn(
        "ivf_cell", (F.col("doc_id") % 2).cast("int")
    )
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 semantic_cells_df=cells2)
    m4 = os.path.getmtime(packed_dir)
    assert m4 != m3  # changed assignments cannot serve stale manifests
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 semantic_cells_df=cells2)
    assert os.path.getmtime(packed_dir) == m4  # identical cells resume


def test_curate_ingest_crash_between_index_write_and_marker(spark, tmp_path):
    """Crash window between the index build/append and the epoch marker:
    simulated by deleting the marker after a completed epoch. The replay
    re-enters the marker-absent branch with the index already containing
    the epoch's docs — the anti-join against the index's sig ids must keep
    the index free of duplicate (doc_id) sig rows, for BOTH the epoch-0
    build-then-crash case and a later append-then-crash case."""
    import os

    from slowspark.streaming import curate_ingest_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    doc_a = ("the quick brown fox jumps over a lazy dog and runs to the old "
             "mill with great speed every single morning before dawn " * 2
             + "alpha ending here")
    doc_c = ("fresh content the and a of with in that plus many new unique "
             "tokens making this another valid long document for ingestion "
             "well beyond the minimum word count threshold for this test")
    batch0 = spark.createDataFrame(
        [(1, doc_a, "en")], "doc_id long, text string, lang string"
    )
    curate_ingest_batch(batch0, 0, idx, acc, min_words=10)
    # epoch-0 crash: bands/_SUCCESS exists but the marker never landed
    os.remove(f"{idx}/_epochs/0")
    curate_ingest_batch(batch0, 0, idx, acc, min_words=10)
    sigs = spark.read.parquet(f"{idx}/sigs")
    assert sigs.count() == sigs.select("doc_id").distinct().count() == 1
    assert os.path.exists(f"{idx}/_epochs/0")

    batch1 = spark.createDataFrame(
        [(11, doc_c, "en")], "doc_id long, text string, lang string"
    )
    curate_ingest_batch(batch1, 1, idx, acc, min_words=10)
    # append-epoch crash: same window, append already completed
    os.remove(f"{idx}/_epochs/1")
    curate_ingest_batch(batch1, 1, idx, acc, min_words=10)
    sigs = spark.read.parquet(f"{idx}/sigs")
    assert sigs.count() == sigs.select("doc_id").distinct().count() == 2
    # accepted sink unchanged through both replays
    assert _accepted_ids(spark, acc) == {1, 11}


def test_curation_decontamination_stage(spark, tmp_path):
    """An eval_df enables the decontamination stage: a doc containing an
    eval 13-gram is dropped between scrub and sampling."""
    docs = _corpus(spark)
    # leak a 13-token window UNIQUE to doc 10 (spans its GOOD_TAIL tail
    # into the alpha-beta section; docs 0-5 follow GOOD_TAIL with
    # hash-derived words instead, so only doc 10 is contaminated)
    dup_text = (
        f"{GOOD_TAIL} alpha beta gamma delta epsilon zeta eta theta " * 3
    ).strip()
    leaked = " ".join(dup_text.split()[8:21])
    eval_df = spark.createDataFrame(
        [(0, leaked + " plus some extra eval words")], "eid long, text string"
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, seq_len=32, eval_df=eval_df,
    )
    decon = {r["doc_id"] for r in tables["decontaminated"].collect()}
    scrubbed = {r["doc_id"] for r in tables["scrubbed"].collect()}
    assert decon == scrubbed - {10}  # exactly the leaking doc dropped
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == decon


def test_curation_fuzzy_decontamination_stage(spark, tmp_path):
    """--fuzzy-decontaminate-threshold: a PARAPHRASED eval copy (one word
    swapped every 10 tokens — no shared 13-gram, but word-3-gram Jaccard
    0.45: the periodic 21-token body keeps the distinct-gram set small,
    so each swap injects proportionally many new grams) is dropped at
    exactly the fuzzy stage; the exact stage alone
    keeps it. Also pins the content-hash id synthesis for eval sets
    without a doc_id column and resume invalidation on the threshold."""
    docs = _corpus(spark)
    dup_text = (
        f"{GOOD_TAIL} alpha beta gamma delta epsilon zeta eta theta " * 3
    ).strip()
    words = dup_text.split()
    for i in range(0, len(words), 10):
        words[i] = f"swapped{i}word"
    # eval set WITHOUT a doc_id column: exercises the xxhash64(text) path
    eval_df = spark.createDataFrame(
        [(" ".join(words),)], "text string"
    )
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        eval_df=eval_df, fuzzy_decontaminate_threshold=0.4,
    )
    decon = {r["doc_id"] for r in tables["decontaminated"].collect()}
    fuzzy = {r["doc_id"] for r in tables["fuzzy_decontaminated"].collect()}
    assert 10 in decon            # exact 13-gram stage misses the paraphrase
    assert fuzzy == decon - {10}  # the fuzzy stage catches exactly it
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == fuzzy
    # identical re-run resumes; a different threshold invalidates
    packed_dir = os.path.join(wh, "packed")
    m1 = os.path.getmtime(packed_dir)
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 eval_df=eval_df, fuzzy_decontaminate_threshold=0.4)
    assert os.path.getmtime(packed_dir) == m1
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 eval_df=eval_df, fuzzy_decontaminate_threshold=0.9)
    assert os.path.getmtime(packed_dir) != m1
    # the knob without an eval set fails loudly
    with pytest.raises(ValueError, match="requires eval_df"):
        run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                     fuzzy_decontaminate_threshold=0.5)


def test_curation_mixture_sampling_stage(spark, tmp_path):
    """--mixture replaces flat sampling with token-budget domain mixing at
    exactly the sampled stage: rates derive from the SCRUBBED corpus's
    measured token counts, the binding stratum keeps everything, unlisted
    strata are dropped, and the knob participates in the resume
    signature. mixture + sample_rates together raise."""
    import os

    import hashlib

    letters = str.maketrans("0123456789", "ghijklmnop")

    def salad(tag, n):
        return " ".join(
            hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8].translate(letters)
            for j in range(n)
        )

    stop = "the a of and in that with for to is"
    rows = (
        [(i, f"{salad(f'en{i}', 30)} {stop}", "en") for i in range(40)]
        + [(100 + i, f"{salad(f'de{i}', 30)} {stop}", "de") for i in range(10)]
        + [(200, f"{salad('xx', 30)} {stop}", "xx")]  # unlisted -> dropped
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        mixture={"en": 0.5, "de": 0.5},
    )
    sampled = [(r["doc_id"], r["lang"]) for r in tables["sampled"].collect()]
    langs = {l for _, l in sampled}
    assert "xx" not in langs  # unlisted stratum dropped at the sampled stage
    n_de = sum(1 for _, l in sampled if l == "de")
    n_en = sum(1 for _, l in sampled if l == "en")
    assert n_de == 10  # binding stratum (fewest tokens / its share) all kept
    # en downsampled to ~the same token mass as de (docs are equal length,
    # so ~10 docs; md5-bucket granularity gives it slack)
    assert 4 <= n_en <= 18
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == {d for d, _ in sampled}

    # the mixture knob invalidates downstream manifests
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 mixture={"en": 0.6, "de": 0.4})
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0

    with pytest.raises(ValueError, match="mutually exclusive"):
        run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                     mixture={"en": 0.5, "de": 0.5},
                     sample_rates={"en": 1.0})


def test_curation_mixture_upsample_stage(spark, tmp_path):
    """--mixture --mixture-upsample runs the repetition regime: the
    scarce stratum's docs REPEAT (repeat_ix column), packing keys on
    (doc_id, repeat_ix) so copies pack as distinct documents, and the
    whole chain is deterministic across a resume."""
    import hashlib
    import os

    letters = str.maketrans("0123456789", "ghijklmnop")

    def salad(tag, n):
        return " ".join(
            hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8].translate(letters)
            for j in range(n)
        )

    stop = "the a of and in that with for to is"
    rows = (
        [(i, f"{salad(f'en{i}', 30)} {stop}", "en") for i in range(40)]
        + [(100 + i, f"{salad(f'de{i}', 30)} {stop}", "de") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        mixture={"en": 0.5, "de": 0.5}, mixture_upsample=True,
    )
    sampled = [(r["doc_id"], r["lang"], r["repeat_ix"])
               for r in tables["sampled"].collect()]
    # 50/50 remix of a 1600/400-token corpus at budget 2000: de rate 2.5
    # (each de doc 2-3 copies), en rate 0.625
    de_copies: dict = {}
    for d, l, ix in sampled:
        if l == "de":
            de_copies.setdefault(d, []).append(ix)
    assert set(de_copies) == {100 + i for i in range(10)}
    for d, ixs in de_copies.items():
        assert sorted(ixs) == list(range(len(ixs))) and len(ixs) in (2, 3)
    packed = tables["packed"].collect()
    assert {c.name for c in tables["packed"].schema} == {
        "doc_id", "repeat_ix", "n_tokens", "seq_id", "seq_offset"
    }
    # every sampled (doc, copy) packs exactly once
    assert sorted((r["doc_id"], r["repeat_ix"]) for r in packed) == sorted(
        (d, ix) for d, _, ix in sampled
    )
    # resume: identical output, no recompute
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    t2 = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        mixture={"en": 0.5, "de": 0.5}, mixture_upsample=True,
    )
    assert os.path.getmtime(os.path.join(wh, "packed")) == m0
    assert sorted(
        (r["doc_id"], r["repeat_ix"], r["seq_id"], r["seq_offset"])
        for r in t2["packed"].collect()
    ) == sorted(
        (r["doc_id"], r["repeat_ix"], r["seq_id"], r["seq_offset"])
        for r in packed
    )
    # the regime knob itself invalidates (upsample -> downsample)
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 mixture={"en": 0.5, "de": 0.5})
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0
    with pytest.raises(ValueError, match="requires a mixture"):
        run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                     mixture_upsample=True)


def test_curate_ingest_method_stamp_written_before_build(spark, tmp_path):
    """The _method stamp lands BEFORE the index build (r6 review: written
    after, a crash between build and stamp left a built index unstamped —
    a later wrong-method probe passed the check and silently rebuilt over
    it). Pinned two ways: (a) a build that CRASHES mid-way still leaves
    the stamp, so the wrong-method restart raises instead of rebuilding;
    (b) a stamp with no index behind it lets the correct method proceed
    normally."""
    import pytest as _pytest

    from slowspark import textops
    from slowspark.streaming import curate_ingest_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    doc_a = ("the quick brown fox jumps over a lazy dog and runs to the "
             "old mill with great speed every single morning before dawn "
             * 2)
    batch = spark.createDataFrame(
        [(1, doc_a, "en")], "doc_id long, text string, lang string"
    )

    # (a) crash INSIDE the first build, after the stamp
    real_build = textops.build_simhash_index

    def exploding_build(*a, **kw):
        raise RuntimeError("simulated build crash")

    textops.build_simhash_index = exploding_build
    try:
        with _pytest.raises(RuntimeError, match="simulated build crash"):
            curate_ingest_batch(batch, 0, idx, acc, min_words=10,
                                method="simhash")
    finally:
        textops.build_simhash_index = real_build
    import os

    assert os.path.exists(f"{idx}/_method")  # stamp landed pre-build
    # the wrong-method restart raises instead of silently rebuilding
    with _pytest.raises(ValueError, match="was built with"):
        curate_ingest_batch(batch, 0, idx, acc, min_words=10)
    # (b) the correct-method restart proceeds and completes the build
    curate_ingest_batch(batch, 0, idx, acc, min_words=10, method="simhash")
    assert os.path.exists(f"{idx}/tables/_SUCCESS")
    assert _accepted_ids(spark, acc) == {1}


def _salad_doc(tag, n=60, stop=True):
    import hashlib

    letters = str.maketrans("0123456789", "ghijklmnop")
    words = " ".join(
        hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8].translate(letters)
        for j in range(n)
    )
    return f"{words} and in that with the a of to is for" if stop else words


def test_curation_gopher_repetition_stage(spark, tmp_path):
    """--gopher-repetition drops a duplicate-line-heavy doc at exactly the
    gopher_filtered stage; clean word-salad docs pass every Table A1 rule.
    The knob participates in the resume signature."""
    import os

    rep_line = "the quick brown fox jumps over the lazy dog again today"
    spam = "\n".join([rep_line] * 6 + [_salad_doc(f"u{i}", 10) for i in range(4)])
    rows = [(1, _salad_doc("a"), "en"), (2, _salad_doc("b"), "en"),
            (9, spam, "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        gopher_repetition=True,
    )
    assert {r["doc_id"] for r in tables["filtered"].collect()} == {1, 2, 9}
    assert {r["doc_id"] for r in tables["gopher_filtered"].collect()} == {1, 2}
    assert {r["doc_id"] for r in tables["packed"].collect()} == {1, 2}
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32)
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0


def test_curation_line_dedup_stage(spark, tmp_path):
    """--line-dedup-min-df strips cross-document template lines before
    exact dedup — two docs identical except for chrome placement collapse
    at deduped_exact once the chrome is gone."""
    chrome = "subscribe to our newsletter for daily updates today"
    shared_tail = _salad_doc("shared")
    rows = [
        (1, f"{chrome}\n{shared_tail}", "en"),
        (2, f"{shared_tail}\n{chrome}", "en"),
        (3, f"{chrome}\n{_salad_doc('c')}", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=32, line_dedup_min_df=3,
    )
    ld = {r["doc_id"]: r["text"] for r in tables["line_deduped"].collect()}
    assert set(ld) == {1, 2, 3}
    assert all("subscribe" not in t for t in ld.values())
    assert ld[1] == ld[2] == shared_tail  # chrome gone, now byte-identical
    exact = {r["doc_id"] for r in tables["deduped_exact"].collect()}
    assert exact == {1, 3}  # 2 collapsed into 1 post-chrome-removal


def test_curation_ppl_bucket_stage(spark, tmp_path):
    """--ppl-keep-buckets keeps only the chosen CCNet perplexity buckets
    (equal-population rank cut) at exactly the ppl_filtered stage."""
    rows = [(i, _salad_doc(f"d{i}"), "en") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=32, ppl_keep_buckets=[0], ppl_n_buckets=3,
    )
    near = {r["doc_id"] for r in tables["deduped_near"].collect()}
    assert len(near) == 6
    kept = {r["doc_id"] for r in tables["ppl_filtered"].collect()}
    assert len(kept) == 2 and kept <= near  # 6 docs / 3 buckets -> 2 in head
    assert {r["doc_id"] for r in tables["packed"].collect()} == kept


def test_curation_quality_classifier_stage(spark, tmp_path):
    """--quality-classifier-coeffs scores docs with a pretrained linear
    model and drops below-threshold docs at exactly the quality_filtered
    stage; retrained coefficients (content hash) invalidate resume."""
    import os

    from pyspark.sql import functions as F

    rows = [
        (1, _salad_doc("good1"), "en"),
        (2, _salad_doc("good2"), "en"),
        (3, f"{_salad_doc('bad')} badword", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    bucket = (
        spark.createDataFrame([("badword",)], "g string")
        .select(F.pmod(F.xxhash64("g"), F.lit(1 << 15)).alias("b"))
        .collect()[0]["b"]
    )
    coeffs = spark.createDataFrame(
        [(int(bucket), -100.0), (-1, 2.0)], "bucket int, weight double"
    )
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        quality_coeffs_df=coeffs,
    )
    assert {r["doc_id"] for r in tables["deduped_near"].collect()} == {1, 2, 3}
    assert {r["doc_id"] for r in tables["quality_filtered"].collect()} == {1, 2}
    # retraining (different weights) misses every downstream manifest
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    coeffs2 = spark.createDataFrame(
        [(int(bucket), -90.0), (-1, 2.0)], "bucket int, weight double"
    )
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 quality_coeffs_df=coeffs2)
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0


def test_curation_bpe_packing_stage(spark, tmp_path):
    """--bpe-merges learns a vocab on the sampled corpus (bpe_vocab
    stage) and packs in SUBWORD counts: packed n_tokens must equal the
    BPE segmentation length, not the whitespace count."""
    from slowspark.bpe import bpe_segment

    rows = [(i, _salad_doc(f"d{i}", 30), "en") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=64, bpe_merges_n=6,
    )
    vocab = tables["bpe_vocab"].orderBy("merge_ix").collect()
    assert len(vocab) == 6 and [r["merge_ix"] for r in vocab] == list(range(6))
    merges = [
        {"left": r["lhs"], "right": r["rhs"], "merged": r["merged"]}
        for r in vocab
    ]
    seg = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_segment(docs, merges).collect()
    }
    packed = {r["doc_id"]: r for r in tables["packed"].collect()}
    ws_counts = {i: len(t.split()) for i, t, _ in rows}
    for i in packed:
        assert packed[i]["n_tokens"] == seg[i]
        assert packed[i]["n_tokens"] != ws_counts[i]  # subwords, not words
    # offsets are consistent prefix sums of the subword counts
    order = sorted(packed)
    run = 0
    for i in order:
        assert packed[i]["seq_id"] == run // 64
        assert packed[i]["seq_offset"] == run % 64
        run += packed[i]["n_tokens"]


def test_curation_bpe_vocab_above_256_merges(spark, tmp_path):
    """A vocab of more than 256 merges (3,200 distinct words learn 300)
    segments through the merge-rank path instead of failing the run
    after bpe_vocab is written: packed n_tokens equal bpe_segment_udf's
    counts."""
    from slowspark.bpe import bpe_segment_udf

    rows = [(i, _salad_doc(f"d{i}", 80), "en") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=64, bpe_merges_n=300,
    )
    vocab = tables["bpe_vocab"].orderBy("merge_ix").collect()
    assert len(vocab) == 300
    merges = [
        {"left": r["lhs"], "right": r["rhs"], "merged": r["merged"]}
        for r in vocab
    ]
    seg = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_segment_udf(
            tables["sampled"], merges, counts_only=True
        ).collect()
    }
    packed = {r["doc_id"]: r["n_tokens"] for r in tables["packed"].collect()}
    assert len(packed) == len(rows) and packed == seg


def test_curation_bpe_byte_level_stage(spark, tmp_path):
    """--bpe-byte-level: the vocab/counts stages run in GPT-2 byte mode —
    packed n_tokens equal the byte-level segmentation (leading-space
    'Ġ'-style symbols in the vocab prove the mode), the knob
    participates in the resume signature, and using it without
    --bpe-merges raises."""
    import os

    from slowspark.bpe import bpe_segment

    rows = [(i, _salad_doc(f"d{i}", 30), "en") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10,
        seq_len=64, bpe_merges_n=6, bpe_byte_level=True,
    )
    vocab = tables["bpe_vocab"].orderBy("merge_ix").collect()
    assert len(vocab) == 6
    # byte mode: some learned symbol carries the byte-mapped space Ġ
    assert any("Ġ" in r["lhs"] + r["rhs"] for r in vocab)
    merges = [
        {"left": r["lhs"], "right": r["rhs"], "merged": r["merged"]}
        for r in vocab
    ]
    seg = {r["doc_id"]: r["n_tokens"]
           for r in bpe_segment(docs, merges, byte_level=True).collect()}
    packed = {r["doc_id"]: r for r in tables["packed"].collect()}
    for i in packed:
        assert packed[i]["n_tokens"] == seg[i]
    # the knob invalidates downstream manifests
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", min_words=10,
                 seq_len=64, bpe_merges_n=6)
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires bpe_merges_n"):
        run_curation(spark, docs, str(tmp_path / "wh2"), "test:v1",
                     min_words=10, seq_len=64, bpe_byte_level=True)


def test_curation_bpe_packing_with_upsample(spark, tmp_path):
    """--bpe-merges composes with the repetition regime: repeated copies
    pack as distinct documents BY THEIR SUBWORD COUNTS."""
    from slowspark.bpe import bpe_segment

    rows = [
        (1, _salad_doc("en1", 40), "en"),
        (2, _salad_doc("en2", 40), "en"),
        (3, _salad_doc("de1", 10), "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=5,
        seq_len=64, bpe_merges_n=4,
        mixture={"en": 0.5, "de": 0.5}, mixture_upsample=True,
    )
    packed = [
        (r["doc_id"], r["repeat_ix"], r["n_tokens"])
        for r in tables["packed"].orderBy("doc_id", "repeat_ix").collect()
    ]
    assert any(rix > 0 for _, rix, _ in packed)  # de stratum upsampled
    vocab = tables["bpe_vocab"].orderBy("merge_ix").collect()
    merges = [
        {"left": r["lhs"], "right": r["rhs"], "merged": r["merged"]}
        for r in vocab
    ]
    seg = {
        r["doc_id"]: r["n_tokens"] for r in bpe_segment(docs, merges).collect()
    }
    for doc_id, _rix, n in packed:
        assert n == seg[doc_id]  # every copy carries the subword count


def test_curate_ingest_extra_filter_gopher(spark, tmp_path):
    """The streaming ingest's extra_filter hook drops a repetition-heavy
    doc in the same epoch that accepts a clean one."""
    from pyspark.sql import functions as F

    from slowspark.gopherrep import gopher_repetition_flags
    from slowspark.streaming import curate_ingest_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    rep_line = "the quick brown fox jumps over the lazy dog again today"
    spam = "\n".join([rep_line] * 6 + [_salad_doc(f"s{i}", 10) for i in range(4)])
    batch = spark.createDataFrame(
        [(1, _salad_doc("clean"), "en"), (2, spam, "en")],
        "doc_id long, text string, lang string",
    )

    def gopher_gate(df):
        keep = (
            gopher_repetition_flags(df)
            .filter(F.col("keep"))
            .select("doc_id")
        )
        return df.join(keep, "doc_id", "left_semi")

    curate_ingest_batch(batch, 0, idx, acc, min_words=10,
                        extra_filter=gopher_gate)
    assert _accepted_ids(spark, acc) == {1}


def test_curation_ppl_bigram_scorer_with_model(spark, tmp_path):
    """--ppl-scorer bigram with a reference model corpus: the filter
    ranks by Stupid Backoff score against the MODEL — a doc fluent in
    the model's phrasing lands in the head bucket while a
    scrambled-order doc of the same vocabulary lands in the tail; the
    model content participates in the resume signature."""
    import os

    fluent = "the cat sat on the mat and the dog ran to the old mill"
    model = spark.createDataFrame(
        [(100 + i, fluent, "en") for i in range(5)],
        "doc_id long, text string, lang string",
    )
    scrambled = "mill old the to ran dog the and mat the on sat cat the"
    rows = [
        (1, fluent, "en"),
        (2, scrambled, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=5, seq_len=32,
        ppl_keep_buckets=[0], ppl_n_buckets=2,
        ppl_scorer="bigram", ppl_model_df=model,
    )
    kept = {r["doc_id"] for r in tables["ppl_filtered"].collect()}
    assert kept == {1}  # fluent head bucket; scrambled tail dropped
    # swapping the model invalidates downstream manifests
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    model2 = spark.createDataFrame(
        [(100, "completely different reference text here", "en")],
        "doc_id long, text string, lang string",
    )
    run_curation(
        spark, docs, wh, "test:v1", min_words=5, seq_len=32,
        ppl_keep_buckets=[0], ppl_n_buckets=2,
        ppl_scorer="bigram", ppl_model_df=model2,
    )
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0


def test_curation_ppl_kneser_ney_scorer(spark, tmp_path):
    """--ppl-scorer kneser_ney: the interpolated-KN bigram LM drives
    the same bucket filter — fluent-in-model phrasing lands in the
    head bucket, scrambled same-bag text in the tail; the scorer name
    participates in the resume signature (bigram vs kneser_ney rebuild
    downstream manifests)."""
    import os

    fluent = "the cat sat on the mat and the dog ran to the old mill"
    model = spark.createDataFrame(
        [(100 + i, fluent, "en") for i in range(5)],
        "doc_id long, text string, lang string",
    )
    scrambled = "mill old the to ran dog the and mat the on sat cat the"
    docs = spark.createDataFrame(
        [(1, fluent, "en"), (2, scrambled, "en")],
        "doc_id long, text string, lang string",
    )
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=5, seq_len=32,
        ppl_keep_buckets=[0], ppl_n_buckets=2,
        ppl_scorer="kneser_ney", ppl_model_df=model,
    )
    kept = {r["doc_id"] for r in tables["ppl_filtered"].collect()}
    assert kept == {1}
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(
        spark, docs, wh, "test:v1", min_words=5, seq_len=32,
        ppl_keep_buckets=[0], ppl_n_buckets=2,
        ppl_scorer="bigram", ppl_model_df=model,
    )
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ppl_scorer must be"):
        run_curation(
            spark, docs, str(tmp_path / "wh2"), "test:v1", min_words=5,
            seq_len=32, ppl_keep_buckets=[0], ppl_scorer="trigram",
        )


def test_curation_url_dedup_stage(spark, tmp_path):
    """--url-dedup runs FIRST: two fetches of the same canonical URL
    (tracking params, host case, fragment) collapse before the text
    stages even see them; a url-less input raises."""
    rows = [
        (1, _salad_doc("a"), "en", "https://Example.com/page?utm_source=x"),
        (2, _salad_doc("b"), "en", "https://example.com:443/page#frag"),
        (3, _salad_doc("c"), "en", "https://example.com/other"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=32, url_dedup=True,
    )
    assert {r["doc_id"] for r in tables["url_deduped"].collect()} == {1, 3}
    assert {r["doc_id"] for r in tables["packed"].collect()} == {1, 3}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires a 'url' column"):
        run_curation(
            spark, docs.drop("url"), str(tmp_path / "wh2"), "test:v1",
            min_words=10, seq_len=32, url_dedup=True,
        )


def test_curation_badword_stage(spark, tmp_path):
    """--badwords drops any doc containing a blocklisted whole token at
    exactly the badword_filtered stage; substrings never match."""
    rows = [
        (1, _salad_doc("clean"), "en"),
        (2, f"{_salad_doc('dirty')} spamword", "en"),
        (3, f"{_salad_doc('sub')} spamwordy", "en"),  # substring: survives
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=32, badwords=["spamword"],
    )
    assert {r["doc_id"] for r in tables["filtered"].collect()} == {1, 2, 3}
    assert {r["doc_id"] for r in tables["badword_filtered"].collect()} == {1, 3}
    assert {r["doc_id"] for r in tables["packed"].collect()} == {1, 3}


def test_curation_kitchen_sink_stage_graph(spark, tmp_path):
    """Every optional stage enabled at once: the full stage graph runs
    in the documented order, each stage's table is present, attrition
    is monotone, and the run resumes cleanly."""
    import os

    from pyspark.sql import functions as F

    rep_line = "the quick brown fox jumps over the lazy dog again today"
    spam = "\n".join([rep_line] * 6 + [_salad_doc(f"g{i}", 10) for i in range(4)])
    chrome = "subscribe to our newsletter for daily updates today"
    rows = [
        (1, f"{chrome}\n{_salad_doc('a')}", "en",
         "https://example.com/a?utm_source=x"),
        (2, f"{chrome}\n{_salad_doc('b')}", "en", "https://example.com/b"),
        (3, f"{chrome}\n{_salad_doc('c')}", "en", "https://example.com/c"),
        # url-dup of 1 (tracking param only)
        (4, f"{chrome}\n{_salad_doc('d')}", "en", "https://Example.com/a"),
        # badword doc
        (5, f"{_salad_doc('e')} spamword", "en", "https://example.com/e"),
        # gopher repetition doc
        (9, spam, "en", "https://example.com/i"),
        # wrong language
        (6, _salad_doc("f"), "de", "https://example.com/f"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )
    wh = str(tmp_path / "wh")
    kwargs = dict(
        min_words=10, seq_len=32,
        url_dedup=True, langs=["en"], badwords=["spamword"],
        gopher_repetition=True, line_dedup_min_df=3,
        ppl_keep_buckets=[0, 1], ppl_n_buckets=2, ppl_scorer="bigram",
        bpe_merges_n=4,
    )
    tables = run_curation(spark, docs, wh, "test:v1", **kwargs)
    expect_order = [
        "url_deduped", "lang_filtered", "filtered", "badword_filtered",
        "gopher_filtered", "line_deduped", "deduped_exact", "deduped_near",
        "ppl_filtered", "scrubbed", "sampled", "packed",
    ]
    for name in expect_order:
        assert name in tables, name
    assert "bpe_vocab" in tables
    # attrition: url dedup drops 4; lang drops 6; badwords drops 5;
    # gopher drops 9; everything monotone from there
    assert {r["doc_id"] for r in tables["url_deduped"].collect()} == {1, 2, 3, 5, 6, 9}
    assert {r["doc_id"] for r in tables["lang_filtered"].collect()} == {1, 2, 3, 5, 9}
    assert {r["doc_id"] for r in tables["badword_filtered"].collect()} == {1, 2, 3, 9}
    assert {r["doc_id"] for r in tables["gopher_filtered"].collect()} == {1, 2, 3}
    ld = {r["doc_id"]: r["text"] for r in tables["line_deduped"].collect()}
    assert all("subscribe" not in t for t in ld.values())
    counts = [
        tables[n].count()
        for n in ("deduped_exact", "deduped_near", "ppl_filtered",
                  "scrubbed", "sampled", "packed")
    ]
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    assert counts[0] == 3
    # resume: identical rerun reuses every manifest (packed mtime stable)
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", **kwargs)
    assert os.path.getmtime(os.path.join(wh, "packed")) == m0


def _dsir_corpora(spark):
    """10 filter-surviving docs in two domain vocabularies + a
    cooking-domain target corpus: DSIR must prefer the cooking docs.
    Each doc draws a mostly-DISTINCT 12-word subset of its 40-word
    domain vocabulary (so in-domain docs are not near-dups of each
    other), and the model is run well-conditioned (alpha*buckets far
    under the target gram mass) so the domain log-ratio dominates the
    Gumbel noise."""
    cook = [
        "simmer", "butter", "garlic", "onion", "roast", "flour",
        "saucepan", "season", "tender", "golden", "basil", "thyme",
        "oven", "whisk", "dough", "yeast", "glaze", "braise", "stock",
        "fillet", "sear", "marinade", "zest", "crumb", "batter",
        "skillet", "parsley", "nutmeg", "vinegar", "honey", "caramel",
        "roux", "poach", "truffle", "saffron", "fennel", "leek",
        "shallot", "paprika", "cumin",
    ]
    legal = [
        "plaintiff", "statute", "verdict", "appeal", "tort", "counsel",
        "damages", "clause", "hearing", "motion", "affidavit", "brief",
        "docket", "estoppel", "felony", "grievance", "indemnity",
        "jurisdiction", "lien", "mandamus", "negligence", "oath",
        "parole", "quorum", "remand", "subpoena", "testimony",
        "usury", "venue", "waiver", "injunction", "covenant",
        "easement", "fiduciary", "garnish", "habeas", "larceny",
        "malfeasance", "novation", "probate",
    ]

    def doc(words, i):
        # 12 domain words per doc, stride-rotated so consecutive docs
        # share few words; stopword scaffold keeps the quality rules
        # happy without creating cross-doc shingle mass
        w = [words[(i * 12 + j) % len(words)] for j in range(12)]
        return (
            f"the {w[0]} and the {w[1]} with a {w[2]} in the {w[3]} "
            f"of a {w[4]} and some {w[5]} for the {w[6]} near a {w[7]} "
            f"over the {w[8]} by the {w[9]} into a {w[10]} at the {w[11]}"
        )

    rows = [(i, doc(cook, i), "en") for i in range(5)]
    rows += [(100 + i, doc(legal, i), "en") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = spark.createDataFrame(
        [(200 + i, doc(cook, i + 5)) for i in range(5)],
        "doc_id long, text string",
    )
    return docs, target


def test_curation_dsir_sampling_stage(spark, tmp_path):
    """DSIR as the sampling stage: target-like (cooking) docs are
    preferentially selected, attrition shows at the sampled stage, and
    the output schema matches the other samplers' (packing runs)."""
    docs, target = _dsir_corpora(spark)
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, seq_len=32,
        dsir_target_df=target, dsir_k=4, dsir_buckets=256,
        dsir_alpha=0.05,
    )
    scrubbed = {r["doc_id"] for r in tables["scrubbed"].collect()}
    assert len(scrubbed) == 10  # all survive the upstream stages
    sampled = {r["doc_id"] for r in tables["sampled"].collect()}
    assert len(sampled) == 4  # exact-k attrition at the sampled stage
    assert sampled <= {0, 1, 2, 3, 4}, sampled  # all picks are cooking docs
    assert set(tables["sampled"].columns) == set(docs.columns)
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == sampled

    # one sampling policy per run
    with pytest.raises(ValueError, match="mutually exclusive"):
        run_curation(
            spark, docs, str(tmp_path / "wh2"), "test:v1",
            dsir_target_df=target, dsir_k=4, mixture={"en": 1.0},
        )
    with pytest.raises(ValueError, match="go together"):
        run_curation(
            spark, docs, str(tmp_path / "wh3"), "test:v1",
            dsir_target_df=target,
        )


def test_curation_dsir_target_swap_invalidates_resume(spark, tmp_path):
    """Same knobs + same target content -> resume (manifest mtime
    unchanged); swapping the TARGET corpus -> recompute with a different
    selection (the content hash, not the path, drives the signature)."""
    docs, target = _dsir_corpora(spark)
    wh = str(tmp_path / "wh")
    kw = dict(min_words=10, seq_len=32, dsir_k=4, dsir_buckets=256,
              dsir_alpha=0.05)
    t1 = run_curation(spark, docs, wh, "test:v1",
                      dsir_target_df=target, **kw)
    first = {r["doc_id"] for r in t1["sampled"].collect()}
    sampled_dir = os.path.join(wh, "sampled")
    mtime = os.path.getmtime(sampled_dir)
    t2 = run_curation(spark, docs, wh, "test:v1",
                      dsir_target_df=target, **kw)
    assert {r["doc_id"] for r in t2["sampled"].collect()} == first
    assert os.path.getmtime(sampled_dir) == mtime  # resumed
    # swap the target to the LEGAL domain: invalidates + reselects
    legal_target = docs.filter("doc_id >= 100").select("doc_id", "text")
    t3 = run_curation(spark, docs, wh, "test:v1",
                      dsir_target_df=legal_target, **kw)
    assert os.path.getmtime(sampled_dir) != mtime
    third = {r["doc_id"] for r in t3["sampled"].collect()}
    assert third <= {100, 101, 102, 103, 104}, third


def _strata_corpus(spark):
    import hashlib

    letters = str.maketrans("0123456789", "ghijklmnop")

    def salad(tag, n):
        return " ".join(
            hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8].translate(letters)
            for j in range(n)
        )

    stop = "the a of and in that with for to is"
    rows = (
        [(i, f"{salad(f'en{i}', 30)} {stop}", "en") for i in range(40)]
        + [(100 + i, f"{salad(f'de{i}', 30)} {stop}", "de") for i in range(10)]
        + [(200 + i, f"{salad(f'fr{i}', 30)} {stop}", "fr") for i in range(2)]
    )
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_curation_temperature_mixture_stage(spark, tmp_path):
    """--mixture-temperature derives the mixture from token shares: at a
    high temperature the scarce stratum's share rises toward uniform, so
    it binds (all kept) while the abundant one downsamples hard; the
    knob participates in the resume signature and is mutually exclusive
    with the other policies."""
    import os

    docs = _strata_corpus(spark)
    wh = str(tmp_path / "wh")
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        mixture_temperature=8.0,
    )
    sampled = [(r["doc_id"], r["lang"]) for r in tables["sampled"].collect()]
    by = {}
    for d, l in sampled:
        by.setdefault(l, set()).add(d)
    # near-uniform target on 40/10/2-doc strata: fr binds (all 2 kept),
    # en cut to roughly fr's token mass
    assert by["fr"] == {200, 201}
    assert len(by["en"]) <= 10
    packed = {r["doc_id"] for r in tables["packed"].collect()}
    assert packed == {d for d, _ in sampled}
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 mixture_temperature=1.0)
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0  # knob invalidates
    with pytest.raises(ValueError, match="mutually exclusive"):
        run_curation(spark, docs, wh, "test:v1",
                     mixture_temperature=2.0, mixture={"en": 1.0})


def test_curation_unimax_stage(spark, tmp_path):
    """--unimax-budget water-fills the token budget: scarce strata land
    at their epoch cap (repeating when epochs > 1, with repeat_ix
    carried through packing), abundant strata absorb the rest; epoch
    knob changes invalidate."""
    import os

    docs = _strata_corpus(spark)
    wh = str(tmp_path / "wh")
    # budget 1000 over en/de/fr token masses 1600/400/80 at 2 epochs:
    # fr caps at 160 (every fr doc twice), de/en split 840 -> 420 each
    tables = run_curation(
        spark, docs, wh, "test:v1", min_words=10, seq_len=32,
        unimax_budget=1000, unimax_epochs=2.0,
    )
    sampled = [
        (r["doc_id"], r["lang"], r["repeat_ix"])
        for r in tables["sampled"].collect()
    ]
    fr = sorted((d, ix) for d, l, ix in sampled if l == "fr")
    assert fr == [(200, 0), (200, 1), (201, 0), (201, 1)]  # rate exactly 2
    n_de = len({d for d, l, _ in sampled if l == "de"})
    assert 6 <= n_de <= 10  # ~420/400 tokens -> rate ~1.05 -> most/all kept
    packed = tables["packed"].collect()
    assert {"doc_id", "repeat_ix", "seq_id"} <= set(packed[0].asDict())
    # repeated fr copies pack as distinct documents
    fr_packed = {(r["doc_id"], r["repeat_ix"]) for r in packed
                 if r["doc_id"] in (200, 201)}
    assert fr_packed == set(fr)
    m0 = os.path.getmtime(os.path.join(wh, "packed"))
    run_curation(spark, docs, wh, "test:v1", min_words=10, seq_len=32,
                 unimax_budget=1000, unimax_epochs=1.0)
    assert os.path.getmtime(os.path.join(wh, "packed")) != m0
    with pytest.raises(ValueError, match="unimax_epochs"):
        run_curation(spark, docs, wh, "test:v1", unimax_epochs=2.0)


def test_curation_holdout_stage(spark, tmp_path):
    # 8 sources x 3 docs each, all passing the quality rules; holdout on
    # source must keep every source's docs on ONE side, exclude the val
    # docs from sampled/packed, and stay frozen across sample-knob runs
    import hashlib

    letters = str.maketrans("0123456789", "ghijklmnop")
    rows = [
        (s * 10 + i,
         f"{GOOD_TAIL} " + " ".join(
             hashlib.md5(f"{s}:{i}:{j}".encode()).hexdigest()[:8]
             .translate(letters)
             for j in range(40)),
         "en", f"site{s}")
        for s in range(8) for i in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, passage_words=200, seq_len=32,
        holdout_frac=0.3, holdout_group="source",
    )
    val_sources = {r["source"] for r in tables["holdout_val"].collect()}
    train_sources = {r["source"] for r in tables["holdout_train"].collect()}
    assert val_sources and train_sources
    assert val_sources.isdisjoint(train_sources)  # group-atomic
    # every val source contributes ALL of its docs to val
    val_ids = {r["doc_id"] for r in tables["holdout_val"].collect()}
    for s in val_sources:
        sn = int(s[4:])
        assert {sn * 10, sn * 10 + 1, sn * 10 + 2} <= val_ids
    # sampled/packed see only the train side
    assert {r["doc_id"] for r in tables["sampled"].collect()}.isdisjoint(val_ids)
    assert {r["doc_id"] for r in tables["packed"].collect()}.isdisjoint(val_ids)
    # holdout is frozen under a sampling-knob change... but a frac change
    # re-carves: the signature must invalidate the holdout manifests
    t2 = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, passage_words=200, seq_len=32,
        holdout_frac=0.3, holdout_group="source", sample_rate=0.9,
    )
    assert {r["source"] for r in t2["holdout_val"].collect()} == val_sources
    # missing group column raises
    with pytest.raises(ValueError, match="holdout_group"):
        run_curation(
            spark, docs.drop("source"), str(tmp_path / "wh2"), "test:v1",
            min_words=10, passage_words=200, seq_len=32,
            holdout_frac=0.3, holdout_group="source",
        )


def test_curation_latest_capture_and_delta_stages(spark, tmp_path):
    import hashlib

    letters = str.maketrans("0123456789", "ghijklmnop")

    def _text(seed):
        return f"{GOOD_TAIL} " + " ".join(
            hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:8]
            .translate(letters)
            for j in range(40)
        )

    # current crawl: u0 captured TWICE (newest capture has edited text),
    # u1 unchanged vs the old snapshot, u2 changed, u3 brand new
    rows = [
        (10, "https://a.example/u0", 1, _text("u0v1"), "en"),
        (11, "https://a.example/u0", 2, _text("u0v2"), "en"),
        (12, "https://a.example/u1", 1, _text("u1"), "en"),
        (13, "https://a.example/u2", 1, _text("u2v2"), "en"),
        (14, "https://a.example/u3", 1, _text("u3"), "en"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts long, text string, lang string"
    )
    old = spark.createDataFrame(
        [
            ("https://a.example/u0", _text("u0v1")),  # old content = capture 1
            ("https://a.example/u1", _text("u1")),    # unchanged
            ("https://a.example/u2", _text("u2v1")),  # changed since
            ("https://a.example/gone", _text("gone")),
        ],
        "url string, text string",
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, passage_words=200, seq_len=32,
        latest_capture=True, delta_old_df=old,
    )
    # consolidation: u0 keeps only capture 2 (doc 11)
    lc = {r["doc_id"] for r in tables["latest_captured"].collect()}
    assert lc == {11, 12, 13, 14}
    # delta: u1 unchanged -> dropped; u0 (newest capture differs from old),
    # u2 (changed), u3 (new) flow on; 'gone' never had a current row
    di = {r["doc_id"] for r in tables["delta_ingested"].collect()}
    assert di == {11, 13, 14}
    assert {r["doc_id"] for r in tables["filtered"].collect()} == {11, 13, 14}
    # swapping the old snapshot invalidates the manifests (content hash)
    old2 = old.filter(F.col("url") != "https://a.example/u1")
    t2 = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, passage_words=200, seq_len=32,
        latest_capture=True, delta_old_df=old2,
    )
    assert {r["doc_id"] for r in t2["delta_ingested"].collect()} == {11, 12, 13, 14}
    # missing columns raise
    with pytest.raises(ValueError, match="latest_capture"):
        run_curation(
            spark, docs.drop("warc_ts"), str(tmp_path / "wh2"), "test:v1",
            min_words=10, passage_words=200, seq_len=32, latest_capture=True,
        )
    with pytest.raises(ValueError, match="delta_old_df"):
        run_curation(
            spark, docs.drop("url"), str(tmp_path / "wh3"), "test:v1",
            min_words=10, passage_words=200, seq_len=32, delta_old_df=old,
        )


def test_curation_pack_whole_docs(spark, tmp_path):
    import hashlib

    letters = str.maketrans("0123456789", "ghijklmnop")
    rows = [
        (i,
         f"{GOOD_TAIL} " + " ".join(
             hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8]
             .translate(letters)
             for j in range((i * 7) % 30 + 10)),
         "en")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=5, passage_words=200, seq_len=48, pack_whole_docs=True,
    )
    packed = tables["packed"].collect()
    assert packed and {"bin_ix", "bin_offset", "truncated"} <= set(
        packed[0].asDict()
    )
    assert len(packed) == tables["sampled"].count()  # every doc packed
    # docs never split: each row is a single assignment, offsets within
    # a non-truncated bin never exceed seq_len
    for r in packed:
        if not r["truncated"]:
            assert r["bin_offset"] + r["n_tokens"] <= 48
    with pytest.raises(ValueError, match="pack_whole_docs"):
        run_curation(
            spark, docs, str(tmp_path / "wh2"), "test:v1",
            min_words=5, passage_words=200, seq_len=48,
            pack_whole_docs=True,
            mixture={"en": 1.0}, mixture_upsample=True,
        )


def test_curation_quality_weighted_sampling(spark, tmp_path):
    """--quality-sample-k: classifier sigmoid scores become sampling
    weights; high-scoring docs dominate the k-sample and the hard
    quality_filtered stage is skipped (one model, one use)."""
    rows = (
        [(i, _salad_doc(f"good{i}") + " greatword", "en")
         for i in range(10)]
        + [(100 + i, _salad_doc(f"bad{i}") + " awfulword", "en")
           for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    b_good, b_bad = [
        spark.createDataFrame([(w,)], "g string")
        .select(F.pmod(F.xxhash64("g"), F.lit(1 << 15)).alias("b"))
        .collect()[0]["b"]
        for w in ("greatword", "awfulword")
    ]
    coeffs = spark.createDataFrame(
        [(int(b_good), 200.0), (int(b_bad), -200.0), (-1, 0.0)],
        "bucket int, weight double",
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1",
        min_words=10, passage_words=200, seq_len=32,
        quality_coeffs_df=coeffs, quality_sample_k=8,
    )
    assert "quality_filtered" not in tables  # soft policy replaces hard cut
    picked = {r["doc_id"] for r in tables["sampled"].collect()}
    assert len(picked) == 8
    # sigmoid(+200) vs sigmoid(-200): good docs win every slot
    assert picked <= set(range(10))
    with pytest.raises(ValueError, match="quality_sample_k"):
        run_curation(
            spark, docs, str(tmp_path / "wh2"), "test:v1",
            min_words=10, seq_len=32, quality_sample_k=8,
        )


def test_curation_domain_quality_stage(spark, tmp_path):
    good = (
        "the quick brown fox jumps over the lazy dog and it was a fine day "
        "for that kind of thing in the old town square " * 5
    ).strip()
    # bad docs PASS every per-doc rule (enough words, sane word lengths,
    # no symbols/digits, one stopword) but score low on the composite
    # quality (few tokens, one stopword) — only the DOMAIN stage drops
    # them, which is what this test pins
    bad = (
        "the wobble crate plinth mantle gusset raster bobbin trellis "
        "plumage socket garnet velvet marble pebble ribbon tassel walnut "
        "ferret gable hamlet jigsaw"
    )
    rows = (
        [(i, good + f" extra{i}", "en", "gooddom") for i in range(3)]
        + [(10 + i, bad + f" xx{i}", "en", "baddom") for i in range(3)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:domq",
        min_words=5, seq_len=32, domain_quality_threshold=0.5,
    )
    # per-doc rules keep all six (pin it so the domain stage is the
    # discriminating one), domain gate drops the baddom trio
    assert tables["filtered"].count() == 6
    dom = {r["source"] for r in tables["domain_filtered"].collect()}
    assert dom == {"gooddom"}
    # missing domain column raises with guidance
    nodom = docs.drop("source")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="--domain-col"):
        run_curation(
            spark, nodom, str(tmp_path / "wh2"), "test:domq2",
            min_words=5, seq_len=32, domain_quality_threshold=0.5,
        )


def test_curation_unigram_packing_stage(spark, tmp_path):
    """--unigram-vocab trains a Unigram-LM tokenizer on the sampled
    corpus (unigram_vocab stage) and packs in its subword counts."""
    from slowspark.unigramlm import unigram_segment

    rows = [(i, _salad_doc(f"d{i}", 30), "en") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=64, unigram_vocab=16,
    )
    model = tables["unigram_vocab"]
    pieces = {r["piece"] for r in model.collect()}
    assert len(pieces) >= 16  # vocab + single-char coverage floor
    seg = {
        r["doc_id"]: r["n_tokens"]
        for r in unigram_segment(docs, model).collect()
    }
    packed = {r["doc_id"]: r for r in tables["packed"].collect()}
    ws_counts = {i: len(t.split()) for i, t, _ in rows}
    for i in packed:
        assert packed[i]["n_tokens"] == seg[i]
        assert packed[i]["n_tokens"] != ws_counts[i]  # subwords, not words
    # resume: identical stage tables come back from the manifests
    tables2 = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:v1", min_words=10,
        seq_len=64, unigram_vocab=16,
    )
    assert sorted(map(tuple, tables2["unigram_vocab"].collect())) == \
        sorted(map(tuple, model.collect()))
    # both tokenizers at once is a config error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        run_curation(
            spark, docs, str(tmp_path / "wh2"), "test:v2", min_words=10,
            seq_len=64, unigram_vocab=16, bpe_merges_n=4,
        )


def test_curation_domain_cap_stage(spark, tmp_path):
    """--max-docs-per-domain: C4-style per-host volume cap — the spam
    domain shrinks to exactly N (deterministic md5-rank keeper), small
    domains are untouched, and reruns keep the SAME rows."""
    good = (
        "the quick brown fox jumps over the lazy dog and it was a fine "
        "day for that kind of thing in the old town square " * 3
    ).strip()
    rows = (
        [(i, good + f" uniq{chr(97 + i % 26)}{chr(97 + i // 26)}", "en",
          "spamfarm") for i in range(12)]
        + [(100 + i, good + f" other{chr(97 + i)}", "en", "smallsite")
           for i in range(3)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    tables = run_curation(
        spark, docs, str(tmp_path / "wh"), "test:domcap",
        min_words=5, seq_len=32, max_docs_per_domain=4,
    )
    capped = tables["domain_capped"]
    by_dom = {r["source"]: r["count"]
              for r in capped.groupBy("source").count().collect()}
    assert by_dom == {"spamfarm": 4, "smallsite": 3}
    kept_ids = sorted(r["doc_id"] for r in capped.collect())
    # deterministic: a rerun (fresh warehouse) keeps the same rows
    tables2 = run_curation(
        spark, docs, str(tmp_path / "wh2"), "test:domcap2",
        min_words=5, seq_len=32, max_docs_per_domain=4,
    )
    assert sorted(r["doc_id"] for r in tables2["domain_capped"].collect()) \
        == kept_ids
    import pytest as _pytest

    with _pytest.raises(ValueError, match="--domain-col"):
        run_curation(
            spark, docs.drop("source"), str(tmp_path / "wh3"),
            "test:domcap3", min_words=5, seq_len=32, max_docs_per_domain=4,
        )


def _eval_trigram(docs):
    return {"eval_df": docs.select("text"), "ppl_scorer": "trigram"}


def _embeddings_and_cells(docs):
    emb = docs.select("doc_id", F.array(F.lit(1.0)).alias("embedding"))
    return {
        "embeddings_df": emb,
        "semantic_cells_df": emb.withColumn("ivf_cell", F.lit(0)),
    }


@pytest.mark.parametrize("opts, match", [
    ({"bpe_byte_level": True}, "requires bpe_merges_n"),
    ({"unigram_vocab": 24, "bpe_merges_n": 8}, "mutually exclusive"),
    ({"holdout_frac": 0.3}, "holdout_group"),
    ({"domain_quality_threshold": 0.5}, "--domain-col"),
    ({"max_docs_per_domain": 2}, "--domain-col"),
    (_eval_trigram, "ppl_scorer must be"),
    (_embeddings_and_cells, "mutually exclusive"),
], ids=[
    "byte_level_without_merges", "unigram_with_bpe", "holdout_no_source",
    "domain_quality_no_source", "domain_cap_no_source", "eval_bad_scorer",
    "embeddings_with_cells",
])
def test_misconfigured_run_starts_no_job(spark, tmp_path, opts, match):
    """Every option is checked before the first Spark job: a misconfigured
    run raises its ValueError without hashing a side input or writing a
    stage (the corpus has no `source` column)."""
    docs = _corpus(spark)
    kwargs = opts(docs) if callable(opts) else opts
    wh = tmp_path / "wh"
    sc = spark.sparkContext
    group = f"misconfigured:{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=match):
            run_curation(
                spark, docs, str(wh), "test:misconfigured",
                min_words=10, seq_len=32, **kwargs,
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not (wh / "_manifests").exists()
