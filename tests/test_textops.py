"""Training-data operator tests over the driver-generated documents table
(sf0.001) plus synthetic edge cases."""

import os

import pytest
from pyspark.sql import functions as F

from slowspark import textops

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return df.cache()


@pytest.fixture(scope="module")
def docs_with_dupes(spark, docs):
    """documents + exact copies + near copies (one word appended)."""
    base = docs.limit(20)
    exact = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    near = base.withColumn("doc_id", F.col("doc_id") + 2_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzz"))
    )
    return docs.unionByName(exact).unionByName(near).cache()


def test_exact_dedup(docs, docs_with_dupes):
    n_docs = docs.count()
    deduped = textops.exact_dedup(docs_with_dupes)
    # exact copies removed; near copies (different bytes) survive
    assert deduped.count() == n_docs + 20
    # keeper is the lowest id
    assert deduped.filter(F.col("doc_id") >= 1_000_000).filter(
        F.col("doc_id") < 2_000_000
    ).count() == 0


def test_minhash_dedup_removes_near_dupes(docs, docs_with_dupes):
    deduped = textops.minhash_dedup(
        docs_with_dupes, jaccard_threshold=0.6, n_perm=64, bands=16
    )
    n = deduped.count()
    # baseline: the raw documents table has intrinsic near-dups of its own;
    # after injecting 20 exact + 20 near copies the result must collapse to
    # the same survivor set as self-deduping the raw table
    n_self = textops.minhash_dedup(
        docs, jaccard_threshold=0.6, n_perm=64, bands=16
    ).count()
    assert n == n_self
    # and all injected copies lose to their lower-id originals
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_signature_deterministic(spark, docs):
    s1 = textops.minhash_signatures(docs.limit(10)).collect()
    s2 = textops.minhash_signatures(docs.limit(10)).collect()
    assert {r["doc_id"]: r["signature"] for r in s1} == {
        r["doc_id"]: r["signature"] for r in s2
    }


def test_simhash_near_dupes_have_small_hamming(spark, docs_with_dupes):
    sigs = textops.simhash_signatures(docs_with_dupes)
    cands = textops.simhash_candidates(sigs, max_hamming=3)
    rows = cands.collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    hamming = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    # exact copies -> identical simhash -> hamming 0, must all be found
    exact_pairs = {p for p in pairs if p[0] < 1_000_000 and p[1] == p[0] + 1_000_000}
    assert len(exact_pairs) == 20
    assert all(hamming[p] == 0 for p in exact_pairs)


def test_ngram_jaccard_pairs(spark, docs_with_dupes):
    pairs = spark.createDataFrame(
        [(i, i + 2_000_000) for r in docs_with_dupes.filter(
            F.col("doc_id") < 20_000
        ).limit(0).collect() for i in [r["doc_id"]]] or
        [(r["doc_id"], r["doc_id"] + 2_000_000) for r in
         docs_with_dupes.filter(F.col("doc_id") < 1_000_000).limit(5).collect()],
        "id_a long, id_b long",
    )
    jac = textops.ngram_jaccard_pairs(pairs, docs_with_dupes)
    rows = jac.collect()
    assert len(rows) == 5
    assert all(r["jaccard"] > 0.5 for r in rows)


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in that house for it was warm"),
            (2, "der Hund und die Katze sind nicht mit den anderen ein Haus"),
            (3, "le chat et le chien sont dans les maisons de la ville"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in textops.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr"}


def test_quality_score_ranges(docs):
    q = textops.quality_score(docs)
    rows = q.select("quality", "punct_ratio", "upper_ratio").collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
    assert all(0.0 <= r["punct_ratio"] <= 1.0 for r in rows)


def test_token_count(spark):
    df = spark.createDataFrame([(1, "hello world foo")], "doc_id long, text string")
    r = textops.token_count(df).first()
    assert r["ws_tokens"] == 3
    assert r["est_bpe_tokens"] >= 3


def test_term_stats(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c!"), (3, "")], "doc_id long, text string"
    )
    got = {r["term"]: (r["term_freq"], r["doc_freq"])
           for r in textops.term_stats(df).collect()}
    assert got == {"a": (2, 1), "b": (2, 2), "c": (1, 1)}
    # two-level aggregation: repeats collapse map-side before the shuffle
    plan = textops.term_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels


def test_simhash_candidates_match_bruteforce_oracle(spark, docs_with_dupes):
    """Manku multi-table construction is recall-EXACT for hamming <= 3:
    the candidate set must equal the all-pairs hamming oracle."""
    sigs = textops.simhash_signatures(docs_with_dupes.limit(0).unionByName(
        docs_with_dupes
    ).filter(F.col("doc_id") % 7 == 0)).cache()
    rows = sigs.collect()
    want = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1:]:
            lo, hi = sorted((a["doc_id"], b["doc_id"]))
            if bin((a["simhash"] ^ b["simhash"]) & ((1 << 64) - 1)).count("1") <= 3:
                want.add((lo, hi))
    got = {(r["id_a"], r["id_b"]) for r in textops.simhash_candidates(sigs).collect()}
    assert got == want
    sigs.unpersist()


def test_simhash_bucket_cap_drops_hot_bucket(spark):
    """A synthetic hot bucket (identical simhashes) must be droppable with
    max_bucket_size, and the histogram must make the hot bucket visible."""
    hot = [(i, 12345) for i in range(50)]          # one 50-doc bucket
    cold = [(100 + i, 1 << (i + 10)) for i in range(5)]
    sigs = spark.createDataFrame(hot + cold, "doc_id long, simhash long")
    uncapped = textops.simhash_candidates(sigs)
    assert uncapped.filter("hamming = 0").count() == 50 * 49 // 2
    capped = textops.simhash_candidates(sigs, max_bucket_size=10)
    assert capped.filter("hamming = 0").count() == 0
    hist = textops.simhash_bucket_histogram(sigs).filter("bucket_size >= 50")
    # the hot bucket shows up in every one of the C(6,3)=20 tables (in a few
    # tables cold docs share the all-zero high blocks, growing it past 50)
    assert hist.count() == 20


def test_connected_min_labels_chain_topology(spark):
    """Chain a~c, b~c (a,b never paired directly): fixpoint must keep ONE
    min label per component — a single-pass min-propagation would leave
    both 1 and 2 as survivors."""
    pairs = spark.createDataFrame([(2, 3), (1, 3)], "id_a long, id_b long")
    labels = {r["id"]: r["label"] for r in textops.connected_min_labels(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1}
    # longer chain, adversarial id order: 5~4, 4~3, 3~2, 2~1
    chain = spark.createDataFrame(
        [(4, 5), (3, 4), (2, 3), (1, 2)], "id_a long, id_b long"
    )
    labels = {r["id"]: r["label"] for r in textops.connected_min_labels(chain).collect()}
    assert set(labels.values()) == {1}
    # two components stay separate
    two = spark.createDataFrame([(1, 2), (10, 11)], "id_a long, id_b long")
    labels = {r["id"]: r["label"] for r in textops.connected_min_labels(two).collect()}
    assert labels == {1: 1, 2: 1, 10: 10, 11: 10}


def test_minhash_dedup_chain_single_survivor(spark):
    """3-doc duplicate chain built by successive appends: exactly the
    min-id doc survives, regardless of which pairs LSH surfaces."""
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 8
    b = base + "extra tail words here " * 3
    c = b + "another distinct suffix block " * 3
    docs = spark.createDataFrame(
        [(7, base), (3, b), (12, c), (100, "completely unrelated text about spark jobs " * 10)],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in textops.minhash_dedup(docs, jaccard_threshold=0.55).select("doc_id").collect()
    }
    assert kept == {3, 100}


def test_language_id_scripts(spark):
    df = spark.createDataFrame(
        [
            (1, "これは日本語のテキストです。漢字も含まれています。"),
            (2, "这是一段中文文本，包含很多汉字内容，用于测试。"),
            (3, "Это русский текст для проверки определения языка."),
            (4, "هذا نص عربي لاختبار تحديد اللغة في النظام."),
            (5, "한국어 텍스트 입니다 언어 감지 테스트"),
            (6, "the cat and the dog sat in that house for it was warm"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in textops.language_id(df).collect()}
    assert got == {1: "ja", 2: "zh", 3: "ru", 4: "ar", 5: "ko", 6: "en"}


def test_simhash_sf001_regression_golden(spark):
    """Round-1 pair count on the fixed sf0.01 documents table, pinned so the
    Manku rewrite (and any future bucketing change) provably preserves the
    candidate output."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n = textops.simhash_candidates(textops.simhash_signatures(d)).count()
    assert n == 2507


def _lambda_bodies(plan: str) -> list[str]:
    """Every lambdafunction(...) of a plan string, parentheses balanced."""
    bodies, i = [], plan.find("lambdafunction(")
    while i >= 0:
        depth = 0
        for j in range(i + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        bodies.append(plan[i:j + 1])
        i = plan.find("lambdafunction(", i + 1)
    return bodies


def test_exploded_ngrams_plan_has_no_lambda(spark, docs):
    """Plan-shape pin for the O(len^2) Catalyst trap: exploded_ngrams must
    contain NO lambda function anywhere in its optimized plan (a transform-
    built gram array would reappear as an inlined per-element lambda in the
    Generate's inferred Filter), and no other consumer of the gram stream
    may carry a lambda that re-splits the text per element."""
    from slowspark import corpus, dsir
    from slowspark.qualityclf import hashed_text_features

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "lambdafunction" not in plan(
        textops.exploded_ngrams(docs, "text", "doc_id", 5)
    )
    consumers = {
        "hashed_text_features": hashed_text_features(docs),
        "hashed_ngram_rows": dsir.hashed_ngram_rows(docs),
        "pmi_pairs": textops.pmi_pairs(docs, min_count=1),
        "stupid_backoff_logprob": corpus.stupid_backoff_logprob(docs),
        "kneser_ney_logprob": corpus.kneser_ney_logprob(docs),
        "exact_substring_dedup": textops.exact_substring_dedup(docs, n=5),
        "with_ngram_set": textops.with_ngram_set(docs, n=5),
    }
    for name, df in consumers.items():
        resplit = [b for b in _lambda_bodies(plan(df)) if "split(" in b]
        assert not resplit, (name, resplit[0][:200])


def test_exploded_ngrams_differential_random(spark):
    """Seeded-random differential vs a pure-Python reference that mimics
    Spark's tokenization (split('\\s+') on trimmed lowercase — note an
    empty string tokenizes to [''], not []): gram MULTISETS must match for
    every doc, including whitespace runs and sub-n docs. One Spark job for
    all examples (a job per hypothesis case would be pathological)."""
    import random
    import re
    from collections import Counter

    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "x", "yy", "Zq"]
    docs = []
    for i in range(100):
        k = rng.randint(0, 12)
        sep = lambda: " " * rng.randint(1, 3)
        docs.append((i, sep().join(rng.choice(words) for _ in range(k))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for n in (2, 4):
        got: dict[int, Counter] = {i: Counter() for i, _ in docs}
        for r in textops.exploded_ngrams(df, "text", "doc_id", n).collect():
            got[r["doc_id"]][r["gram"]] += 1
        for i, text in docs:
            toks = re.split(r"\s+", text.strip().lower())
            if len(toks) >= n:
                want = Counter(
                    " ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)
                )
            else:
                want = Counter([" ".join(toks)])
            assert got[i] == want, (i, n, text)


def test_normalize_text_differential_random(spark):
    """Seeded-random differential vs Python unicodedata directly, plus
    idempotence (NFC(NFC(x)) = NFC(x)) — over strings mixing ASCII,
    precomposed accents, combining marks, and CJK."""
    import random
    import unicodedata

    rng = random.Random(7)
    pool = list("abc 123") + ["\u00e9", "e\u0301", "\u00f1", "n\u0303",
                              "\u3042", "\u4e2d", "\u0301", "A\u030a"]
    docs = [(i, "".join(rng.choice(pool) for _ in range(rng.randint(0, 30))))
            for i in range(100)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["text_nfc"] for r in textops.normalize_text(df).collect()}
    for i, text in docs:
        want = unicodedata.normalize("NFC", text)
        assert got[i] == want, i
        assert unicodedata.normalize("NFC", got[i]) == got[i]


def test_normalize_text_nfc(spark):
    """NFC: combining-mark sequences collapse to precomposed forms; ASCII
    and precomposed text pass through unchanged; dedup becomes possible
    across encodings of the same glyphs."""
    decomposed = "re\u0301sume\u0301"   # e + COMBINING ACUTE ACCENT
    composed = "r\u00e9sum\u00e9"       # precomposed
    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, "plain ascii"), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_nfc"]
           for r in textops.normalize_text(df).collect()}
    assert got[1] == composed == got[2]
    assert got[3] == "plain ascii"
    assert got[4] is None


def test_html_to_text_extraction(spark):
    """Tag/script/style stripping, entity decoding, whitespace collapse —
    and the round-trip invariant on the generated pages table: extracting
    the html column reproduces the text column (modulo the extraction's
    whitespace collapse)."""
    from slowspark.gen import gen_pages

    df = spark.createDataFrame(
        [(1, ("<html><head><script>if (a < b) { x(); }</script>"
              "<style>p{}</style></head>"
              "<body><h1>Hi &amp; bye</h1>\n<p>two  words</p></body></html>"
              ).encode())],
        "doc_id long, html binary",
    )
    got = textops.html_to_text(df).first()["extracted_text"]
    assert got == "Hi & bye two words"

    pages = gen_pages(spark, 30)
    rt = textops.html_to_text(pages).select("url", "text", "extracted_text").collect()
    for r in rt:
        collapsed = " ".join(r["text"].split())
        assert r["extracted_text"] == collapsed, r["url"]


def test_incremental_dedup_against_persisted_index(spark, tmp_path):
    """Continuous-ingest pattern: build a MinHash index over the corpus,
    then dedup an incoming batch against it. Corpus priority: a new doc
    near-dupping an indexed doc is dropped even though its id is LOWER;
    clean new docs survive; in-batch dupes collapse to the batch min."""
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog every day " * 6),
            (101, "completely different corpus text about database tables " * 6),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mh_index")
    textops.build_minhash_index(corpus, idx)

    new = spark.createDataFrame(
        [
            # near-dup of corpus 100 with LOWER id -> dropped (corpus wins)
            (5, "the quick brown fox jumps over the lazy dog every day " * 6 + "tail"),
            # clean
            (6, "a brand new unique document about streaming watermarks " * 6),
            # in-batch dupes -> min id 7 survives
            (7, "batch internal duplicate text about shuffle partitions " * 6),
            (8, "batch internal duplicate text about shuffle partitions " * 6 + "x"),
        ],
        "doc_id long, text string",
    )
    pairs = textops.incremental_near_dup_pairs(new, idx, jaccard_threshold=0.5)
    got = {(r["new_id"], r["corpus_id"]) for r in pairs.collect()}
    assert got == {(5, 100)}
    accepted_df = textops.incremental_dedup(new, idx, jaccard_threshold=0.5)
    accepted = {r["doc_id"] for r in accepted_df.select("doc_id").collect()}
    assert accepted == {6, 7}

    # grow the index with the accepted batch; the NEXT batch must now be
    # deduped against the grown corpus (near-dup of batch-1 doc 6 loses)
    textops.append_to_minhash_index(accepted_df, idx)
    batch2 = spark.createDataFrame(
        [
            (20, "a brand new unique document about streaming watermarks " * 6 + "y"),
            (21, "totally fresh subject matter never indexed before today " * 6),
        ],
        "doc_id long, text string",
    )
    accepted2 = {
        r["doc_id"]
        for r in textops.incremental_dedup(batch2, idx, jaccard_threshold=0.5)
        .select("doc_id").collect()
    }
    assert accepted2 == {21}


def test_incremental_simhash_index_two_batches_and_replay(spark, tmp_path):
    """The minhash incremental-index pattern transplanted to simhash:
    build over a corpus, probe a batch O(batch)-style, corpus priority,
    append accepted rows, probe the grown index — with the index CONTENTS
    pinned after every step, a brute-force differential for the probe
    (Manku recall-exactness spans the batch-vs-corpus join), and the
    crash-window replay contract (table keys land before sigs; stranded
    sig-less key rows produce no pairs and duplicated key rows are
    neutralized by the candidate DISTINCT)."""
    idx = str(tmp_path / "sh_index")
    t100 = "the quick brown fox jumps over the lazy dog every day " * 6
    t101 = "completely different corpus text about database tables " * 6
    corpus = spark.createDataFrame(
        [(100, t100), (101, t101)], "doc_id long, text string"
    )
    textops.build_simhash_index(corpus, idx)
    idx_sigs = {
        r["doc_id"]: r["simhash"]
        for r in spark.read.parquet(f"{idx}/sigs").collect()
    }
    expect_sigs = {
        r["doc_id"]: r["simhash"]
        for r in textops.simhash_signatures(corpus).collect()
    }
    assert idx_sigs == expect_sigs  # index content == signature table
    tables = spark.read.parquet(f"{idx}/tables")
    assert tables.count() == 2 * 20  # C(6,3) Manku tables per doc
    assert tables.select("tbl").distinct().count() == 20  # partition dirs

    t6 = "a brand new unique document about streaming watermarks " * 6
    t7 = "batch internal duplicate text about shuffle partitions " * 6
    new = spark.createDataFrame(
        [(5, t100), (6, t6), (7, t7), (8, t7)],  # 5 = exact copy of 100
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in textops.incremental_simhash_near_dups(new, idx).collect()
    }
    # brute-force differential from the two signature tables
    new_sigs = {
        r["doc_id"]: r["simhash"]
        for r in textops.simhash_signatures(new).collect()
    }
    mask = (1 << 64) - 1
    brute = {
        (n, c, bin((ns ^ cs) & mask).count("1"))
        for n, ns in new_sigs.items() for c, cs in idx_sigs.items()
        if bin((ns ^ cs) & mask).count("1") <= 3
    }
    assert got == brute and (5, 100, 0) in got

    accepted_df = textops.incremental_simhash_dedup(new, idx)
    accepted = {r["doc_id"] for r in accepted_df.select("doc_id").collect()}
    assert accepted == {6, 7}  # corpus priority drops 5; in-batch min keeps 7
    textops.append_to_simhash_index(accepted_df, idx)
    assert {
        r["doc_id"] for r in spark.read.parquet(f"{idx}/sigs").collect()
    } == {100, 101, 6, 7}
    assert spark.read.parquet(f"{idx}/tables").count() == 4 * 20

    # batch 2 against the GROWN index: near-dup of batch-1 doc 6 loses
    t21 = "totally fresh subject matter never indexed before today " * 6
    batch2 = spark.createDataFrame(
        [(20, t6), (21, t21)], "doc_id long, text string"
    )
    acc2_df = textops.incremental_simhash_dedup(batch2, idx)
    assert {r["doc_id"] for r in acc2_df.select("doc_id").collect()} == {21}

    # crash window: 21's table keys land, sigs do not (the append order) —
    # the replayed probe must still accept 21 (its stranded key rows are
    # sig-less, so the inner verify join yields no self-pair)
    only21 = batch2.filter("doc_id = 21")
    from slowspark.textops import _manku_keyed, simhash_signatures

    (
        _manku_keyed(simhash_signatures(only21), "doc_id", 3, None)
        .select("doc_id", "tbl", "tkey")
        .write.mode("append").partitionBy("tbl").parquet(f"{idx}/tables")
    )
    replay_df = textops.incremental_simhash_dedup(batch2, idx)
    assert {r["doc_id"] for r in replay_df.select("doc_id").collect()} == {21}
    textops.append_to_simhash_index(replay_df, idx)
    sig_rows = spark.read.parquet(f"{idx}/sigs").filter("doc_id = 21")
    assert sig_rows.count() == 1  # exactly one sig row despite the replay
    # duplicated key rows for 21 are neutralized: a probe near 21 emits
    # exactly ONE pair row
    batch3 = spark.createDataFrame([(30, t21)], "doc_id long, text string")
    pairs3 = textops.incremental_simhash_near_dups(batch3, idx).collect()
    assert [(r["new_id"], r["corpus_id"], r["hamming"]) for r in pairs3] == [
        (30, 21, 0)
    ]


@pytest.mark.parametrize("method", ["minhash", "simhash"])
def test_index_write_order(spark, tmp_path, monkeypatch, method):
    """Both index methods write their two tables in the crash-safe
    orders: a build writes sigs before the key table (the key table's
    _SUCCESS is what curate_ingest_batch reads as "the index exists"),
    and an append writes the key table before sigs (a crash between the
    two leaves key rows without a signature, which produce no pair)."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    real_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *a, **kw):
        written.append(os.path.basename(path.rstrip("/")))
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    key_table, build, append = {
        "minhash": ("bands", textops.build_minhash_index,
                    textops.append_to_minhash_index),
        "simhash": ("tables", textops.build_simhash_index,
                    textops.append_to_simhash_index),
    }[method]
    idx = str(tmp_path / "idx")
    build(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 3)],
        "doc_id long, text string",
    ), idx)
    assert written == ["sigs", key_table]
    written.clear()
    append(spark.createDataFrame(
        [(2, "completely different corpus text about tables " * 3)],
        "doc_id long, text string",
    ), idx)
    assert written == [key_table, "sigs"]
    assert {
        r["doc_id"] for r in spark.read.parquet(f"{idx}/{key_table}").collect()
    } == {1, 2}



@pytest.mark.parametrize("method", ["minhash", "simhash"])
def test_capped_probe_caps_only_the_batch_buckets(
    spark, tmp_path, monkeypatch, caplog, method
):
    """A capped incremental probe caps the index buckets the batch
    touches, not the whole key table: the viral copy's pairs are still
    dropped and the drop logged, and capped_by_bucket receives exactly the
    index key rows that share a (part, key) with the batch — an index
    that grows no longer grows the cost of probing one small batch."""
    import logging

    key_table, part, key, build, probe = {
        "minhash": ("bands", "band_id", "band_hash",
                    textops.build_minhash_index,
                    textops.incremental_near_dup_pairs),
        "simhash": ("tables", "tbl", "tkey", textops.build_simhash_index,
                    textops.incremental_simhash_near_dups),
    }[method]
    viral = "the quick brown fox jumps over the lazy dog every day " * 6
    rows = [(i, viral) for i in range(30)] + [
        (100 + i, f"distinct page {i} on topic t{i * 7} with words "
                  f"a{i} b{i} c{i} d{i} e{i} " * 4)
        for i in range(20)
    ]
    idx = str(tmp_path / "idx")
    build(spark.createDataFrame(rows, "doc_id long, text string"), idx)
    batch = spark.createDataFrame(
        [(500, viral),
         (501, "a fresh document about streaming watermarks and joins " * 6)],
        "doc_id long, text string",
    )
    # the batch's own keys, through the same key builder as the index
    batch_idx = str(tmp_path / "batch_idx")
    build(batch, batch_idx)
    batch_keys = spark.read.parquet(f"{batch_idx}/{key_table}").select(part, key)
    idx_keys = spark.read.parquet(f"{idx}/{key_table}")
    want_rows = idx_keys.join(batch_keys.distinct(), [part, key]).count()
    assert 0 < want_rows < idx_keys.count()

    seen = []
    real_cap = textops.capped_by_bucket

    def counting_cap(df, *a, **kw):
        seen.append(df.count())
        return real_cap(df, *a, **kw)

    monkeypatch.setattr(textops, "capped_by_bucket", counting_cap)
    with caplog.at_level(logging.WARNING, logger="slowspark"):
        pairs = probe(batch, idx, max_bucket_size=10).collect()
    assert not [r for r in pairs if r["new_id"] == 500]
    assert any("max_bucket_size=10 dropped" in r.message for r in caplog.records)
    assert seen == [want_rows]


def test_simhash_dedup_end_to_end(spark, docs_with_dupes):
    """simhash_dedup composes signatures -> Manku candidates -> component-
    min survivors: byte-identical copies (hamming 0) must always lose to
    their lower-id originals, and no original may lose to an injected
    higher-id copy."""
    deduped = textops.simhash_dedup(docs_with_dupes)
    exact_copy_survivors = deduped.filter(
        (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)
    ).count()
    assert exact_copy_survivors == 0
    # every dropped doc has a surviving lower-id near-dup (min-id policy):
    # the base table's first 20 ids were all copied, so they must survive
    # unless an even lower intrinsic near-dup exists — at minimum doc 0's
    # component keeps exactly its min
    kept = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    assert min(kept) == 0


def test_jaccard_dedup_exact_verify(docs, docs_with_dupes):
    """Exact-verified dedup: injected exact + near copies must lose to their
    lower-id originals; result equals self-deduping the raw table plus the
    chain rule (component-min survivors)."""
    deduped = textops.jaccard_dedup(docs_with_dupes, jaccard_threshold=0.5)
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0
    n_self = textops.jaccard_dedup(docs, jaccard_threshold=0.5).count()
    assert deduped.count() == n_self


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),            # 1 dup line of 3; bigrams: 'a b' x2 of 4
            (2, "unique line one\nunique line two"),
            (3, "solo"),                     # < 2 tokens -> 0.0 / 0.0
            (4, "x x x x x x"),              # one bigram repeated
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (round(r["dup_line_ratio"], 4), round(r["top_bigram_frac"], 4))
        for r in textops.repetition_stats(df).collect()
    }
    # lines: 'a b' x2 of 3 -> dup ratio 1/3. Tokens [a,b,a,b,c,d] -> bigrams
    # 'a b','b a','a b','b c','c d' (they CROSS lines: \s+ eats newlines),
    # top 'a b' x2 of 5 -> 0.4
    assert got[1] == (round(1 - 2 / 3, 4), 0.4)
    assert got[2][0] == 0.0
    assert got[3] == (0.0, 0.0)
    assert got[4] == (0.0, 1.0)  # 'x x' is every bigram


def test_minhash_bucket_cap_drops_viral_blob(spark):
    """50 byte-identical docs share every band bucket (k^2/2 pairs);
    max_bucket_size drops them while distinct docs still pair normally."""
    viral = [(i, "the same viral page content repeated verbatim " * 20) for i in range(50)]
    normal = [(100, "some unique text about apples and oranges " * 10),
              (101, "some unique text about apples and oranges " * 10)]
    df = spark.createDataFrame(viral + normal, "doc_id long, text string")
    sigs = textops.minhash_signatures(df).localCheckpoint()
    uncapped = textops.minhash_lsh_candidates(sigs)
    assert uncapped.count() >= 50 * 49 // 2
    capped = textops.minhash_lsh_candidates(sigs, max_bucket_size=10)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs)


def test_minhash_dedup_with_reliable_checkpoint_dir(spark, docs):
    """With a checkpoint dir configured, _materialize takes the reliable
    .checkpoint() path; the survivor set must be identical. The dir cannot
    be unset on a live context, so use a session-stable /tmp location (NOT
    a pytest tmp_path, which gets reaped while the session may still
    checkpoint into it from later tests)."""
    before = {r["doc_id"] for r in textops.minhash_dedup(docs).select("doc_id").collect()}
    spark.sparkContext.setCheckpointDir("/tmp/slowspark_test_ckpt")
    after = {r["doc_id"] for r in textops.minhash_dedup(docs).select("doc_id").collect()}
    assert after == before


def test_connected_min_labels_raises_on_nonconvergence(spark):
    """The iterative path (forced by driver_finish_max_edges=0) must fail
    loudly when max_iters is too small for the diameter."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(Exception, match="no fixpoint"):
        textops.connected_min_labels(
            chain, max_iters=2, driver_finish_max_edges=0
        ).collect()


def test_exact_substring_dedup_semantics(spark):
    """Lee et al. 2022 fixed-window semantics: of all occurrences of a
    duplicated >= n-token run across the corpus, exactly the
    lexicographically-first (doc_id, pos) occurrence survives; internal
    repeats of a globally-duplicated run are removed too; docs shorter
    than n are untouched; an empty doc yields md5('')."""
    import hashlib

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, f"unique one {run} tail tokens here now", "en"),
        (2, f"other words {run} different ending words go", "en"),
        (3, f"self {run} middle filler {run} closing", "en"),
        (4, "too short", "en"),
        (5, "", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    res = {r["doc_id"]: r.asDict() for r in
           textops.exact_substring_dedup(df, n=10, with_text=True).collect()}
    assert res[1]["n_spans"] == 0 and run in res[1]["kept_text"]  # keeper
    assert res[2]["n_spans"] == 1 and res[2]["n_tokens_removed"] == 10
    assert res[2]["kept_text"] == "other words different ending words go"
    # both of doc 3's occurrences are non-first globally -> both removed
    assert res[3]["n_spans"] == 2 and res[3]["n_tokens_removed"] == 20
    assert res[3]["kept_text"] == "self middle filler closing"
    assert res[4]["n_tokens_removed"] == 0
    assert res[5]["kept_md5"] == hashlib.md5(b"").hexdigest()
    with pytest.raises(ValueError, match="n must be"):
        textops.exact_substring_dedup(df, n=1)


def test_exact_substring_dedup_overlapping_runs_merge(spark):
    """Two overlapping duplicated windows in one doc merge into ONE
    maximal span (gaps-and-islands), and a run of length n+k is removed
    in full, not window-by-window."""
    long_run = " ".join(f"w{i}" for i in range(15))  # 15-token run, n=10
    docs = [
        (1, f"keeper text {long_run} ending", "en"),
        (2, f"copycat {long_run} trailer words", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    res = {r["doc_id"]: r.asDict() for r in
           textops.exact_substring_dedup(df, n=10, with_text=True).collect()}
    assert res[1]["n_spans"] == 0
    # 6 flagged windows (pos 1..6) merge to one span covering all 15 tokens
    assert res[2]["n_spans"] == 1 and res[2]["n_tokens_removed"] == 15
    assert res[2]["kept_text"] == "copycat trailer words"


def test_exact_substring_dedup_hashed_and_string_ids(spark):
    """The first-occurrence keeper is a lexicographic min over
    struct(doc_id, pos) — no arithmetic composite key — so the repo's own
    id discipline (xxhash64 longs, full 64-bit range, often negative)
    and string doc ids both elect a correct keeper. Regression for the
    r5 silent-overflow hazard (doc_id * 2^20 + pos wrapped for
    |doc_id| >= 2^43)."""
    run = " ".join(f"t{i}" for i in range(10))
    # ids far beyond 2^43, one negative: old arithmetic key wrapped here
    neg, pos_id = -(2**62) - 12345, 2**62 + 777
    df = spark.createDataFrame(
        [(neg, f"first copy {run} end"), (pos_id, f"second copy {run} end")],
        "doc_id long, text string",
    )
    res = {r["doc_id"]: r.asDict() for r in
           textops.exact_substring_dedup(df, n=10).collect()}
    # lexicographic min(doc_id, pos): the negative id is globally first
    assert res[neg]["n_tokens_removed"] == 0
    # shared "copy ... end" context merges into one 12-token maximal span
    assert res[pos_id]["n_tokens_removed"] == 12
    # string ids work too (no cast, no arithmetic)
    sdf = spark.createDataFrame(
        [("doc-b", f"x {run} y"), ("doc-a", f"z {run} w")],
        "doc_id string, text string",
    )
    sres = {r["doc_id"]: r.asDict() for r in
            textops.exact_substring_dedup(sdf, n=10).collect()}
    assert sres["doc-a"]["n_tokens_removed"] == 0
    assert sres["doc-b"]["n_tokens_removed"] == 10


def _bf_char_dedup(docs, L):
    """Brute-force mirror of exact_substring_dedup_chars: flag every
    char position covered by a duplicated L-window occurrence except
    the lexicographically-first occurrence per distinct window; return
    {id: kept_text}. O(N^2) memory-side — the exactness referee."""
    from collections import defaultdict

    occ = defaultdict(list)
    for did, t in docs:
        for p in range(len(t) - L + 1):
            occ[t[p:p + L]].append((did, p))
    flagged = defaultdict(set)
    for lst in occ.values():
        if len(lst) > 1:
            keep = min(lst)
            for did, p in lst:
                if (did, p) != keep:
                    flagged[did].update(range(p, p + L))
    return {did: "".join(c for i, c in enumerate(t) if i not in flagged[did])
            for did, t in docs}


def test_exact_substring_dedup_chars_semantics(spark):
    """Char-granularity Lee et al. semantics: globally-first occurrence
    survives, later copies removed in full (maximal span, not
    window-by-window), docs shorter than L untouched, empty doc yields
    md5('')."""
    import hashlib

    run = "x" * 10 + "the quick brown fox jumps over" + "y" * 10  # 50 chars
    # boundary words end in DISTINCT chars (Q/W vs R/T): the maximal
    # duplicated substring extends exactly one space either side of run
    docs = [
        (1, f"keeperQ {run} tailW"),
        (2, f"copyR {run} endT"),
        (3, "tiny"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    res = {r["doc_id"]: r.asDict() for r in
           textops.exact_substring_dedup_chars(
               df, min_len=25, with_text=True).collect()}
    assert res[1]["n_spans"] == 0 and run in res[1]["kept_text"]
    # the shared span is ' ' + run + ' ' — suffix-array-grade maximal
    # extension, not just the planted run
    assert res[2]["n_spans"] == 1 and res[2]["n_chars_removed"] == len(run) + 2
    assert res[2]["kept_text"] == "copyRendT"
    assert res[3]["n_chars_removed"] == 0
    assert res[4]["kept_md5"] == hashlib.md5(b"").hexdigest()
    with pytest.raises(ValueError, match="min_len must be"):
        textops.exact_substring_dedup_chars(df, min_len=1)


def test_exact_substring_dedup_chars_matches_brute_force(spark):
    """Exactness pin: on a small-alphabet corpus dense with accidental
    repeats (plus engineered shared runs and a multibyte-unicode doc),
    the distributed path's kept text equals the O(N^2) brute-force
    mirror character-for-character — the covering-lemma claim that this
    IS suffix-array output, not an approximation."""
    import random

    rng = random.Random(8)
    alpha = "abc "
    chunk = "".join(rng.choice(alpha) for _ in range(40))
    docs = []
    for i in range(12):
        pre = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 60)))
        suf = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 60)))
        mid = chunk if i % 3 == 0 else ""
        docs.append((i, pre + mid + suf))
    docs.append((100, "héllo wörld ünïcode " * 4))   # multibyte chars
    docs.append((101, "héllo wörld ünïcode " * 3))   # shares a long prefix
    L = 12
    want = _bf_char_dedup(docs, L)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["kept_text"] for r in
           textops.exact_substring_dedup_chars(
               df, min_len=L, with_text=True).collect()}
    assert got == want


def test_exact_substring_dedup_chars_superset_of_word_windows(spark):
    """The constructed-corpus differential vs the word-window path: a
    duplicated 29-char run of only 8 words is INVISIBLE to
    exact_substring_dedup(n=10) but fully removed at char granularity;
    a duplicated 12-word run is caught by BOTH (the word path's spans
    are a subset of the char path's)."""
    short_run = "the cat sat on a mat today ok"          # 29 chars, 8 words
    long_run = " ".join(f"w{i:02d}" for i in range(12))  # 47 chars, 12 words
    # boundary words chosen so maximal extension is exactly one space
    # per side (distinct adjacent chars: Q/W/E vs R/T vs U/V)
    docs = [
        (1, f"alphaQ {short_run} omegaW {long_run} endE"),
        (2, f"betaR {short_run} gammaT"),
        (3, f"deltaU {long_run} zetaV"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    words = {r["doc_id"]: r.asDict() for r in
             textops.exact_substring_dedup(df, n=10, with_text=True).collect()}
    chars = {r["doc_id"]: r.asDict() for r in
             textops.exact_substring_dedup_chars(
                 df, min_len=25, with_text=True).collect()}
    # word path: the 8-word run is below n=10 -> missed entirely
    assert words[2]["n_tokens_removed"] == 0
    # char path: ' ' + 29 chars + ' ' >= 25 -> removed
    assert chars[2]["n_chars_removed"] == len(short_run) + 2
    assert chars[2]["kept_text"] == "betaRgammaT"
    # the 12-word run is caught by both paths (superset, not disjoint)
    assert words[3]["n_tokens_removed"] == 12
    assert chars[3]["n_chars_removed"] == len(long_run) + 2
    # doc 1 is the keeper for both runs under both paths
    assert words[1]["n_tokens_removed"] == 0
    assert chars[1]["n_chars_removed"] == 0


def test_connected_min_labels_loop_path_matches_driver_finish(spark):
    """Differential between the two execution paths: the size-gated
    driver union-find (default) and the distributed fixpoint loop
    (forced via driver_finish_max_edges=0) must produce identical labels
    on a mixed topology (cliques + chains + isolated pair)."""
    edges = []
    # a 6-clique on 100..105
    clique = list(range(100, 106))
    edges += [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
    # a 7-chain on 1..7 (worst case for contraction)
    edges += [(i, i + 1) for i in range(1, 7)]
    # chain-of-cliques: 200-clique bridged to 300-clique via one edge
    c1, c2 = list(range(200, 204)), list(range(300, 304))
    edges += [(a, b) for i, a in enumerate(c1) for b in c1[i + 1:]]
    edges += [(a, b) for i, a in enumerate(c2) for b in c2[i + 1:]]
    edges += [(203, 300)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r["id"]: r["label"]
            for r in textops.connected_min_labels(pairs).collect()}
    loop = {r["id"]: r["label"]
            for r in textops.connected_min_labels(
                pairs, driver_finish_max_edges=0).collect()}
    assert fast == loop
    assert fast[105] == 100 and fast[7] == 1
    assert fast[303] == 200 and fast[300] == 200  # bridged cliques merge


def test_connected_min_labels_gate_boundary_never_collects_over(spark, monkeypatch):
    """The driver fast path is size-GATED: a contracted graph just over
    `driver_finish_max_edges` must take the distributed loop and NEVER
    collect (the gate exists so the driver can never be the OOM at
    10^12 rows); just under, the driver path collects exactly once.
    Labels identical on both sides of the boundary. The chain 0-1-2-3-4
    contracts to 6 directed residual edges, so gate=5 is just-over and
    gate=6 is just-under."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    collects = []
    # patch the CONCRETE class (pyspark 4's classic DataFrame overrides
    # collect; patching the abstract parent never fires)
    cls = type(pairs)
    orig = cls.collect

    def spy(self):
        collects.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    over_df = textops.connected_min_labels(pairs, driver_finish_max_edges=5)
    assert collects == []  # distributed path: no driver collect anywhere
    over = {r["id"]: r["label"] for r in orig(over_df)}

    collects.clear()
    under_df = textops.connected_min_labels(pairs, driver_finish_max_edges=6)
    assert len(collects) == 1  # driver path: exactly the contracted collect
    under = {r["id"]: r["label"] for r in orig(under_df)}
    assert over == under == {i: 0 for i in range(5)}


def test_connected_min_labels_string_ids_both_paths(spark):
    """Non-integer id domains (string doc ids) work on BOTH paths — the
    driver fast path builds its component frame from the source id type
    instead of coercing to long (r5 ADVICE regression: int(x) + a
    'm long' schema crashed string graphs on the path that fires for
    virtually every real contracted graph)."""
    edges = [("docB", "docA"), ("docB", "docC"), ("x2", "x1"), ("z9", "z9")]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    fast = {r["id"]: r["label"]
            for r in textops.connected_min_labels(pairs).collect()}
    loop = {r["id"]: r["label"]
            for r in textops.connected_min_labels(
                pairs, driver_finish_max_edges=0).collect()}
    assert fast == loop
    assert fast["docA"] == fast["docB"] == fast["docC"] == "docA"
    assert fast["x1"] == fast["x2"] == "x1"
    assert fast["z9"] == "z9"


def test_exploded_ngrams_matches_with_ngram_set(spark):
    """Differential: the position-explode shape must yield exactly the
    gram MULTISET that exploding with_ngram_set's array would (and the
    same DISTINCT set per doc), across the edge cases: fewer tokens than
    n, exactly n, repeated grams, mixed whitespace, empty-ish text."""
    rows = [
        (1, "a b c d e f g"),
        (2, "one two"),                      # < n -> single all-tokens gram
        (3, "x y z"),                        # exactly n
        (4, "p q p q p q p q"),              # repeated grams
        (5, "  spaced\t\tout   tokens here now  "),
        (6, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3, 5):
        got = textops.exploded_ngrams(df, "text", "doc_id", n).collect()
        got_sets: dict[int, set] = {}
        for r in got:
            got_sets.setdefault(r["doc_id"], set()).add(r["gram"])
        want = {
            r["doc_id"]: set(r["grams"])
            for r in textops.with_ngram_set(df, "text", "grams", n)
            .select("doc_id", "grams").collect()
        }
        assert got_sets == want, f"n={n}"
        # occurrence counts: sliding window length (or 1 when < n tokens)
        from collections import Counter

        cnt = Counter(r["doc_id"] for r in got)
        for doc_id, text in rows:
            toks = text.strip().lower().split()
            assert cnt[doc_id] == max(1, len(toks) - n + 1), (doc_id, n)


def test_decontaminate_drops_overlapping_docs(spark):
    """Docs sharing an n-gram with the eval set are dropped; clean docs
    survive; the report counts DISTINCT shared grams per doc; the eval join
    side is broadcast (no corpus shuffle for the probe)."""
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro words then the quick brown fox jumps over the lazy dog tonight and more"),
            (2, "completely unrelated text about spark shuffle partitions and joins"),
            (3, "quick brown fox jumps over unrelated tail words here now"),  # 13-gram? no; 5-gram yes
        ],
        "doc_id long, text string",
    )
    report = {r["doc_id"]: r["n_hits"]
              for r in textops.contamination_report(corpus, eval_df, n=5).collect()}
    assert 1 in report and 3 in report and 2 not in report
    # doc 1 contains the full eval text -> all its sliding 5-grams hit
    assert report[1] >= 6
    plan = textops.contamination_report(corpus, eval_df, n=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    kept = {r["doc_id"] for r in
            textops.decontaminate(corpus, eval_df, n=5).select("doc_id").collect()}
    assert kept == {2}
    # max_hits loosens the gate
    kept2 = {r["doc_id"] for r in
             textops.decontaminate(corpus, eval_df, n=5, max_hits=5).select("doc_id").collect()}
    assert kept2 == {2, 3}


def test_fuzzy_contamination_catches_paraphrase(spark):
    """The fuzzy report flags a lightly-edited eval copy that EXACT
    13-gram decontamination misses: one word swapped every 12 tokens
    leaves no shared 13-gram, but word-3-gram Jaccard stays > 0.5.
    Pins the operator's reason to exist, both report and dropper, plus
    the pure-Python Jaccard value and the broadcast shape (the corpus is
    never shuffled for the probe)."""
    import hashlib

    letters = str.maketrans("0123456789", "ghijklmnop")
    base = [
        hashlib.md5(f"fz:{j}".encode()).hexdigest()[:8].translate(letters)
        for j in range(60)
    ]
    eval_text = " ".join(base)
    para = list(base)
    for i in range(0, 60, 12):
        para[i] = f"swapword{i}x"
    para_text = " ".join(para)
    corpus = spark.createDataFrame(
        [(1, para_text),
         (2, "completely unrelated text about spark shuffle partitions "
             "and broadcast joins running on the cluster tonight")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, eval_text)], "doc_id long, text string"
    )
    # exact 13-gram decontamination keeps the paraphrase (the gap)
    kept_exact = {r["doc_id"] for r in
                  textops.decontaminate(corpus, eval_df, n=13)
                  .select("doc_id").collect()}
    assert kept_exact == {1, 2}
    report = textops.fuzzy_contamination_report(
        corpus, eval_df, jaccard_threshold=0.5, ngram_n=3
    )
    rows = report.collect()
    assert {(r["doc_id"], r["eval_id"]) for r in rows} == {(1, 100)}
    # pure-Python oracle for the exact-verify stage
    def grams(ws):
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
    ga, gb = grams(para), grams(base)
    want = len(ga & gb) / len(ga | gb)
    assert abs(rows[0]["jaccard"] - want) < 1e-9
    assert want > 0.5
    kept = {r["doc_id"] for r in
            textops.decontaminate_fuzzy(corpus, eval_df,
                                        jaccard_threshold=0.5)
            .select("doc_id").collect()}
    assert kept == {2}
    # final (AQE) plan only — toString appends the pre-AQE initial plan,
    # whose provisional SortMergeJoins AQE demotes to broadcast
    plan = report._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_scrub_pii_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail alice@corp.example.org or bob.smith+x@mail.co, "
                "server 192.168.1.254 and 10.0.0.1, call 415-555-0100 now"),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.scrub_pii(df).collect()}
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) == (2, 2, 1)
    s = rows[1]["text_scrubbed"]
    assert "<EMAIL>" in s and "<IP>" in s and "<PHONE>" in s
    assert "alice@" not in s and "192.168" not in s and "555-0100" not in s
    assert (rows[2]["n_email"], rows[2]["n_ipv4"], rows[2]["n_phone"]) == (0, 0, 0)
    assert rows[2]["text_scrubbed"] == "no pii here at all"


def test_connected_min_labels_rejects_nonpositive_max_iters(spark):
    """max_iters <= 0 must fail loudly up front (the old for-else path
    raised a confusing NameError instead)."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iters"):
        textops.connected_min_labels(pairs, max_iters=0)


def test_bucket_cap_reachable_from_public_dedup_apis(spark, caplog):
    """max_bucket_size must thread end-to-end through the four public dedup
    entry points, and capped drops must be LOGGED (no silent caps).
    50 byte-identical viral docs overflow every band bucket; with the cap
    their pairs vanish (so all 50 survive dedup), while the distinct
    near-dup pair still collapses."""
    import logging

    viral = [(i, "the same viral page content repeated verbatim " * 20)
             for i in range(50)]
    normal = [(100, "some unique text about apples and oranges " * 10),
              (101, "some unique text about apples and oranges " * 10)]
    df = spark.createDataFrame(viral + normal, "doc_id long, text string")

    with caplog.at_level(logging.WARNING, logger="slowspark"):
        capped_pairs = textops.minhash_verified_pairs(df, max_bucket_size=10)
        got = {(r["id_a"], r["id_b"]) for r in capped_pairs.collect()}
    assert got == {(100, 101)}
    assert any("max_bucket_size=10 dropped" in r.message for r in caplog.records)

    kept = {r["doc_id"] for r in
            textops.minhash_dedup(df, max_bucket_size=10).select("doc_id").collect()}
    assert kept == set(range(50)) | {100}
    # without the cap the viral blob collapses to its min id
    kept_uncapped = {r["doc_id"] for r in
                     textops.minhash_dedup(df).select("doc_id").collect()}
    assert kept_uncapped == {0, 100}

    kept_j = {r["doc_id"] for r in
              textops.jaccard_dedup(df, max_bucket_size=10).select("doc_id").collect()}
    assert kept_j == set(range(50)) | {100}
    pairs_j = {(r["id_a"], r["id_b"]) for r in
               textops.jaccard_verified_pairs(df, max_bucket_size=10).collect()}
    assert pairs_j == {(100, 101)}


def test_line_boilerplate_dedup_grouped_and_global(spark):
    from pyspark.sql import functions as F

    from slowspark.textops import line_boilerplate_dedup

    rows = [
        (1, "Cookie banner\nreal content one\n\nmore prose", "a.com"),
        (2, "Cookie banner\nother text here", "a.com"),
        (3, "Cookie banner\nthird doc", "b.com"),
        (4, "unique only\n\nsolo", "b.com"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, domain string")
    # grouped: banner frequent only within a.com; b.com's single copy kept
    g = {
        r.doc_id: r
        for r in line_boilerplate_dedup(
            df, group_col="domain", with_text=True
        ).collect()
    }
    assert g[1].kept_text == "real content one\n\nmore prose"
    assert g[2].kept_text == "other text here"
    assert g[3].kept_text == "Cookie banner\nthird doc"
    assert (g[1].n_lines, g[1].n_lines_removed) == (4, 1)
    # blank lines are protected even though they recur across documents
    assert "\n\n" in g[1].kept_text and "\n\n" in g[4].kept_text
    # ungrouped: 3 distinct docs share the banner -> removed everywhere
    u = {
        r.doc_id: r
        for r in line_boilerplate_dedup(df, with_text=True).collect()
    }
    assert u[3].kept_text == "third doc"
    # md5 contract
    import hashlib

    assert g[1].kept_md5 == hashlib.md5(g[1].kept_text.encode()).hexdigest()


def test_line_boilerplate_dedup_trim_matching_and_repeat_within_doc(spark):
    from slowspark.textops import line_boilerplate_dedup

    rows = [
        # trailing-space variant matches the trimmed form; a line repeated
        # inside ONE doc is df=1 -> not boilerplate
        (1, "nav bar  \nbody text\nbody text", None),
        (2, "nav bar\nsomething else", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, domain string")
    out = {
        r.doc_id: r
        for r in line_boilerplate_dedup(df, with_text=True).collect()
    }
    assert out[1].kept_text == "body text\nbody text"
    assert out[2].kept_text == "something else"


def test_line_boilerplate_dedup_everything_removed(spark):
    import hashlib

    from slowspark.textops import line_boilerplate_dedup

    rows = [(1, "x y z"), (2, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r for r in line_boilerplate_dedup(df, with_text=True).collect()
    }
    assert out[1].kept_text == "" and out[1].n_lines_removed == 1
    assert out[1].kept_md5 == hashlib.md5(b"").hexdigest()


def test_badword_filter_whole_token_only(spark):
    from slowspark.textops import badword_filter

    docs = spark.createDataFrame(
        [
            (1, "a clean document about classes and assets"),
            (2, "contains ass right here"),
            (3, "ASS uppercase and ass again"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in badword_filter(docs, ["ass"]).collect()}
    # substrings inside "classes"/"assets" never match
    assert got[1]["keep"] and got[1]["n_badwords"] == 0
    assert not got[2]["keep"] and got[2]["n_badwords"] == 1
    assert not got[3]["keep"] and got[3]["n_badwords"] == 2  # case-folded
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty word list"):
        badword_filter(docs, [])


def test_dedup_by_pairs_quality_keeper(spark):
    """Per component the HIGHEST-quality member survives (ties -> lowest
    id); NULL quality ranks below everything; isolated docs untouched."""
    docs = spark.createDataFrame(
        [
            (1, "a", 5.0), (2, "a'", 9.0), (3, "a''", 9.0),  # comp {1,2,3}
            (4, "b", None), (5, "b'", 0.5),                  # comp {4,5}
            (6, "solo", None),                               # isolated
        ],
        "doc_id long, text string, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    kept = {r["doc_id"]
            for r in textops.dedup_by_pairs_quality(docs, pairs, "q").collect()}
    # comp1: q=9 tie between 2 and 3 -> lowest id 2; comp2: NULL < 0.5
    assert kept == {2, 5, 6}
    # degenerate: empty pair set keeps everything
    nopairs = spark.createDataFrame([], "id_a long, id_b long")
    assert textops.dedup_by_pairs_quality(docs, nopairs, "q").count() == 6


# ----------------------------------------------------------- pmi_pairs


def test_pmi_pairs_matches_python(spark):
    import math

    from slowspark.textops import pmi_pairs

    text = "new york new york new york city of london city of york"
    df = spark.createDataFrame([(text,)], "text string")
    got = {
        (r["term_a"], r["term_b"]): (r["n_pair"], r["pmi"], r["rk"])
        for r in pmi_pairs(df, min_count=2, topk=10).collect()
    }
    toks = text.split()
    from collections import Counter

    uni = Counter(toks)
    n = len(toks)
    pairs = Counter(zip(toks, toks[1:]))
    want = {}
    for (a, b), c in pairs.items():
        if c >= 2:
            want[(a, b)] = (c, round(math.log(c * n / (uni[a] * uni[b])), 4))
    assert {k: v[:2] for k, v in got.items()} == want
    # ranks are 1..n by desc pmi
    assert sorted(v[2] for v in got.values()) == list(range(1, len(want) + 1))


def test_pmi_pairs_grouped_and_min_count(spark):
    from slowspark.textops import pmi_pairs

    df = spark.createDataFrame(
        [("en", "a b a b a b"), ("de", "x y")],
        "lang string, text string",
    )
    got = pmi_pairs(df, group_cols=("lang",), min_count=3, topk=5).collect()
    # en: (a,b) appears 3x -> kept; (b,a) 2x -> pruned; de below min_count
    assert [(r["lang"], r["term_a"], r["term_b"], r["n_pair"]) for r in got] == [
        ("en", "a", "b", 3)
    ]


# ----------------------------------------------------- containment_pairs


def test_containment_small_doc_inside_large(spark):
    from slowspark.textops import containment_pairs

    quote = "to be or not to be that is the question"
    article = (
        "breaking news today " + quote + " said the famous actor during "
        "an interview about the upcoming theatrical production downtown"
    )
    rows = [
        (1, quote),
        (2, article),
        (3, "completely unrelated text about cooking pasta with sauce"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["c_a_in_b"], r["c_b_in_a"])
        for r in containment_pairs(df, containment_threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    n_common, c_ab, c_ba = got[(1, 2)]
    assert c_ab == 1.0  # every quote trigram appears in the article
    assert c_ba < 0.5   # but the article is NOT inside the quote
    # exact values: quote has 8 distinct trigrams, all shared
    assert n_common == 8


def test_containment_gram_df_pruning_blocks_boilerplate(spark):
    from slowspark.textops import containment_pairs

    # the same boilerplate phrase in 30 docs: with max_gram_df below 30
    # it generates no candidates at all
    rows = [(i, f"unique{i} all rights reserved worldwide") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = containment_pairs(df, containment_threshold=0.5, max_gram_df=10)
    assert out.count() == 0


def test_containment_plan_no_cartesian(spark):
    from slowspark.textops import containment_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e f")], "doc_id long, text string"
    )
    plan = (
        containment_pairs(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


# ------------------------------------- dup fraction / token entropy


def test_duplicated_ngram_fraction(spark):
    from slowspark.textops import duplicated_ngram_fraction

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (1, shared + " unique1a unique1b unique1c"),
        (2, shared + " unique2a unique2b unique2c"),
        (3, "totally different words here none shared with others ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_shared"], r["dup_fraction"])
        for r in duplicated_ngram_fraction(df, n=8).collect()
    }
    # docs 1/2: 11 tokens -> 4 distinct 8-grams each; the first (the pure
    # shared window) appears in both docs; the other 3 contain unique words
    assert got[1] == (4, 1, 0.25)
    assert got[2] == (4, 1, 0.25)
    assert got[3][1] == 0 and got[3][2] == 0.0


def test_token_entropy_matches_python(spark):
    import math
    from collections import Counter

    from slowspark.textops import token_entropy

    rows = [
        (1, "buy now buy now buy now buy now"),
        (2, "all words here are fully distinct tokens okay"),
        (3, "a a a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["entropy"])
        for r in token_entropy(df).collect()
    }
    for did, text in rows:
        c = Counter(text.split())
        n = sum(c.values())
        h = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        assert got[did][0] == n
        assert abs(got[did][1] - h) < 5.1e-5, did
    assert got[3][1] == 0.0                       # constant doc: zero entropy
    assert got[2][1] > got[1][1] > got[3][1]      # distinct > repeated > constant


# ------------------------------------------------------- RAKE keywords


def test_rake_keywords_hand(spark):
    from slowspark.textops import rake_keywords

    # stopwords (en list): the, and. Phrases: "quick fox" (len 2),
    # "quick fox runs" (len 3). deg/freq: quick 5/2, fox 5/2, runs 3/1.
    # Scores: "quick fox" = 5.0, "quick fox runs" = 2.5+2.5+3 = 8.0.
    df = spark.createDataFrame(
        [(1, "the quick fox and quick fox runs")],
        "doc_id long, text string",
    )
    out = rake_keywords(df, top_k=5).collect()
    got = {r["phrase"]: (r["n_words"], r["n_occurrences"], r["score"])
           for r in out}
    assert got == {
        "quick fox runs": (3, 1, 8.0),
        "quick fox": (2, 1, 5.0),
    }


def test_rake_keywords_dedup_and_topk(spark):
    from slowspark.textops import rake_keywords

    # repeated phrase collapses to one row with n_occurrences=2;
    # top_k=1 keeps the highest score only
    df = spark.createDataFrame(
        [(1, "the cat and cat"), (2, "big dog runs. the big dog")],
        "doc_id long, text string",
    )
    out = rake_keywords(df, top_k=1).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert by_doc[1]["phrase"] == "cat"
    assert by_doc[1]["n_occurrences"] == 2
    assert by_doc[1]["score"] == 1.0
    # doc 2: "big dog runs" (len 3) beats "big dog" (len 2):
    # big 5/2, dog 5/2, runs 3/1 -> 8.0
    assert by_doc[2]["phrase"] == "big dog runs"
    assert by_doc[2]["score"] == 8.0
    with pytest.raises(ValueError, match="stopword list"):
        rake_keywords(df, lang="xx")
    with pytest.raises(ValueError, match="top_k"):
        rake_keywords(df, top_k=0)


def test_rake_keywords_partition_invariance(spark):
    from slowspark.textops import rake_keywords

    rows = [
        (i, f"alpha beta the gamma delta w{i % 5} and epsilon w{i % 3}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda r: (r["doc_id"], r["phrase"], r["score"])
    a = sorted(map(key, rake_keywords(df.repartition(1), top_k=3).collect()))
    b = sorted(map(key, rake_keywords(df.repartition(11), top_k=3).collect()))
    assert a == b


# ------------------------------------------------------------ winnowing


def test_winnow_fingerprints_hand(spark):
    from slowspark.textops import winnow_fingerprints

    # k=2, w=2 over 'abcab' -> grams ab bc ca ab; windows of 2 hashes:
    # each selection is the min md5 of the pair, rightmost on ties.
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    grams = ["ab", "bc", "ca", "ab"]
    hs = [md5(g) for g in grams]
    want = set()
    for j in range(len(hs) - 1):
        wnd = hs[j:j + 2]
        m = min(wnd)
        # rightmost occurrence within the window
        pos = j + (2 - wnd[::-1].index(m))
        want.add((pos, m))
    df = spark.createDataFrame([(1, "a b--c?aB")], "doc_id long, text string")
    got = {(r["pos"], r["fp"]) for r in
           winnow_fingerprints(df, k=2, w=2).collect()}
    assert got == want


def test_winnow_shared_substring_guarantee(spark):
    from slowspark.textops import winnow_fingerprints

    # the paper's guarantee: a shared substring of length >= k+w-1
    # yields at least one identical fingerprint in both docs
    k, w = 5, 4
    shared = "xqzvbnmlkjhgf"  # length 13 >= k+w-1 = 8
    df = spark.createDataFrame(
        [(1, f"aaaaaaaPREFIX {shared} SUFFIXbbbbbbb"),
         (2, f"cccccccOTHER {shared} TAILddddddd")],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, k=k, w=w)
    common = (
        out.filter(F.col("doc_id") == 1).select("fp")
        .intersect(out.filter(F.col("doc_id") == 2).select("fp"))
    )
    assert common.count() >= 1


def test_winnow_edges_and_invariance(spark):
    from slowspark.textops import winnow_fingerprints

    # too-short doc emits nothing; short-hash-sequence doc emits its
    # global min exactly once
    df = spark.createDataFrame(
        [(1, "ab"), (2, "abcde")], "doc_id long, text string"
    )
    out = winnow_fingerprints(df, k=5, w=8).collect()
    assert {r["doc_id"] for r in out} == {2}
    assert len(out) == 1
    rows = [(i, f"text number {i} with words repeated {i % 3}")
            for i in range(50)]
    big = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda r: (r["doc_id"], r["pos"], r["fp"])
    a = sorted(map(key, winnow_fingerprints(big.repartition(1)).collect()))
    b = sorted(map(key, winnow_fingerprints(big.repartition(7)).collect()))
    assert a == b
    with pytest.raises(ValueError, match="k and w"):
        winnow_fingerprints(big, k=0)


# ------------------------------------------------------- main content


def _page(body_words=40):
    body = " ".join(f"word{i}" for i in range(body_words))
    return (
        "<html><head><script>var nav = 1;</script>"
        "<style>.x{}</style></head><body>"
        '<div><a href="/">Home</a> <a href="/a">News</a> '
        '<a href="/b">Sports</a> <a href="/c">More</a></div>'
        f"<p>{body}</p>"
        "<p>Second real paragraph with enough plain words to pass the "
        "minimum word count threshold easily here.</p>"
        '<div><a href="/x">Privacy</a> | <a href="/y">Terms</a> | '
        '<a href="/z">Contact us</a></div>'
        "</body></html>"
    )


def test_main_content_drops_nav_and_footer(spark):
    from slowspark.textops import main_content_blocks

    df = spark.createDataFrame(
        [(1, bytearray(_page().encode()))], "doc_id long, html binary"
    )
    out = main_content_blocks(df).collect()[0]
    assert "word0" in out["main_text"] and "word39" in out["main_text"]
    assert "Second real paragraph" in out["main_text"]
    assert "Home" not in out["main_text"]       # nav dropped
    assert "Privacy" not in out["main_text"]    # footer dropped
    assert out["n_kept"] == 2
    assert 0.0 < out["boiler_frac"] < 0.5


def test_main_content_entities_and_degenerate(spark):
    from slowspark.textops import main_content_blocks

    html = ("<body><p>T&amp;C say 1 &lt; 2 plus many plain filler words "
            "to clear the minimum count threshold for keeping</p></body>")
    df = spark.createDataFrame(
        [(1, bytearray(html.encode())), (2, bytearray(b"<body></body>"))],
        "doc_id long, html binary",
    )
    out = {r["doc_id"]: r for r in main_content_blocks(df).collect()}
    assert "T&C say 1 < 2" in out[1]["main_text"]
    assert out[2]["main_text"] == "" and out[2]["boiler_frac"] == 0.0
    import pytest as _p

    with _p.raises(ValueError, match="min_words"):
        main_content_blocks(df, min_words=0)


def test_main_content_link_density_boundary(spark):
    from slowspark.textops import main_content_blocks

    # a long block that is mostly links must drop even though it has
    # enough words; the same words without anchors survive
    words = " ".join(f"w{i}" for i in range(15))
    linky = "<p>" + " ".join(
        f'<a href="/{i}">w{i}</a>' for i in range(15)
    ) + "</p>"
    plain = f"<p>{words}</p>"
    df = spark.createDataFrame(
        [(1, bytearray(f"<body>{linky}</body>".encode())),
         (2, bytearray(f"<body>{plain}</body>".encode()))],
        "doc_id long, html binary",
    )
    out = {r["doc_id"]: r for r in main_content_blocks(df).collect()}
    assert out[1]["n_kept"] == 0 and out[1]["boiler_frac"] == 1.0
    assert out[2]["n_kept"] == 1 and out[2]["main_text"] == words


# -------------------------------------------------------- aho-corasick


def test_multi_pattern_counts_classic(spark):
    from slowspark.textops import multi_pattern_counts

    # the textbook AC fixture: overlapping patterns sharing affixes
    pats = ["he", "she", "his", "hers"]
    df = spark.createDataFrame(
        [(1, "ushers"), (2, "his history"), (3, "nothing")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["pattern"]): r["n_matches"]
           for r in multi_pattern_counts(df, pats).collect()}
    assert out == {
        (1, "she"): 1, (1, "he"): 1, (1, "hers"): 1,
        (2, "his"): 2,  # 'his' and inside 'history'
    }


def test_multi_pattern_counts_overlap_and_brute_force(spark):
    import re

    from slowspark.textops import multi_pattern_counts

    # self-overlapping counts all match ends: 'aa' twice in 'aaa'
    df1 = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    out = {r["pattern"]: r["n_matches"]
           for r in multi_pattern_counts(df1, ["aa"]).collect()}
    assert out == {"aa": 2}
    # brute-force differential on pseudo-random text
    rng_text = [
        (i, "".join("abcd efg"[(i * 13 + j * 7) % 8] for j in range(80)))
        for i in range(20)
    ]
    pats = ["ab", "cd e", "fga", "dd", "a"]
    df = spark.createDataFrame(rng_text, "doc_id long, text string")
    got = {(r["doc_id"], r["pattern"]): r["n_matches"]
           for r in multi_pattern_counts(df, pats).collect()}
    want = {}
    for i, t in rng_text:
        for p in pats:
            n = len(re.findall(f"(?={re.escape(p)})", t))
            if n:
                want[(i, p)] = n
    assert got == want


def test_multi_pattern_counts_guards(spark):
    from slowspark.textops import multi_pattern_counts

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        multi_pattern_counts(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        multi_pattern_counts(df, ["a", "a"])
    with pytest.raises(ValueError, match="collide after lowercasing"):
        multi_pattern_counts(df, ["AB", "ab"])
    # lowercase matching on by default
    out = multi_pattern_counts(df.selectExpr("doc_id", "'XyX' AS text"),
                               ["xyx"]).collect()
    assert out[0]["n_matches"] == 1
