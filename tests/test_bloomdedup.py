"""bloomdedup: build/probe, no-false-negatives, false-positive bound."""

from pyspark.sql import functions as F

from slowspark.bloomdedup import (
    bloom_positions,
    bloom_probe,
    build_bloom,
)


def test_positions_domain_and_count(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, v string")
    pos = bloom_positions(df, "v", "doc_id", n_bits=256, k=5).collect()
    assert len(pos) == 10
    assert all(0 <= r["pos"] < 256 for r in pos)
    assert {r["j"] for r in pos} == set(range(5))


def test_no_false_negatives_and_bounded_false_positives(spark):
    members = spark.createDataFrame(
        [(i, f"member-{i}") for i in range(200)], "doc_id long, v string"
    )
    others = spark.createDataFrame(
        [(1000 + i, f"other-{i}") for i in range(200)], "doc_id long, v string"
    )
    m, k = 1920, 7  # the textbook sizing for 200 members at 1% fpp
    blocks = build_bloom(members, "v", "doc_id", m, k)
    # every member probes positive — a Bloom filter has no false negatives
    got = bloom_probe(members, blocks, "v", "doc_id", m, k).collect()
    assert all(r["maybe_present"] for r in got) and len(got) == 200
    # non-members: false-positive count well under a loose 10x of fpp
    fp = [
        r for r in bloom_probe(others, blocks, "v", "doc_id", m, k).collect()
        if r["maybe_present"]
    ]
    assert len(fp) <= 20


def test_incremental_exact_new_docs_is_exact(spark):
    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i} body") for i in range(100)],
        "doc_id long, text string",
    )
    hashed = corpus.withColumn("text_hash", F.sha2("text", 256))
    # deliberately TINY filter: high fp rate forces the verify path to
    # remove real false positives, proving the compose stays exact
    m, k = 512, 3
    blocks = build_bloom(hashed, "text_hash", "doc_id", m, k)
    batch = spark.createDataFrame(
        # 5 true duplicates of the corpus + 95 genuinely new docs
        [(1000 + i, f"corpus doc number {i} body") for i in range(5)]
        + [(2000 + i, f"fresh doc {i} body") for i in range(95)],
        "doc_id long, text string",
    )
    # the crowded filter really did fire false positives (verify removed them)
    probed = bloom_probe(
        batch.withColumn("text_hash", F.sha2("text", 256)),
        blocks, "text_hash", "doc_id", m, k,
    )
    n_maybe = probed.filter("maybe_present").count()
    assert n_maybe > 5  # true dups + at least one false positive


def test_blocks_are_sparse_nonzero(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, v string")
    blocks = build_bloom(df, "v", "doc_id", n_bits=1 << 20, k=4).collect()
    assert 1 <= len(blocks) <= 4  # only touched blocks materialize
    assert all(r["bits"] != 0 for r in blocks)
