"""sketch: Count-Min build/query/merge properties."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from slowspark.sketch import (
    build_cms,
    cms_heavy_hitters,
    cms_query,
)


@pytest.fixture(scope="module")
def stream(spark):
    # zipf-ish: value v{i} appears (50 - i) times
    rows = [(f"v{i}",) for i in range(50) for _ in range(50 - i)]
    return spark.createDataFrame(rows, "term string")


def test_cms_never_underestimates(spark, stream):
    d, w = 4, 64  # deliberately narrow: collisions guaranteed
    cms = build_cms(stream, "term", d, w)
    truth = Counter(r["term"] for r in stream.collect())
    est = {
        r["term"]: r["cms_est"]
        for r in cms_query(
            stream.select("term").distinct(), cms, "term", d, w
        ).collect()
    }
    assert set(est) == set(truth)
    assert all(est[t] >= c for t, c in truth.items())
    # and at sane width the top value is estimated exactly or near it
    n = sum(truth.values())
    assert est["v0"] - truth["v0"] <= n  # trivial sanity at tiny width


def test_cms_exact_at_generous_width(spark, stream):
    d, w = 5, 4096  # wide enough that collisions are improbable
    cms = build_cms(stream, "term", d, w)
    out = cms_heavy_hitters(
        stream, "term", cms, stream.select("term").distinct(), d, w
    ).collect()
    assert len(out) == 50
    assert all(r["cms_est"] == r["exact"] for r in out)


def test_cms_cell_bound(spark, stream):
    d, w = 3, 32
    cells = build_cms(stream, "term", d, w).collect()
    assert len(cells) <= d * w
    assert all(0 <= r["col"] < w and 0 <= r["j"] < d for r in cells)


def test_cms_weighted_build(spark):
    df = spark.createDataFrame(
        [("x", 10), ("x", 5), ("y", 2)], "term string, n long"
    )
    d, w = 4, 1024
    cms = build_cms(df, "term", d, w, weight_col="n")
    est = {
        r["term"]: r["cms_est"]
        for r in cms_query(
            df.select("term").distinct(), cms, "term", d, w
        ).collect()
    }
    assert est["x"] == 15 and est["y"] == 2


def test_kmv_exact_below_k_and_deterministic(spark):
    from slowspark.sketch import kmv_estimate, kmv_sketch

    df = spark.createDataFrame(
        [(f"v{i % 7}",) for i in range(100)], "term string"
    )
    sk = kmv_sketch(df, "term", k=16)
    rows = sk.collect()
    assert len(rows) == 7  # fewer distincts than k: all present
    est = kmv_estimate(sk, 16).collect()[0]["n_distinct_est"]
    assert est == 7.0  # exact below k
    # determinism: rebuild matches hash-for-hash
    again = {(r["h"], r["rk"]) for r in kmv_sketch(df, "term", k=16).collect()}
    assert again == {(r["h"], r["rk"]) for r in rows}


def test_kmv_estimate_accuracy_and_groups(spark):
    from slowspark.sketch import kmv_estimate, kmv_sketch

    rows = [(f"g{j}", f"val-{j}-{i}") for j in range(2) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, term string")
    k = 64
    sk = kmv_sketch(df, "term", k, group_cols=("g",))
    est = {
        r["g"]: r["n_distinct_est"]
        for r in kmv_estimate(sk, k, group_cols=("g",)).collect()
    }
    for g in ("g0", "g1"):
        assert 350 <= est[g] <= 700  # ~1/sqrt(k) ≈ 12.5% rel error, loose x3


def test_kmv_bad_k(spark):
    from slowspark.sketch import kmv_sketch

    df = spark.createDataFrame([("a",)], "term string")
    with pytest.raises(ValueError, match="k must be >= 2"):
        kmv_sketch(df, "term", 1)


def _hll_python_reference(values, p):
    """Independent pure-Python HLL over Spark-computed xxhash64 values —
    pins the register/estimate arithmetic against a second
    implementation (the DuckDB oracle is the third)."""
    import math as _math

    from slowspark.sketch import hll_alpha

    m, w = 1 << p, 64 - p
    q = w + 1
    regs = {}
    for h in values:
        u = h & ((1 << 64) - 1)  # two's complement view
        reg = u >> w
        rest = u & ((1 << w) - 1)
        rho = q if rest == 0 else q - rest.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    total = sum(1 << (q - r) for r in regs.values()) + (m - len(regs)) * (1 << q)
    raw = hll_alpha(p) * m * m * float(1 << q) / float(total)
    v = m - len(regs)
    if raw <= 2.5 * m and v > 0:
        return m * _math.log(m / v)
    return raw


def test_hll_matches_python_reference_and_accuracy(spark):
    from slowspark.sketch import hll_estimate, hll_sketch

    p = 6
    df = spark.createDataFrame([(f"item-{i}",) for i in range(4000)], "t string")
    est = hll_estimate(hll_sketch(df, "t", p), p).collect()[0]["hll_est"]
    hashes = [r["h"] for r in df.select(F.xxhash64("t").alias("h")).collect()]
    assert est == _hll_python_reference(hashes, p)  # bit-identical
    assert abs(est - 4000) / 4000 < 3 * 1.04 / math.sqrt(1 << p)


def test_hll_duplicate_idempotent_and_partition_invariant(spark):
    from slowspark.sketch import hll_sketch

    rows = [(f"g{j}", f"v-{j}-{i % 40}") for j in range(2) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, t string")
    whole = {
        (r["g"], r["reg"]): r["rho"]
        for r in hll_sketch(df, "t", 5, group_cols=("g",)).collect()
    }
    dedup = {
        (r["g"], r["reg"]): r["rho"]
        for r in hll_sketch(df.distinct(), "t", 5, group_cols=("g",)).collect()
    }
    repart = {
        (r["g"], r["reg"]): r["rho"]
        for r in hll_sketch(df.repartition(13), "t", 5, group_cols=("g",)).collect()
    }
    assert whole == dedup == repart
    assert len(whole) <= 2 * 32  # per-group register bound m = 2^5


def test_hll_merge_equals_whole(spark):
    from slowspark.sketch import hll_sketch, merge_hll

    rows = [(f"val{i}",) for i in range(600)]
    a = spark.createDataFrame(rows[:350], "t string")
    b = spark.createDataFrame(rows[250:], "t string")  # overlapping
    whole = hll_sketch(spark.createDataFrame(rows, "t string"), "t", 6)
    merged = merge_hll(hll_sketch(a, "t", 6), hll_sketch(b, "t", 6))
    assert {(r["reg"], r["rho"]) for r in merged.collect()} == {
        (r["reg"], r["rho"]) for r in whole.collect()
    }


def test_hll_small_range_lincount_branch(spark):
    from slowspark.sketch import hll_estimate, hll_sketch

    p = 6
    df = spark.createDataFrame([(f"x{i}",) for i in range(5)], "t string")
    est = hll_estimate(hll_sketch(df, "t", p), p).collect()[0]["hll_est"]
    hashes = [r["h"] for r in df.select(F.xxhash64("t").alias("h")).collect()]
    assert est == _hll_python_reference(hashes, p)
    assert abs(est - 5) <= 2  # linear counting is near-exact this sparse


def test_hll_bad_p(spark):
    from slowspark.sketch import hll_sketch

    df = spark.createDataFrame([("a",)], "t string")
    with pytest.raises(ValueError, match="p must be in"):
        hll_sketch(df, "t", 3)


def test_hll_index_roundtrip_replay_and_compaction(spark, tmp_path):
    from slowspark.sketch import (
        append_to_hll_index,
        build_hll_index,
        hll_index_estimate,
        hll_sketch,
        hll_estimate,
    )

    p = 6
    a = spark.createDataFrame([(f"v{i}",) for i in range(300)], "t string")
    b = spark.createDataFrame([(f"v{i}",) for i in range(200, 600)], "t string")
    both = a.unionByName(b)
    idx = str(tmp_path / "hll")
    build_hll_index(a, idx, "t", p)
    append_to_hll_index(b, idx, "t", p)
    est = hll_index_estimate(spark, idx, p).collect()[0]["hll_est"]
    want = hll_estimate(hll_sketch(both, "t", p), p).collect()[0]["hll_est"]
    assert est == want  # merge law through disk
    # replaying the SAME append changes nothing (idempotent by algebra)
    append_to_hll_index(b, idx, "t", p)
    assert hll_index_estimate(spark, idx, p).collect()[0]["hll_est"] == want
