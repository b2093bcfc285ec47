"""Link-graph operators: degrees and dangling-aware PageRank.

Hand-computed values on a 4-node graph, rank-mass conservation,
partition-layout independence, and a numpy power-iteration differential
on a larger deterministic graph.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from slowspark.graph import degrees, pagerank


def _edges(spark, pairs, n_parts=None):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.repartition(n_parts) if n_parts else df


# A->B, A->C, B->C, C->D; D dangling. N=4.
FOUR = [(1, 2), (1, 3), (2, 3), (3, 4)]


def test_degrees_zero_filled(spark):
    out = {r["node"]: (r["out_deg"], r["in_deg"])
           for r in degrees(_edges(spark, FOUR)).collect()}
    assert out == {1: (2, 0), 2: (1, 1), 3: (1, 2), 4: (0, 1)}


def test_pagerank_one_iteration_hand_computed(spark):
    # r0 = 1/4 each; dangling mass = r(D) = 0.25; base = 0.15/4
    # r1(A)=0.090625  r1(B)=0.196875  r1(C)=0.409375  r1(D)=0.303125
    r = {row["node"]: row["rank"]
         for row in pagerank(_edges(spark, FOUR), n_iter=1).collect()}
    assert r[1] == pytest.approx(0.090625)
    assert r[2] == pytest.approx(0.196875)
    assert r[3] == pytest.approx(0.409375)
    assert r[4] == pytest.approx(0.303125)


def test_pagerank_conserves_mass_and_partition_independent(spark):
    pairs = [(i, (i * 7 + 1) % 60) for i in range(60) if i % 10 != 0]
    pairs += [(i, (i * 13 + 5) % 60) for i in range(60) if i % 10 != 0]
    pairs = [(s, d) for s, d in pairs if s != d]
    for it in (1, 4):
        total = (pagerank(_edges(spark, pairs), n_iter=it)
                 .agg(F.sum("rank")).collect()[0][0])
        assert total == pytest.approx(1.0, abs=1e-9)
    a = sorted(
        (r["node"], round(r["rank"], 9))
        for r in pagerank(_edges(spark, pairs, n_parts=1), n_iter=3).collect()
    )
    b = sorted(
        (r["node"], round(r["rank"], 9))
        for r in pagerank(_edges(spark, pairs, n_parts=13), n_iter=3).collect()
    )
    assert a == b  # partition layout cannot leak into the result


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    n = 40
    pairs = sorted({(i, (i * 7 + 1) % n) for i in range(n) if i % 10 != 0}
                   | {(i, (i * 13 + 5) % n) for i in range(n) if i % 10 != 0})
    pairs = [(s, d) for s, d in pairs if s != d]
    nodes = sorted({s for s, _ in pairs} | {d for _, d in pairs})
    ix = {v: k for k, v in enumerate(nodes)}
    N = len(nodes)
    outdeg = {}
    for s, _ in pairs:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = np.full(N, 1.0 / N)
    for _ in range(5):
        dm = sum(r[ix[v]] for v in nodes if v not in outdeg)
        nxt = np.full(N, 0.15 / N + 0.85 * dm / N)
        for s, d in pairs:
            nxt[ix[d]] += 0.85 * r[ix[s]] / outdeg[s]
        r = nxt
    got = {row["node"]: row["rank"]
           for row in pagerank(_edges(spark, pairs), n_iter=5).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(r[ix[v]], rel=1e-9)


def _np_pagerank(pairs, n_iter, r0=None):
    import numpy as np

    nodes = sorted({s for s, _ in pairs} | {d for _, d in pairs})
    ix = {v: k for k, v in enumerate(nodes)}
    N = len(nodes)
    outdeg = {}
    for s, _ in pairs:
        outdeg[s] = outdeg.get(s, 0) + 1
    if r0 is None:
        r = np.full(N, 1.0 / N)
    else:
        r = np.array([r0.get(v, 1.0 / N) for v in nodes])
        r = r / r.sum()
    for _ in range(n_iter):
        dm = sum(r[ix[v]] for v in nodes if v not in outdeg)
        nxt = np.full(N, 0.15 / N + 0.85 * dm / N)
        for s, d in pairs:
            nxt[ix[d]] += 0.85 * r[ix[s]] / outdeg[s]
        r = nxt
    return {v: r[ix[v]] for v in nodes}


def test_pagerank_warm_start_semantics(spark):
    """init_ranks: known nodes start from given mass, unknown nodes at
    1/N, whole vector renormalized to 1.0 — matching the numpy mirror;
    duplicates sum; mass conserved per iteration."""
    pairs = [(s, d) for s, d in
             [(i, (i * 7 + 1) % 20) for i in range(20)] if s != d]
    init = {v: 1.0 + (v % 5) for v in range(0, 20, 2)}  # half the nodes
    want = _np_pagerank(pairs, 2, r0=init)
    init_df = spark.createDataFrame(
        [(v, r) for v, r in init.items()], "node long, rank double"
    )
    got = {r["node"]: r["rank"] for r in
           pagerank(_edges(spark, pairs), n_iter=2,
                    init_ranks=init_df).collect()}
    assert set(got) == set(want)
    for v, r in want.items():
        assert got[v] == pytest.approx(r, rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # duplicate init rows sum to the same mass as one combined row
    dup_df = spark.createDataFrame(
        [(v, r / 2) for v, r in init.items() for _ in range(2)],
        "node long, rank double",
    )
    got_dup = {r["node"]: r["rank"] for r in
               pagerank(_edges(spark, pairs), n_iter=2,
                        init_ranks=dup_df).collect()}
    for v, r in want.items():
        assert got_dup[v] == pytest.approx(r, rel=1e-9)


def test_pagerank_warm_start_converges_faster(spark):
    """The incremental-recrawl recipe: perturb a graph, warm-start from
    the old snapshot's converged ranks — after the same (small) number
    of rounds the warm vector is strictly closer to the new fixpoint
    than the cold uniform start."""
    n = 200
    old_pairs = sorted({(i, (i * 7 + 1) % n) for i in range(n) if i % 10}
                       | {(i, (i * 13 + 5) % n) for i in range(n) if i % 10})
    old_pairs = [(s, d) for s, d in old_pairs if s != d]
    # recrawl perturbation: 1-in-40 sources move one edge, one new node
    new_pairs = [(s, (d + 3) % n if s % 40 == 0 else d)
                 for s, d in old_pairs if s != ((d + 3) % n if s % 40 == 0 else d)]
    new_pairs.append((1, n))  # brand-new URL enters the graph
    old_ranks = _np_pagerank(old_pairs, 80)  # converged old snapshot
    ref = _np_pagerank(new_pairs, 80)        # new-graph fixpoint
    k = 2
    init_df = spark.createDataFrame(
        [(v, float(r)) for v, r in old_ranks.items()], "node long, rank double"
    )
    warm = {r["node"]: r["rank"] for r in
            pagerank(_edges(spark, new_pairs), n_iter=k,
                     init_ranks=init_df).collect()}
    cold = {r["node"]: r["rank"] for r in
            pagerank(_edges(spark, new_pairs), n_iter=k).collect()}
    l1_warm = sum(abs(warm[v] - ref[v]) for v in ref)
    l1_cold = sum(abs(cold[v] - ref[v]) for v in ref)
    assert l1_warm < l1_cold / 2  # warm start is decisively closer


def test_pagerank_warm_start_validation(spark):
    e = _edges(spark, FOUR)
    neg = spark.createDataFrame([(1, -0.5)], "node long, rank double")
    with pytest.raises(Exception, match="negative rank"):
        pagerank(e, init_ranks=neg).collect()
    zero = spark.createDataFrame([(99999, 0.0)], "node long, rank double")
    # node 99999 is outside the graph -> dropped; every graph node gets
    # the 1/N fallback, so total mass is positive and this succeeds
    out = pagerank(e, n_iter=1, init_ranks=zero)
    assert sum(r["rank"] for r in out.collect()) == pytest.approx(1.0)


def test_pagerank_checkpoint_path_same_result(spark):
    pairs = [(s, d) for s, d in
             [(i, (i * 7 + 1) % 30) for i in range(30)] if s != d]
    a = sorted((r["node"], round(r["rank"], 9)) for r in
               pagerank(_edges(spark, pairs), n_iter=4,
                        checkpoint_every=2).collect())
    b = sorted((r["node"], round(r["rank"], 9)) for r in
               pagerank(_edges(spark, pairs), n_iter=4,
                        checkpoint_every=100).collect())
    assert a == b


def test_pagerank_validation(spark):
    e = _edges(spark, FOUR)
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(e, n_iter=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.0)


def test_connected_components_stars_chain_and_bridge(spark):
    from slowspark.graph import connected_components

    # two stars {1,2,3} (hub 1) and {10,11,12} (hub 10), a chain
    # 20-21-22 (multi-hop propagation), and a bridge 3-10 merging the
    # stars into one component with min label 1
    edges = _edges(spark, [
        (2, 1), (3, 1), (11, 10), (12, 10),
        (21, 20), (22, 21),
        (3, 10),
    ])
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1,
                   20: 20, 21: 20, 22: 20}


def test_hits_one_iteration_hand_computed(spark):
    import math

    from slowspark.graph import hits

    # A->B, A->C, B->C: after one round,
    # auth = (0, 1/sqrt5, 2/sqrt5); hub = (3, 2, 0)/sqrt13
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(_edges(spark, [(1, 2), (1, 3), (2, 3)]),
                         n_iter=1).collect()}
    s5, s13 = math.sqrt(5), math.sqrt(13)
    assert got[1][0] == pytest.approx(3 / s13)
    assert got[2][0] == pytest.approx(2 / s13)
    assert got[3][0] == pytest.approx(0.0)
    assert got[1][1] == pytest.approx(0.0)
    assert got[2][1] == pytest.approx(1 / s5)
    assert got[3][1] == pytest.approx(2 / s5)


def test_hits_matches_numpy_power_iteration(spark):
    import numpy as np

    from slowspark.graph import hits

    n = 30
    pairs = sorted({(i, (i * 7 + 1) % n) for i in range(n) if i % 10 != 0}
                   | {(i, (i * 13 + 5) % n) for i in range(n) if i % 10 != 0})
    pairs = [(s, d) for s, d in pairs if s != d]
    nodes = sorted({s for s, _ in pairs} | {d for _, d in pairs})
    ix = {v: k for k, v in enumerate(nodes)}
    N = len(nodes)
    hub = np.ones(N)
    auth = np.ones(N)
    for _ in range(4):
        a = np.zeros(N)
        for s, d in pairs:
            a[ix[d]] += hub[ix[s]]
        auth = a / np.sqrt((a * a).sum())
        h = np.zeros(N)
        for s, d in pairs:
            h[ix[s]] += auth[ix[d]]
        hub = h / np.sqrt((h * h).sum())
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(_edges(spark, pairs), n_iter=4).collect()}
    for v in nodes:
        assert got[v][0] == pytest.approx(hub[ix[v]], rel=1e-9, abs=1e-12)
        assert got[v][1] == pytest.approx(auth[ix[v]], rel=1e-9, abs=1e-12)


def test_hits_validation(spark):
    from slowspark.graph import hits

    with pytest.raises(ValueError, match="n_iter"):
        hits(_edges(spark, FOUR), n_iter=0)


def test_html_to_edges_to_pagerank_composition(spark):
    """The round-trip the graph family exists for: crawled pages ->
    extract_links -> resolved edge table -> pagerank; the page every
    other page links to must rank first."""
    from slowspark.graph import pagerank
    from slowspark.weburl import extract_links

    def page(i, hrefs):
        body = "".join(f'<a href="{h}">l</a>' for h in hrefs)
        return (f"https://site.example/p/{i}",
                f"<html><body>{body}</body></html>".encode())

    # pages 1-4 all link to page 0 (absolute + root-relative mix);
    # page 0 links back to page 1 only
    rows = [page(0, ["/p/1"])]
    rows += [
        page(i, [f"https://site.example/p/0", "rel/ignored"])
        for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    edges = (
        extract_links(df)
        .filter(F.col("resolved_url").isNotNull())
        .select(F.col("url").alias("src"),
                F.col("resolved_url").alias("dst"))
    )
    assert edges.count() == 5  # 4 in-links to p/0 + p/0 -> p/1
    ranks = {r["node"]: r["rank"]
             for r in pagerank(edges, n_iter=5).collect()}
    top = max(ranks, key=ranks.get)
    assert top == "https://site.example/p/0"
    # string node ids work end-to-end (no silent numeric assumption)
    assert set(ranks) == {f"https://site.example/p/{i}" for i in range(5)}


def test_personalized_pagerank_hand_computed_and_mass(spark):
    # FOUR graph (A->B, A->C, B->C, C->D), seeds = {1}. r0 = 1/4 each;
    # dm = r(D) = 0.25; tele(1)=1, others 0.
    # r1(1) = 0.15*1 + 0.85*(0 + 0.25*1) = 0.3625
    # r1(2) = 0.85*0.125 = 0.10625 ; r1(3) = 0.85*0.375 = 0.31875
    # r1(4) = 0.85*0.25 = 0.2125 ; sum = 1.0
    from slowspark.graph import pagerank

    seeds = spark.createDataFrame([(1,)], "node long")
    r = {row["node"]: row["rank"]
         for row in pagerank(_edges(spark, FOUR), n_iter=1,
                             seeds=seeds).collect()}
    assert r[1] == pytest.approx(0.3625)
    assert r[2] == pytest.approx(0.10625)
    assert r[3] == pytest.approx(0.31875)
    assert r[4] == pytest.approx(0.2125)
    assert sum(r.values()) == pytest.approx(1.0)
    # multi-iteration mass conservation + spam isolation: node 4 (the
    # dangling sink) keeps rank, but a node unreachable from seeds and
    # linking only inward would decay — here everything reachable
    total = (pagerank(_edges(spark, FOUR), n_iter=4, seeds=seeds)
             .agg(F.sum("rank")).collect()[0][0])
    assert total == pytest.approx(1.0, abs=1e-9)


def test_personalized_pagerank_all_seeds_equals_uniform(spark):
    from slowspark.graph import pagerank

    pairs = [(s, d) for s, d in
             [(i, (i * 7 + 1) % 40) for i in range(40)] if s != d]
    e = _edges(spark, pairs)
    allseeds = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))).distinct()
    uni = {r["node"]: r["rank"] for r in pagerank(e, n_iter=3).collect()}
    per = {r["node"]: r["rank"]
           for r in pagerank(e, n_iter=3, seeds=allseeds).collect()}
    for v in uni:
        assert per[v] == pytest.approx(uni[v], rel=1e-12)


def test_personalized_pagerank_validation(spark):
    from slowspark.graph import pagerank

    ghost = spark.createDataFrame([(999,)], "node long")
    with pytest.raises(ValueError, match="seed"):
        pagerank(_edges(spark, FOUR), n_iter=1, seeds=ghost)


def test_weighted_pagerank_hand_and_unit_weight_differential(spark):
    from slowspark.graph import pagerank

    # weighted: A->B w=3, A->C w=1 splits A's rank 3:1; 1 iteration.
    # r0=1/3; dm=r(B)+r(C)=2/3 (both dangling); base=0.15/3=0.05
    # r1(B) = 0.05 + 0.85*((1/3)*(3/4) + (2/3)/3)
    # r1(C) = 0.05 + 0.85*((1/3)*(1/4) + (2/3)/3)
    we = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1)], "src long, dst long, w long"
    )
    r = {row["node"]: row["rank"]
         for row in pagerank(we, n_iter=1, weight_col="w").collect()}
    assert r[2] == pytest.approx(0.05 + 0.85 * (0.25 + 2 / 9))
    assert r[3] == pytest.approx(0.05 + 0.85 * (1 / 12 + 2 / 9))
    assert sum(r.values()) == pytest.approx(1.0)
    # all-ones weights == unweighted (differential)
    pairs = [(s, d) for s, d in
             [(i, (i * 7 + 1) % 30) for i in range(30)] if s != d]
    e = _edges(spark, pairs)
    ew = e.withColumn("w", F.lit(1).cast("long"))
    uni = {x["node"]: x["rank"] for x in pagerank(e, n_iter=3).collect()}
    wtd = {x["node"]: x["rank"]
           for x in pagerank(ew, n_iter=3, weight_col="w").collect()}
    for v in uni:
        assert wtd[v] == pytest.approx(uni[v], rel=1e-12)
    # non-positive weight raises inside the projection
    bad = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with pytest.raises(Exception, match="non-positive"):
        pagerank(bad, n_iter=1, weight_col="w")


def test_host_graph_collapses_and_drops_self(spark):
    from slowspark.graph import host_graph

    e = spark.createDataFrame(
        [
            ("https://a.ex/p1", "https://b.ex/x"),
            ("https://a.ex/p2", "https://b.ex/y"),   # same host pair
            ("https://a.ex/p3", "https://a.ex/p4"),  # intra-site -> dropped
            ("https://b.ex/q", "https://a.ex/p1"),
        ],
        "src string, dst string",
    )
    out = {(r["src"], r["dst"]): r["weight"]
           for r in host_graph(e).collect()}
    assert out == {("a.ex", "b.ex"): 2, ("b.ex", "a.ex"): 1}
    kept = host_graph(e, drop_self=False).count()
    assert kept == 3  # self edge kept when asked


def test_weighted_hits_hand_and_unit_weight_differential(spark):
    import math

    from slowspark.graph import hits

    # A->B w=3, A->C w=1, one iteration:
    # raw auth: B=3, C=1 -> norm sqrt(10); hub(A) = 3*a(B)+1*a(C)
    we = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1)], "src long, dst long, w long"
    )
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(we, n_iter=1, weight_col="w").collect()}
    s10 = math.sqrt(10)
    assert got[2][1] == pytest.approx(3 / s10)
    assert got[3][1] == pytest.approx(1 / s10)
    raw_hub_a = 3 * (3 / s10) + 1 * (1 / s10)
    assert got[1][0] == pytest.approx(raw_hub_a / abs(raw_hub_a))  # only hub
    # all-ones weights == unweighted
    pairs = [(s, d) for s, d in
             [(i, (i * 7 + 1) % 30) for i in range(30)] if s != d]
    e = _edges(spark, pairs)
    ew = e.withColumn("w", F.lit(1).cast("long"))
    uni = {x["node"]: (round(x["hub"], 9), round(x["authority"], 9))
           for x in hits(e, n_iter=3).collect()}
    wtd = {x["node"]: (round(x["hub"], 9), round(x["authority"], 9))
           for x in hits(ew, n_iter=3, weight_col="w").collect()}
    assert uni == wtd
    bad = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with pytest.raises(Exception, match="non-positive"):
        hits(bad, n_iter=1, weight_col="w")


# ---------------------------------------------------------------- LPA


def test_label_propagation_two_cliques(spark):
    from slowspark.graph import label_propagation

    # two triangles bridged by one edge: each triangle converges to ONE
    # label and the two labels differ (the bridge is never a majority
    # for either endpoint's neighborhood). Labels are community MARKERS,
    # not canonical members — the min tie-break can pull a cross-bridge
    # id in as the marker, which is standard LPA behavior.
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(3, 10)]
    out = {r["node"]: r["label"] for r in
           label_propagation(_edges(spark, tri1 + tri2 + bridge),
                             n_iter=4).collect()}
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]
    assert out[1] != out[10]


def test_label_propagation_hand_one_round(spark):
    from slowspark.graph import label_propagation

    # path 1-2-3: after ONE synchronous round every node takes the min
    # neighbor label on ties: 1's nbrs {2} -> 2; 2's nbrs {1,3} tie
    # count 1 each -> min = 1; 3's nbrs {2} -> 2
    out = {r["node"]: r["label"] for r in
           label_propagation(_edges(spark, [(1, 2), (2, 3)]),
                             n_iter=1).collect()}
    assert out == {1: 2, 2: 1, 3: 2}


def test_label_propagation_partition_invariance(spark):
    from slowspark.graph import label_propagation

    pairs = [(i, (i * 7 + 1) % 40) for i in range(80)]
    pairs = [(s, d) for s, d in pairs if s != d]
    a = sorted((r["node"], r["label"]) for r in
               label_propagation(_edges(spark, pairs, 1), n_iter=3).collect())
    b = sorted((r["node"], r["label"]) for r in
               label_propagation(_edges(spark, pairs, 13), n_iter=3).collect())
    assert a == b
    with pytest.raises(ValueError, match="n_iter"):
        label_propagation(_edges(spark, pairs), n_iter=0)


# ------------------------------------------------------- seed distance


def test_seed_distance_hand(spark):
    from slowspark.graph import seed_distance

    # 1->2->3->4, 5 isolated-from-seeds; seed {1}
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (5, 4)])
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["hops"] for r in
           seed_distance(e, seeds, max_hops=3).collect()}
    # 5 unreachable -> absent; 4 at 3 hops via the chain
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}
    # max_hops truncates
    out2 = {r["node"]: r["hops"] for r in
            seed_distance(e, seeds, max_hops=1).collect()}
    assert out2 == {1: 0, 2: 1}
    # seed outside the graph ignored; empty intersection -> empty
    ghost = spark.createDataFrame([(99,)], "node long")
    assert seed_distance(e, ghost, max_hops=2).count() == 0


def test_seed_distance_shortest_not_first(spark):
    from slowspark.graph import seed_distance

    # two paths to 4: 1->4 direct and 1->2->4; BFS keeps hops=1
    e = _edges(spark, [(1, 4), (1, 2), (2, 4)])
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["hops"] for r in
           seed_distance(e, seeds, max_hops=3).collect()}
    assert out[4] == 1


# ----------------------------------------------------------- spam mass


def test_spam_mass_farm_vs_trusted(spark):
    from slowspark.graph import spam_mass

    # trusted core 1<->2; spam farm 10<->11 isolated from the core.
    # The farm's rank is entirely unearned: ppr ~= 0 -> mass ~= 1.
    e = _edges(spark, [(1, 2), (2, 1), (10, 11), (11, 10)])
    seeds = spark.createDataFrame([(1,)], "node long")
    # farm rank decays as 0.85^k toward 0 (teleport never lands
    # there): 20 rounds puts its spam mass > 0.95
    out = {r["node"]: r for r in spam_mass(e, seeds, n_iter=20).collect()}
    assert out[10]["mass"] > 0.9 and out[11]["mass"] > 0.9
    assert out[1]["mass"] < 0.5
    # pr and ppr columns are genuine pageranks: both sum to ~1
    assert sum(r["pr"] for r in out.values()) == pytest.approx(1.0)
    assert sum(r["ppr"] for r in out.values()) == pytest.approx(1.0)


def test_spam_mass_fused_matches_two_pagerank_runs(spark):
    """The fused (node, pr, ppr) loop must reproduce two separate
    pagerank runs to float tolerance — the chains share shuffles, never
    arithmetic."""
    from slowspark.graph import pagerank, spam_mass

    pairs = [(s, d) for s, d in
             [(i, (i * 7 + 1) % 30) for i in range(30)]
             + [(i, (i * 13 + 5) % 30) for i in range(30)] if s != d]
    e = _edges(spark, pairs)
    seeds = spark.createDataFrame([(3,), (7,)], "node long")
    fused = {r["node"]: (r["pr"], r["ppr"])
             for r in spam_mass(e, seeds, n_iter=3).collect()}
    pr = {r["node"]: r["rank"] for r in pagerank(e, n_iter=3).collect()}
    ppr = {r["node"]: r["rank"]
           for r in pagerank(e, n_iter=3, seeds=seeds).collect()}
    assert set(fused) == set(pr)
    for v in fused:
        assert fused[v][0] == pytest.approx(pr[v], rel=1e-12)
        assert fused[v][1] == pytest.approx(ppr[v], rel=1e-12)
    with pytest.raises(ValueError, match="no seed"):
        spam_mass(e, spark.createDataFrame([(999,)], "node long"), n_iter=1)


def test_label_propagation_string_node_ids(spark):
    """ADVICE r8: the tie-break used to negate the LABEL (numeric-only);
    string/host graphs failed with CAST_INVALID_INPUT under ANSI mode.
    Now the count is negated instead — same (max count, min label)
    order, any orderable label type."""
    from slowspark.graph import label_propagation

    e = spark.createDataFrame(
        [("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "c.com"),
         ("d.com", "e.com")],
        "src string, dst string",
    )
    got = {r["node"]: r["label"]
           for r in label_propagation(e, n_iter=2).collect()}
    # triangle converges to its min label; the 2-node pair oscillates
    # synchronously (textbook bipartite behavior) — after an even round
    # count each keeps its own label
    assert got["a.com"] == "a.com" == got["b.com"] == got["c.com"]
    assert got["d.com"] == "d.com" and got["e.com"] == "e.com"


def test_driver_fastpath_matches_distributed(spark):
    """The size-gated driver fast path and the distributed loop are the
    same algorithm: exact equality for the integer/label operators,
    <=1e-9 relative for the float ones (summation order differs; every
    declared query rounds floats to 6dp). Pinned on a plain graph, on
    one with null endpoints (a null node never matches a key: never
    dangling, never reached, but it keeps its row in vertex listings)
    and on an empty edge list (empty typed frames; an empty seed
    intersection raises on both paths)."""
    from slowspark.graph import (
        hits, label_propagation, pagerank, seed_distance, spam_mass,
    )

    pairs = [(s, d) for s, d in
             [(i, (i * 7 + 1) % 40) for i in range(40)]
             + [(i, (i * 13 + 5) % 40) for i in range(40) if i % 9 != 0]
             if s != d]
    nulls = [(1, 2), (2, 3), (3, 1), (3, None), (None, 1), (4, None), (2, 4)]
    seeds = spark.createDataFrame([(3,), (7,), (11,)], "node long")
    init = spark.createDataFrame(
        [(i, 0.01 + (i % 5) * 0.002) for i in range(0, 40, 2)]
        + [(None, 0.05)],
        "node long, rank double",
    )

    def local(fast):
        # a driver-path result is a local relation: no Python-RDD scan
        plan = fast._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan

    def rows(fast, dist):
        local(fast)
        assert fast.dtypes == dist.dtypes
        assert {tuple(r) for r in fast.collect()} == {
            tuple(r) for r in dist.collect()}

    def close(fast, dist, nfloat):
        local(fast)
        assert fast.dtypes == dist.dtypes
        f = {r[0]: r[1:] for r in fast.collect()}
        g = {r[0]: r[1:] for r in dist.collect()}
        assert set(f) == set(g)
        for k in f:
            for a, b in zip(f[k][:nfloat], g[k][:nfloat]):
                assert a == pytest.approx(b, rel=1e-9, abs=1e-12)

    for graph in (pairs, nulls, []):
        e = _edges(spark, graph)
        close(pagerank(e, n_iter=3),
              pagerank(e, n_iter=3, driver_fastpath_edges=0), 1)
        close(pagerank(e, n_iter=3, init_ranks=init),
              pagerank(e, n_iter=3, init_ranks=init,
                       driver_fastpath_edges=0), 1)
        close(hits(e, n_iter=3),
              hits(e, n_iter=3, driver_fastpath_edges=0), 2)
        # integer/label operators: bit-identical row sets
        rows(label_propagation(e, n_iter=3),
             label_propagation(e, n_iter=3, driver_fastpath_edges=0))
        rows(seed_distance(e, seeds, max_hops=3),
             seed_distance(e, seeds, max_hops=3, driver_fastpath_edges=0))
        if not graph:
            for gate in ({}, {"driver_fastpath_edges": 0}):
                with pytest.raises(ValueError, match="no seed"):
                    pagerank(e, n_iter=3, seeds=seeds, **gate)
                with pytest.raises(ValueError, match="no seed"):
                    spam_mass(e, seeds, n_iter=3, **gate)
            continue
        close(pagerank(e, n_iter=3, seeds=seeds),
              pagerank(e, n_iter=3, seeds=seeds, driver_fastpath_edges=0), 1)
        close(spam_mass(e, seeds, n_iter=3),
              spam_mass(e, seeds, n_iter=3, driver_fastpath_edges=0), 3)

    # the null node keeps its HITS row, with no endorsement either way
    for gate in ({}, {"driver_fastpath_edges": 0}):
        h = {r["node"]: r for r in hits(_edges(spark, nulls), **gate).collect()}
        assert h[None]["hub"] == h[None]["authority"] == 0.0


def test_driver_fastpath_weighted_hits_and_hostlike_pagerank(spark):
    """Weighted variants through both paths, string node ids."""
    from slowspark.graph import hits, pagerank

    we = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
         ("c", "a", 1.0), ("d", "a", 5.0)],
        "src string, dst string, w double",
    )
    for fn, nfloat in ((lambda **kw: hits(we, n_iter=2, weight_col="w",
                                          **kw), 2),
                       (lambda **kw: pagerank(we, n_iter=2,
                                              weight_col="w", **kw), 1)):
        f = {r[0]: r[1:] for r in fn().collect()}
        g = {r[0]: r[1:] for r in fn(driver_fastpath_edges=0).collect()}
        assert set(f) == set(g)
        for k in f:
            for a, b in zip(f[k][:nfloat], g[k][:nfloat]):
                assert a == pytest.approx(b, rel=1e-9, abs=1e-12)
