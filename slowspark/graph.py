"""Link-graph operators over crawled pages: degree statistics,
dangling-aware PageRank and its relatives (personalized PageRank, spam
mass, HITS, label propagation, seed BFS) as iterative DataFrame joins.

A web corpus is a graph before it is a corpus: hyperlinks carry the
quality signal every crawl-curation stack uses upstream of text filters
(seed-list expansion, spam-farm demotion, crawl prioritization — the
original use case of Page et al. 1999). The reference pipeline has no
graph analog (its entries are independent log lines); these operators
follow the published formulation directly.

Design notes for 10^12-edge scale:

- Edges are the big table; vertices and degrees derive from it with one
  map-side-combined groupBy each. The out-degree table is joined to the
  edge list ONCE before iterating and persisted — the join inside the
  loop is then always `static edges+outdeg  x  current ranks` on the
  src key.
- Each PageRank iteration is exactly one shuffle pair: contributions
  groupBy(dst), then a left join of vertices to contributions. Ranks
  are persisted per iteration and the previous iteration unpersisted;
  every few iterations the rank table is localCheckpoint'ed so the
  lineage (and the risk of a cache-evicted recompute cascading through
  all prior iterations) stays bounded.
- Dangling mass (rank sitting on nodes with no out-links — deleted
  pages, PDFs, crawl frontier edges) is redistributed uniformly each
  iteration, per the standard formulation. It is ONE scalar: a 1-row
  collect per iteration (the repo's bounded-collect idiom), never a
  per-node broadcast join.
- Skew: a celebrity page with 10^8 in-links is a groupBy(dst) hot key —
  partial aggregation combines map-side, and AQE's skew-join handling
  covers the contribution join. No windows, no UDFs.

One contract, two backends:

- Size gate. Each iterative operator (pagerank, spam_mass, hits,
  label_propagation, seed_distance) probes its side tables (seeds, init
  ranks) and then its edge projection with limit(cap+1).collect(). When
  all of them fit under `driver_fastpath_edges` (default
  _DRIVER_FASTPATH_EDGES) the rounds run as plain-Python IEEE-double
  loops on the driver over the collected rows; otherwise the distributed
  loop runs, and the probe has read ~cap+1 rows, never the whole table.
  The fast-path result is a util.local_frame: it plans as a
  LocalRelation, so consuming it starts no Python worker. Differential
  tests pin both paths equal.
- Nulls. A null node never matches a key: it is never dangling, never a
  seed, never reached by BFS and never receives a link contribution, but
  it keeps its row in the vertex-listing outputs (pagerank, spam_mass,
  hits, label_propagation). This is what the distributed equi-joins do,
  and what the DuckDB oracles' NOT IN does.
- Empty edge list. pagerank, hits, label_propagation and seed_distance
  return an empty typed frame; an empty seed intersection (always the
  case on an empty graph) raises for pagerank(seeds=...) and spam_mass.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from slowspark.util import local_frame

# The size gate (see the module docstring): a graph that fits runs its
# rounds on the driver instead of paying ~2 scheduled jobs per round on
# a table that fits in one task. The probe never counts the big table
# (CollectLimit short-circuits after cap+1 rows, ~one split scan), so
# the 10^12-edge path is unchanged; 200k edges of URL-sized strings
# collect to ~40 MB, well inside default driver limits. Same
# scale-adaptive idiom as textops.connected_min_labels' size-gated
# union-find finish.
_DRIVER_FASTPATH_EDGES = 200_000


def _probe_small(df: DataFrame, cap: int):
    """limit(cap+1).collect() probe: the full row list when df has at
    most cap rows, else None (at which point ~cap+1 rows were scanned,
    not the whole table). Not toArrow(): an Arrow collect of a limit runs
    the limit on every partition and shuffles the results, so on a big
    table it would read up to cap+1 rows per split."""
    if cap <= 0:
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def _probe_graph(cap: int, edges: DataFrame, *side):
    """The shared fast-path gate: (edge_rows, *side_rows) when the edge
    projection and every side table (None passes through as None) come
    back from _probe_small, else None. The side tables go FIRST, so an
    oversized seed or init table falls through to the distributed path
    without pulling cap+1 edge rows to the driver."""
    side_rows = []
    for t in side:
        rows = None if t is None else _probe_small(t, cap)
        if t is not None and rows is None:
            return None
        side_rows.append(rows)
    rows = _probe_small(edges, cap)
    return None if rows is None else (rows, *side_rows)


def _load_graph(rows, a: str, b: str, weighted: bool = False):
    """The driver-side graph of a fast path, built from probed edge rows
    under the module's null rule: `nodes` holds every endpoint in
    first-seen order (a null one too — it keeps its output row);
    `edges` holds the (s, t, w) triples whose endpoints are both
    non-null, the only ones an update can traverse; `out_w` maps each
    non-null source to its out-weight over ALL its edges (an edge into
    a null node still dilutes its source, as the distributed out-degree
    groupBy counts it). w is the float weight, or the int 1 when
    unweighted, so rank * w / out_w is exactly rank / outdeg."""
    nodes: dict = {}
    edges = []
    out_w: dict = {}
    for r in rows:
        s, t = r[a], r[b]
        w = float(r["__w"]) if weighted else 1
        nodes.setdefault(s)
        nodes.setdefault(t)
        if s is not None:
            out_w[s] = out_w.get(s, 0) + w
            if t is not None:
                edges.append((s, t, w))
    return nodes, edges, out_w


def _frame(e0: DataFrame, a: str, b: str, cols, rows) -> DataFrame:
    """The typed result frame of a driver fast path (or of an empty
    graph): `node` of the dtype the distributed path's vertex union
    carries (schema-only — no job), then `cols` as (name, dtype) pairs,
    where a None dtype means the node dtype. It is a util.local_frame,
    so consuming it starts no Python worker."""
    node_t = (
        e0.select(F.col(a).alias("node"))
        .union(e0.select(F.col(b).alias("node")))
        .schema["node"]
        .dataType
    )
    schema = StructType(
        [StructField("node", node_t, True)]
        + [StructField(c, node_t if t is None else t, True) for c, t in cols]
    )
    return local_frame(e0.sparkSession, rows, schema)


def _checked_weight(who: str, weight_col: str):
    """The edge weight with the positivity guard fused into the
    projection (raise_error CASE — no extra scan); the fast-path probe
    collect raises on a bad weight exactly like the distributed
    actions."""
    return F.when(
        F.col(weight_col) <= 0,
        F.raise_error(F.lit(
            f"{who}: non-positive {weight_col} — a weighted edge must "
            f"carry positive endorsement"
        )),
    ).otherwise(F.col(weight_col))


def _no_seed(who: str) -> ValueError:
    return ValueError(
        f"{who}: no seed appears in the graph — personalized teleport "
        f"has nowhere to land"
    )


def _pagerank_driver(
    g, chains, n_iter: int, damping: float, seed_rows, init_rows, who: str
):
    """The pagerank rounds as plain-Python IEEE-double loops over a
    _load_graph graph, one independent rank vector per chain (see
    _pagerank_core) — update expressions mirror the distributed path's
    exactly (contrib = rank*w/out_w, uniform or seeded teleport, dangling
    mass as one scalar per round); summation order differs, which the
    6dp query contract absorbs (differential-pinned against the
    distributed path). Returns one {node: rank} dict per chain, or None
    for an empty graph."""
    nodes, edges, out_w = g
    n = len(nodes)
    seed_tele = None
    if any(seeded for _, seeded in chains):
        inter = {
            r["node"]
            for r in seed_rows
            if r["node"] is not None and r["node"] in nodes
        }
        if not inter:
            raise _no_seed(who)
        seed_tele = {
            v: (1.0 / len(inter) if v in inter else 0.0) for v in nodes
        }
    if n == 0:
        return None
    if init_rows is not None:
        ir: dict = {}
        for r in init_rows:
            v = r["__r0"]
            if v is not None and r["node"] is not None:
                ir[r["node"]] = ir.get(r["node"], 0.0) + v
        fill = 1.0 / float(n)
        r0 = {v: ir.get(v, fill) for v in nodes}
        tot = sum(r0.values())
        if not tot > 0:
            raise ValueError(
                "pagerank: init_ranks total mass must be positive"
            )
        r0 = {v: r0[v] / float(tot) for v in nodes}
    else:
        r0 = dict.fromkeys(nodes, 1.0 / float(n))
    dangling = [v for v in nodes if v is not None and v not in out_w]
    base = (1.0 - damping) / float(n)

    def rounds(tele):
        ranks = r0
        dm = sum((ranks[v] for v in dangling), 0.0)
        for _ in range(n_iter):
            contrib: dict = {}
            for s, t, w in edges:
                contrib[t] = contrib.get(t, 0.0) + ranks[s] * w / out_w[s]
            if tele is not None:
                ranks = {
                    v: (1.0 - damping) * tele[v]
                    + damping * (contrib.get(v, 0.0) + dm * tele[v])
                    for v in nodes
                }
            else:
                ranks = {
                    v: base
                    + damping * (contrib.get(v, 0.0) + dm / float(n))
                    for v in nodes
                }
            dm = sum((ranks[v] for v in dangling), 0.0)
        return ranks

    return [rounds(seed_tele if seeded else None) for _, seeded in chains]


def _hits_driver(g, n_iter: int):
    """The HITS rounds on the driver — same unnormalized-accumulate /
    one-norm-pair-per-round math as the distributed loop. Returns the
    (node, hub, authority) rows."""
    nodes, edges, _ = g
    hub = dict.fromkeys(nodes, 1.0)
    for _ in range(n_iter):
        a_u: dict = {}
        for s, t, w in edges:
            a_u[t] = a_u.get(t, 0.0) + w * hub[s]
        auth_u = {v: a_u.get(v, 0.0) for v in nodes}
        h_u: dict = {}
        for s, t, w in edges:
            h_u[s] = h_u.get(s, 0.0) + w * auth_u[t]
        hub_u = {v: h_u.get(v, 0.0) for v in nodes}
        an = math.sqrt(sum(x * x for x in auth_u.values())) or 1.0
        hn = math.sqrt(sum(x * x for x in hub_u.values())) or 1.0
        auth = {v: auth_u[v] / an for v in nodes}
        hub = {v: hub_u[v] / hn for v in nodes}
    return [(v, hub[v], auth[v]) for v in nodes]


def _lpa_driver(g, n_iter: int):
    """The synchronous label-propagation rounds on the driver — integer
    counts and the (max count, min label) tie order are exact, so both
    paths are bit-identical. Returns the (node, label) rows."""
    nodes, edges, _ = g
    und = set()
    for a, b, _ in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    labels = {v: v for v in nodes}
    for _ in range(n_iter):
        cnt: dict = {}
        for v, nb in und:
            k = (v, labels[nb])
            cnt[k] = cnt.get(k, 0) + 1
        best: dict = {}
        for (v, lab), c in cnt.items():
            cand = (-c, lab)
            cur = best.get(v)
            if cur is None or cand < cur:
                best[v] = cand
        labels = {
            v: (best[v][1] if v in best else labels[v]) for v in nodes
        }
    return [(v, labels[v]) for v in nodes]


def _bfs_driver(g, seed_rows, max_hops: int):
    """Frontier BFS on the driver — hop distances are integer-exact.
    Returns the (node, hops) rows of the reached nodes."""
    nodes, edges, _ = g
    adj: dict = {}
    for s, t, _ in edges:
        adj.setdefault(s, set()).add(t)
    visited = {
        r["node"]: 0
        for r in seed_rows
        if r["node"] is not None and r["node"] in nodes
    }
    frontier = set(visited)
    for h in range(1, max_hops + 1):
        frontier = {
            t for s in frontier for t in adj.get(s, ()) if t not in visited
        }
        if not frontier:
            break
        visited.update(dict.fromkeys(frontier, h))
    return list(visited.items())


def degrees(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node out/in degree over an edge list: (node, out_deg,
    in_deg), zero-filled — a node appears if it occurs on either side
    of any edge. The first question asked of any crawl graph (hub/spam
    detection thresholds, dangling share, frontier size).

    Scale shape: two map-side-combined groupBys (one per endpoint) and
    one full outer join on the node key — each output row is O(1) state
    regardless of how hot the node is."""
    out_d = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_d = edges.groupBy(F.col(dst_col).alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    return out_d.join(in_d, "node", "full_outer").fillna(
        0, ["out_deg", "in_deg"]
    )


def host_graph(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    drop_self: bool = True,
) -> DataFrame:
    """Collapse a page-level URL edge list to the HOST graph: one row
    per (src host, dst host) with `weight` = the number of page links
    between them — the standard two-level trick that makes crawl-scale
    ranking affordable (10^12 page edges become ~10^8 weighted host
    edges; rank hosts first, spend page-level effort only inside hosts
    that matter). Self-host edges (intra-site navigation, usually >90%
    of all links) are dropped by default — they carry no cross-site
    endorsement.

    Scale shape: one map-side-combined groupBy over codegen'd host
    extraction; output cardinality is the distinct host-pair count."""
    from slowspark.weburl import host_expr

    pairs = edges.select(
        host_expr(src_col).alias("src"), host_expr(dst_col).alias("dst")
    )
    if drop_self:
        pairs = pairs.filter(F.col("src") != F.col("dst"))
    return pairs.groupBy("src", "dst").agg(F.count("*").alias("weight"))


def hits(
    edges: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    driver_fastpath_edges: int = _DRIVER_FASTPATH_EDGES,
) -> DataFrame:
    """HITS (Kleinberg 1999) hubs-and-authorities over an edge list, as
    n_iter rounds of DataFrame joins: per iteration

        auth(v) = sum_{u->v} hub(u)      then L2-normalized
        hub(u)  = sum_{u->v} auth(v)     then L2-normalized

    With `weight_col` (e.g. host_graph's page counts) the sums are
    weighted — auth(v) = sum w(u,v)*hub(u), hub(u) = sum
    w(u,v)*auth(v) — the standard weighted-HITS variant; non-positive
    weights raise in-projection (the pagerank guard), all-ones weights
    equal the unweighted run (pinned differential).

    (the standard update order: authorities from CURRENT hubs, hubs
    from the JUST-UPDATED authorities). Returns (node, hub, authority)
    for every node in the edge list; nodes with no out-edges get hub 0
    after the first round, no in-edges get authority 0 — link farms
    split from genuinely-cited pages, which is the curation use
    (PageRank's one score conflates "links to good pages" with "is
    cited"; HITS separates them).

    Scale shape: the edge list is cached TWICE, hash-partitioned on
    each join key (src for the authority step, dst for the hub step) —
    two shuffles paid once so that no iteration ever re-exchanges the
    10^12-edge table; per iteration only the (vertex-sized) score table
    shuffles into each join, plus the two per-direction groupBys. Both
    half-steps run inside ONE norm action per round: normalization is
    by a scalar, so it commutes with the weighted sums — hubs are
    accumulated from UN-normalized authorities and both L2 norms are
    collected in a single 1-row agg (hub/‖hub_u‖ equals the
    normalize-each-half-step value in exact arithmetic; the 6dp query
    contract absorbs the ulp-level reassociation). The unnormalized
    mid table is persisted so the hub aggregate and the join-back read
    one computation of the authority step; scores are checkpointed per
    round (the lineage cut is load-bearing — see OPTIMIZATION_r09.md's
    measured rejection) and the previous round's caches dropped."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    src = F.col(src_col)
    dst = F.col(dst_col)
    if weight_col is not None:
        base_e = edges.select(
            src.alias("__s"),
            dst.alias("__d"),
            _checked_weight("hits", weight_col).alias("__w"),
        )
    else:
        base_e = edges.select(src.alias("__s"), dst.alias("__d"))
    # the upstream edge subtree (often an expensive extraction/collapse,
    # e.g. host_graph over a page-edge self-join) is computed ONCE into
    # this cache; the two per-direction repartitioned copies and the
    # vertex table all derive from it instead of each re-running the
    # upstream (r9: that recompute was 2-3x the whole query cost for
    # host_hits). Dropped after round 0, when every derived cache holds
    # blocks.
    base_e0 = base_e.persist()
    # scale-adaptive fast path (see _DRIVER_FASTPATH_EDGES): the weight
    # guard rides the projection, so the probe collect raises on a
    # non-positive weight exactly like the distributed actions would
    probed = _probe_graph(driver_fastpath_edges, base_e0)
    if probed is not None:
        try:
            g = _load_graph(probed[0], "__s", "__d", weight_col is not None)
            return _frame(
                base_e0, "__s", "__d",
                [("hub", DoubleType()), ("authority", DoubleType())],
                _hits_driver(g, n_iter),
            )
        finally:
            base_e0.unpersist()
    # one partitioned cached copy per join direction: the per-iteration
    # joins then reuse the cache's hash partitioning instead of
    # re-shuffling the edge table every round (plan-pinned)
    e = base_e0.repartition("__s").persist()
    e_by_d = base_e0.repartition("__d").persist()
    vertices = (
        base_e0.select(F.col("__s").alias("node"))
        .union(base_e0.select(F.col("__d").alias("node")))
        .distinct()
        .persist()
    )
    vertices.count()
    # round-0 scores are a constant projection over the cached vertex
    # table — nothing to persist (rounds >= 1 return checkpointed data)
    scores = vertices.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    )

    for it in range(n_iter):
        prev = scores
        # authorities from current hubs (UN-normalized: the scalar L2
        # division is deferred — it distributes over the hub sums, so
        # hub_u / ||hub_u|| equals the normalize-then-sum value)
        a_expr = (
            F.col("__w") * F.col("hub")
            if weight_col is not None
            else F.col("hub")
        )
        a = (
            e.join(prev.select(F.col("node").alias("__s"), "hub"), "__s")
            .groupBy("__d")
            .agg(F.sum(a_expr).alias("__a"))
        )
        # prev's node set IS the vertex set (round 0 is a projection of
        # vertices; later rounds are join-backs over it), so the score
        # carrier joins a/h directly — no vertices join-back needed
        p = prev.select("node")
        mid_u = (
            p.join(a, p["node"] == a["__d"], "left")
            .select(
                "node",
                F.coalesce(F.col("__a"), F.lit(0.0)).alias("authority"),
            )
        )
        # persisted WITHOUT an action: the hub aggregate below and the
        # final join-back are its two consumers inside the round's one
        # job — the cache bounds any scheduler-concurrency recompute of
        # the authority step to the first-touch race window
        mid_u.persist()
        # hubs from the just-updated (unnormalized) authorities
        # (dst-partitioned edge copy)
        h_expr = (
            F.col("__w") * F.col("authority")
            if weight_col is not None
            else F.col("authority")
        )
        h = (
            e_by_d.join(
                mid_u.select(F.col("node").alias("__d"), "authority"),
                "__d",
            )
            .groupBy("__s")
            .agg(F.sum(h_expr).alias("__h"))
        )
        nxt_u = (
            mid_u.join(h, mid_u["node"] == h["__s"], "left")
            .select(
                mid_u["node"],
                F.coalesce(F.col("__h"), F.lit(0.0)).alias("hub"),
                "authority",
            )
        )
        nxt_u.persist()
        # both L2 norms in a single 1-row collect (doubles as the
        # cache-materializing action): with the eager checkpoint below
        # the round costs 2 driver jobs where the normalize-each-half-
        # step shape (auth-norm collect, hub-norm collect, checkpoint)
        # paid 3
        row = nxt_u.agg(
            F.sqrt(F.sum(F.col("authority") * F.col("authority"))).alias(
                "an"
            ),
            F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("hn"),
        ).collect()[0]
        an = float(row["an"]) if row["an"] else 1.0
        # ||hub_u|| where hub_u = sum w*auth_u: dividing by it yields
        # exactly hub_u/||hub_u||, the same value the per-half-step
        # normalization produces (hn there = ||hub_u||/an and the hub
        # entering it was hub_u/an)
        hn = float(row["hn"]) if row["hn"] else 1.0
        scores = nxt_u.select(
            "node",
            (F.col("hub") / F.lit(hn)).alias("hub"),
            (F.col("authority") / F.lit(an)).alias("authority"),
        ).localCheckpoint(eager=True)
        # checkpoint cut the lineage: the round's caches can go
        if it > 0:
            prev.unpersist()
        mid_u.unpersist()
        nxt_u.unpersist()
        if it == 0:
            # every derived cache (e and e_by_d during the round's
            # action, vertices at setup) now holds blocks — the
            # upstream cache has served its purpose
            base_e0.unpersist()

    e.unpersist()
    e_by_d.unpersist()
    vertices.unpersist()
    return scores


def connected_components(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Connected components over an (undirected-interpreted) edge list:
    (node, component) where component = the component's minimum node id.
    The graph face of the engine's dedup-cluster primitive
    (textops.connected_min_labels): one distributed contraction pass
    collapses each near-clique to a star, the size-gated residual is
    finished exactly on the driver (or the Shiloach-Vishkin
    hook+pointer-jump loop runs to fixpoint when the contracted graph
    is still too big to collect) — see that docstring for the measured
    scale/memory envelope."""
    from slowspark.textops import connected_min_labels

    pairs = edges.select(
        F.col(src_col).alias("id_a"), F.col(dst_col).alias("id_b")
    )
    return connected_min_labels(pairs).select(
        F.col("id").alias("node"), F.col("label").alias("component")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 8,
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
    driver_fastpath_edges: int = _DRIVER_FASTPATH_EDGES,
) -> DataFrame:
    """PageRank (Page et al. 1999) with uniform dangling-mass
    redistribution, as n_iter rounds of DataFrame joins:

        rank'(v) = (1-d)/N  +  d * ( sum_{u->v} rank(u)/outdeg(u)
                                      +  dangling_mass / N )

    where dangling_mass is the total rank on nodes with no out-edges.
    Total rank is conserved at 1.0 every iteration (pinned in tests).
    Returns (node, rank) for every node that appears in the edge list.

    n_iter is a fixed iteration count, not a convergence test — the
    batch-pipeline formulation (a convergence check would be one extra
    agg per iteration; at crawl scale fixed 10-20 rounds is standard
    practice and keeps the run deterministic).

    With `seeds` (a one-column `node` DataFrame) this is PERSONALIZED
    PageRank: the teleport mass (1-d) and the dangling mass land
    uniformly on the seed set instead of on all nodes —

        rank'(v) = (1-d)*tele(v) + d*(contrib(v) + dm*tele(v)),
        tele(v) = 1/|S ∩ V| for seed nodes, else 0

    — the trusted-seed quality-propagation recipe (score every crawled
    page by its link proximity to a vetted seed list; pages only
    reachable from spam farms receive ~nothing). Seeds outside the
    graph are ignored; an empty intersection raises. Total rank mass
    stays 1.0 per iteration, seeded or not. The seed table is joined
    ONCE into the persisted vertex table (a broadcast-sized list or a
    full table both work) — per-iteration cost is identical to the
    uniform case.

    With `weight_col` the edges are WEIGHTED (e.g. host_graph's page
    counts): contributions become rank * w / sum-of-out-weights. A
    non-positive weight raises inside the projection (raise_error CASE,
    the repo's fused-validation idiom — no extra scan); weighted and
    unweighted agree when every weight is 1 (pinned differential).

    With `init_ranks` (a (node, rank) DataFrame — typically the PREVIOUS
    snapshot's pagerank output) iteration starts from those ranks instead
    of uniform 1/N: the incremental-recrawl warm start. Compose with
    weburl.crawl_delta — re-extract edges for new+changed pages only,
    then re-rank the merged edge set from the old ranks; a perturbed
    graph re-converges in a fraction of the cold-start iterations
    (pinned by a convergence-delta test). Nodes absent from init_ranks
    (new URLs) start at 1/N; init nodes no longer in the graph are
    dropped; the vector is then renormalized to total mass 1.0, so the
    per-iteration conservation invariant holds from round 0. Duplicate
    init nodes are summed (one bounded groupBy over the init table);
    a negative rank raises inside the projection (fused raise_error,
    no extra scan); non-positive total mass raises.

    Scale shape: see module docstring — one shuffle pair per iteration
    over a persisted edges+outdeg table, a 1-row dangling-mass collect,
    rank lineage truncated by localCheckpoint every checkpoint_every
    iterations. The warm start adds ONE outer join + ONE scalar agg
    before round 0; every iteration after that is identical.

    ``driver_fastpath_edges``: graphs whose full edge list (and seed /
    init tables, when given) come back from a limit probe run the
    rounds on the driver with identical update expressions — see
    _DRIVER_FASTPATH_EDGES. 0 disables (always distributed).
    """
    return _pagerank_core(
        edges, (("rank", seeds is not None),), n_iter, damping, src_col,
        dst_col, checkpoint_every, seeds, weight_col, init_ranks,
        driver_fastpath_edges, "pagerank",
    )


def _pagerank_core(
    edges: DataFrame,
    chains,
    n_iter: int,
    damping: float,
    src_col: str,
    dst_col: str,
    checkpoint_every: int,
    seeds: DataFrame | None,
    weight_col: str | None,
    init_ranks: DataFrame | None,
    driver_fastpath_edges: int,
    who: str,
) -> DataFrame:
    """The one PageRank round loop behind pagerank and spam_mass, on
    both backends: k rank chains over one graph, given as (name, seeded)
    pairs — each chain is its own double column `name` with a uniform
    (seeded False) or seed-personalized teleport. Returns
    (node, *names). The chains never mix arithmetic (each runs
    pagerank's exact IEEE update expressions); they share every scan
    and shuffle — per round ONE edges⋈ranks join with a k-column
    contribution aggregate, ONE dangling-mass collect carrying k sums,
    ONE vertex join-back — so k chains cost one chain's jobs."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    names = [c for c, _ in chains]
    rank_cols = [(c, DoubleType()) for c in names]
    src = F.col(src_col)
    dst = F.col(dst_col)
    # ONE pass over the (possibly expensive) upstream edge subtree:
    # vertices, out-degrees, the annotated edge table and the dangling
    # set all derive from this cache (r9: each previously recomputed
    # the upstream — 4-5x the edge-build cost for the host_* queries).
    # Dropped after round 0, when every derived cache holds blocks.
    if weight_col is not None:
        e0 = edges.select(
            src_col, dst_col, _checked_weight(who, weight_col).alias("__w")
        ).persist()
    else:
        e0 = edges.select(src_col, dst_col).persist()
    seed_set = None if seeds is None else seeds.select("node").distinct()
    init_t = None
    if init_ranks is not None:
        checked = F.when(
            F.col("rank") < 0,
            F.raise_error(F.lit(
                "pagerank: negative rank in init_ranks — a warm start "
                "must begin from a valid rank vector"
            )),
        ).otherwise(F.col("rank").cast("double"))
        init_t = init_ranks.select("node", checked.alias("__r0"))
    # scale-adaptive fast path: if the whole graph (and the seed / init
    # side tables) fits under the probe cap, iterate on the driver —
    # same update expressions, no per-round jobs
    probed = _probe_graph(driver_fastpath_edges, e0, seed_set, init_t)
    if probed is not None:
        rows, seed_rows, init_rows = probed
        try:
            g = _load_graph(rows, src_col, dst_col, weight_col is not None)
            ranks = _pagerank_driver(
                g, chains, n_iter, damping, seed_rows, init_rows, who
            )
            out = [(v, *(r[v] for r in ranks)) for v in g[0]] if ranks else []
            return _frame(e0, src_col, dst_col, rank_cols, out)
        finally:
            e0.unpersist()

    vertices = (
        e0.select(src.alias("node"))
        .union(e0.select(dst.alias("node")))
        .distinct()
        .persist()
    )
    n = vertices.count()  # bounded: one scalar (also fills e0's cache)

    if weight_col is not None:
        out_deg = e0.groupBy(src_col).agg(F.sum("__w").alias("__od"))
    else:
        out_deg = e0.groupBy(src_col).agg(F.count("*").alias("__od"))
    # static across iterations: every edge annotated with its
    # source's out-degree (or out-weight); the per-iteration join
    # touches only this + ranks
    edges_w = e0.join(out_deg, src_col).persist()
    # dangling node set is static too (no out-edges at all)
    dangling = vertices.join(
        e0.select(src.alias("node")).distinct(), "node", "left_anti"
    ).persist()
    # unpersisted on the way out, whichever way that is (e0 already
    # after round 0)
    held = [e0, vertices, edges_w, dangling]
    try:
        d = F.lit(damping)
        vertices_t = vertices
        if seed_set is not None:
            tele_v = vertices.join(seed_set, "node", "left_semi").persist()
            ns = tele_v.count()
            if ns == 0:
                tele_v.unpersist()
                raise _no_seed(who)
            # one static join: the teleport column rides the vertex table
            vertices_t = vertices.join(
                tele_v.withColumn("__is_seed", F.lit(True)), "node", "left"
            ).select(
                "node",
                F.when(F.col("__is_seed"), F.lit(1.0 / ns))
                .otherwise(F.lit(0.0)).alias("__tele"),
            ).persist()
            held.append(vertices_t)
            vertices_t.count()
            tele_v.unpersist()
        if n == 0:
            return _frame(e0, src_col, dst_col, rank_cols, [])
        base = (F.lit(1.0) - d) / F.lit(float(n))
        if init_t is not None:
            ir = init_t.groupBy("node").agg(F.sum("__r0").alias("__r0"))
            r0 = (
                vertices.join(ir, "node", "left")
                .select(
                    "node",
                    F.coalesce(
                        F.col("__r0"), F.lit(1.0) / F.lit(float(n))
                    ).alias("rank"),
                )
                .persist()
            )
            held.append(r0)
            tot = r0.agg(F.sum("rank").alias("t")).collect()[0]["t"]
            if tot is None or not tot > 0:
                raise ValueError(
                    "pagerank: init_ranks total mass must be positive"
                )
            ranks = r0.select("node", *(
                (F.col("rank") / F.lit(float(tot))).alias(c) for c in names
            ))
        else:
            ranks = vertices.select("node", *(
                (F.lit(1.0) / F.lit(float(n))).alias(c) for c in names
            ))
        ranks.persist()

        def _dangling_mass(r: DataFrame):
            # the k scalars per round in one collect; doubles as the
            # cache-materializing action for a freshly persisted rank
            # table (r9: a separate persist().count() + this collect was
            # two jobs per round)
            return (
                r.join(dangling, "node", "left_semi")
                .agg(*(
                    F.coalesce(F.sum(c), F.lit(0.0)).alias(c) for c in names
                ))
                .collect()[0]
            )

        def _update(c: str, seeded: bool, dm: float):
            got = F.coalesce(F.col(f"__c_{c}"), F.lit(0.0))
            if seeded:
                tele = F.col("__tele")
                return (F.lit(1.0) - d) * tele + d * (got + F.lit(dm) * tele)
            return base + d * (got + F.lit(dm) / F.lit(float(n)))

        dm = _dangling_mass(ranks)
        if init_t is not None:
            r0.unpersist()
        for i in range(n_iter):
            contrib = (
                edges_w.join(ranks, edges_w[src_col] == ranks["node"])
                .groupBy(dst_col)
                .agg(*(
                    F.sum(
                        F.col(c) * F.col("__w") / F.col("__od")
                        if weight_col is not None
                        else F.col(c) / F.col("__od")
                    ).alias(f"__c_{c}")
                    for c in names
                ))
            )
            # join the STATIC vertex table, never `ranks` itself: contrib
            # already contains ranks' lineage, and ranks⋈contrib would put
            # it in the plan twice per round — exponential growth by the
            # first checkpoint (observed as an analysis-time heap OOM)
            new_ranks = vertices_t.join(
                contrib, vertices_t["node"] == contrib[dst_col], "left"
            ).select("node", *(
                _update(c, seeded, float(dm[c])).alias(c)
                for c, seeded in chains
            ))
            if (i + 1) % checkpoint_every == 0:
                new_ranks = new_ranks.localCheckpoint(eager=True)
                if i + 1 < n_iter:
                    dm = _dangling_mass(new_ranks)
            else:
                # persist + next round's dangling-mass collect in ONE job
                # (the agg materializes the fresh cache); the final round
                # still needs the action so the returned table is backed
                # by blocks before its parents are unpersisted
                new_ranks.persist()
                dm = _dangling_mass(new_ranks)
            ranks.unpersist()
            ranks = new_ranks
            if i == 0:
                # edges_w (during contrib), dangling (during the dm agg)
                # and vertices (at setup) all hold blocks now — drop the
                # upstream edge cache
                e0.unpersist()
        return ranks
    finally:
        for t in held:
            t.unpersist()


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 8,
    driver_fastpath_edges: int = _DRIVER_FASTPATH_EDGES,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made deterministic: labels start as the node id; each
    round every node adopts the most frequent label among its
    (undirected) neighbors, ties broken by the SMALLEST label; an
    isolated node keeps its own label. Returns (node, label) after
    exactly n_iter rounds.

    Communities are the mid-resolution grouping between connected
    components (too coarse: the web is one giant component) and host
    clustering (too literal): link farms, mirror clusters, and topic
    neighborhoods surface as labels after a handful of rounds — the
    standard cheap community pass over a crawl graph.

    Determinism: the textbook algorithm is order-dependent
    (asynchronous updates, random tie-breaks). This one is synchronous
    (round k+1 reads only round k) with a total tie order
    (max count, then min label), so output is independent of
    partitioning and reproducible in a second engine — same contract as
    the rest of this module.

    Scale shape: the undirected neighbor list (both edge directions,
    deduped) is built once and persisted; each round is one shuffle
    pair — join labels on neighbor + groupBy(node, label) count — then
    a max-struct keeper (no window: the per-node argmax folds inside
    the same aggregation). Lineage is cut every checkpoint_every rounds
    like pagerank's."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    src = F.col(src_col)
    dst = F.col(dst_col)
    # one pass over the upstream edge subtree (see pagerank): the
    # undirected neighbor list and the vertex table both derive from
    # this cache instead of each recomputing the upstream
    e0 = edges.select(src.alias("node"), dst.alias("nbr")).persist()
    # scale-adaptive fast path (see _DRIVER_FASTPATH_EDGES): integer
    # counts + the deterministic tie order make both paths bit-identical
    probed = _probe_graph(driver_fastpath_edges, e0)
    if probed is not None:
        try:
            g = _load_graph(probed[0], "node", "nbr")
            return _frame(
                e0, "node", "nbr", [("label", None)], _lpa_driver(g, n_iter)
            )
        finally:
            e0.unpersist()
    und = (
        e0.union(e0.select(F.col("nbr").alias("node"),
                           F.col("node").alias("nbr")))
        .filter(F.col("node") != F.col("nbr"))
        .distinct()
        .persist()
    )
    # vertices only seeds the label table (which is itself persisted) —
    # no cache of its own needed
    vertices = (
        e0.select("node")
        .union(e0.select(F.col("nbr").alias("node")))
        .distinct()
    )
    labels = vertices.withColumn("label", F.col("node"))
    labels.persist().count()
    for i in range(n_iter):
        nbr_labels = und.join(
            labels.select(
                F.col("node").alias("nbr"), F.col("label").alias("__nl")
            ),
            "nbr",
        )
        counted = nbr_labels.groupBy("node", "__nl").agg(
            F.count("*").alias("__c")
        )
        # argmax(count, tie -> min label) as ONE min-struct fold:
        # (-count, label) orders ties toward the smaller label without
        # a per-node window. The count is negated, NOT the label
        # (ADVICE r8): negating the label only works for numeric node
        # ids — string/host graphs (which pagerank/hits accept) fail
        # with CAST_INVALID_INPUT under ANSI mode.
        picked = counted.groupBy("node").agg(
            F.min(F.struct((-F.col("__c")).alias("__m"), F.col("__nl")))
            ["__nl"].alias("__new")
        )
        new_labels = (
            labels.join(picked, "node", "left")
            .select(
                "node",
                F.coalesce("__new", "label").alias("label"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels.persist().count()
        labels.unpersist()
        labels = new_labels
        if i == 0:
            # und materialized during this round's join — the upstream
            # edge cache has served its purpose
            e0.unpersist()
    und.unpersist()
    return labels


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_fastpath_edges: int = _DRIVER_FASTPATH_EDGES,
) -> DataFrame:
    """Directed BFS hop distance from a trusted seed set: (node, hops)
    for every node reachable from any seed in <= max_hops link hops
    (seeds themselves at 0). Unreachable nodes are ABSENT — the caller
    decides the unreachable policy (TrustRank-style demotion keeps them
    at +inf / drops them).

    Link distance from a vetted seed list is the oldest whitebox spam
    feature (Gyongyi et al. 2004 motivate TrustRank with it): spam
    farms are many hops from any trusted page, while organically cited
    content sits 1-3 hops out. Integer-exact (no float contract needed)
    and cheaper than a full personalized PageRank when only the
    frontier matters (crawl-frontier prioritization).

    Scale shape: classic frontier BFS as DataFrame ops — per hop, join
    the CURRENT frontier (not the whole visited set) to the edge list,
    anti-join out already-visited nodes. Each hop is one shuffle pair
    over frontier-sized inputs, one eager checkpoint of the new
    frontier and an emptiness check on that flat checkpoint. The
    visited set is a lazy union of the checkpointed frontiers, so the
    per-hop plan grows linearly. max_hops bounds the rounds (web BFS
    saturates in ~6; crawl features use 2-4)."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    raw = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    )
    seed_set = seeds.select("node").distinct()
    # scale-adaptive fast path (see _DRIVER_FASTPATH_EDGES): probe the
    # RAW projection — no distinct exchange paid before the gate; the
    # driver adjacency sets dedup inherently, and hop distances are
    # integer-exact, so both paths are bit-identical. (A raw list over
    # the cap whose distinct would fit just falls through — the
    # conservative direction.)
    probed = _probe_graph(driver_fastpath_edges, raw, seed_set)
    if probed is not None:
        erows, seed_rows = probed
        return _frame(
            raw, "__s", "__d", [("hops", IntegerType())],
            _bfs_driver(_load_graph(erows, "__s", "__d"), seed_rows, max_hops),
        )
    e = raw.distinct().persist()
    vertices = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    # seeds outside the graph are ignored (same contract as pagerank's
    # personalized teleport, minus the empty-set raise: an empty
    # intersection just returns an empty frame)
    frontier = (
        seed_set.join(vertices, "node", "left_semi")
        .withColumn("hops", F.lit(0))
    )
    # bootstrap materialization: ONE cheap checkpoint fills the edge
    # cache and cuts the hop-0 frontier's lineage before the hop loop
    # references them several times apiece (without it, hop 1 becomes
    # one deep job that recomputes the un-materialized edge subtree per
    # reference)
    frontier = frontier.localCheckpoint(eager=True)
    visited = frontier
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["__s"])
            # a null node is never reached (the module's null rule)
            .select(F.col("__d").alias("node"))
            .where(F.col("node").isNotNull())
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        # checkpoint the NEW FRONTIER ONLY (one action computing this
        # hop's shuffle pair): its lineage — which references both the
        # previous frontier and the whole visited union, i.e. doubles
        # per hop if left uncut — is truncated here, so `visited` stays
        # a lazy union of FLAT checkpointed frontiers and the per-hop
        # plan size stays linear in h. (r8 checkpointed the whole
        # visited union every hop instead: correct, but it recopied all
        # previously-visited rows per hop and still needed a separate
        # emptiness action on the un-materialized frontier.)
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():  # flat scan of the checkpoint: ~free
            break
        visited = visited.union(nxt)
        frontier = nxt
    e.unpersist()
    return visited.select("node", "hops")


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_fastpath_edges: int = _DRIVER_FASTPATH_EDGES,
) -> DataFrame:
    """Spam mass (Gyongyi et al. 2006): the fraction of a page's
    PageRank that does NOT come from trusted pages —

        spam_mass(v) = (pr(v) - ppr(v)) / pr(v)

    where pr is uniform PageRank and ppr is PageRank personalized to
    the trusted seed set. Near 0: rank earned through the trusted web.
    Near 1: rank manufactured by link structures unreachable from any
    trusted page — the canonical link-farm detector. Returns
    (node, pr, ppr, mass); mass can be slightly negative for pages
    super-endorsed by seeds (standard; callers threshold on the high
    end).

    Both rank vectors are chains of ONE pagerank core call
    (_pagerank_core with [uniform, seeds]): per round ONE edges⋈ranks
    join with a two-column contribution aggregate, one dangling-mass
    collect carrying both sums, one vertex join-back — 1x pagerank's
    shuffles/scans per iteration for BOTH chains (the naive composition
    pays 2x), with pagerank's exact IEEE update expressions per chain
    (pinned by a differential against two separate pagerank runs).
    Every scale property of pagerank's docstring applies unchanged."""
    ranks = _pagerank_core(
        edges, (("pr", False), ("ppr", True)), n_iter, damping, src_col,
        dst_col, 8, seeds, None, None, driver_fastpath_edges, "spam_mass",
    )
    return ranks.select(
        "node",
        "pr",
        "ppr",
        ((F.col("pr") - F.col("ppr")) / F.col("pr")).alias("mass"),
    )
