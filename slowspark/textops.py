"""Training-data pipeline operators over document tables.

Beyond the reference's own operators (SURVEY.md §2), these are the
operations a 100 TB web-text training pipeline needs: deduplication (exact,
MinHash+LSH with a persisted incremental index, SimHash, exact-verified
n-gram Jaccard), benchmark decontamination, PII scrubbing, HTML-to-text
extraction, unicode normalization, language ID, quality + repetition
scoring, token counting, and document fingerprinting. All shaped for scale:

  - exact/quality/token/langid/scrub/extract stages are pure JVM built-ins
    (whole-stage codegen, no Python);
  - MinHash/SimHash signatures and unicode normalization are Arrow-batched
    UDFs (mapInArrow / arrow_udf: the sanctioned slow path — vectorized or
    memoized per worker, no per-row Python round trips);
  - candidate generation is a band-bucket groupBy (shuffle keyed on
    (band, hash), never an all-pairs cross join) — the standard
    MinHash-LSH banding construction (Broder 1997; Leskovec et al., Mining
    of Massive Datasets ch.3) — with an optional bucket cap whose drops
    are always logged (slowspark.util.capped_by_bucket).
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from slowspark.util import (
    arrow_batch,
    capped_by_bucket,
    local_frame,
    materialize as _materialize,
)


# ---------------------------------------------------------------------------
# Exact dedup — built-ins only
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text hash. One shuffle on the
    256-bit hash (collision-free in practice); min() aggregation is
    map-side combined."""
    h = F.sha2(F.col(text_col), 256).alias("text_hash")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

# p = 2^31 - 1 (Mersenne prime). Keeping a, b, and shingle hashes below p
# means every intermediate (a * x + b <= (p-1)^2 + p < 2^62) fits in uint64
# with NO silent wraparound, so h(x) = (a*x + b) mod p is a genuine
# universal hash family over Z_p — the round-1 2^61-1 variant overflowed
# uint64 before the reduction, which stayed deterministic but voided the
# universality math.
_MERSENNE = (1 << 31) - 1
_N_PERM_DEFAULT = 64


def _perm_params(n_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) for the universal hash family
    h_i(x) = (a_i * x + b_i) mod p, with a, b < p = 2^31-1 so products fit
    in uint64 exactly. Seeded generator — never wall-clock."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=n_perm, dtype=np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Char k-gram hashes in [0, p) as uint64 (FNV-1a rolling over python
    hash of the slice is unstable across processes; use a stable method:
    numpy view over utf-8 bytes + polynomial rolling hash). Horner step
    h*257 + byte <= (p-1)*257 + 255 < 2^40 — exact in uint64 before the
    mod, so the documented modular math holds."""
    data = text.encode("utf-8", "ignore")
    n = len(data)
    if n < k:
        data = data + b" " * (k - n)
        n = len(data)
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    # polynomial rolling hash base 257 mod p; Horner in a loop over k
    # (k is small, n is large)
    h = np.zeros(n - k + 1, dtype=np.uint64)
    for j in range(k):
        h = (h * np.uint64(257) + arr[j : n - k + 1 + j]) % np.uint64(_MERSENNE)
    return np.unique(h)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """doc_id -> minhash signature (array<long>, length n_perm). Arrow-batched
    UDF (mapInArrow); a, b parameters are computed once per worker from the
    seed."""
    a_b = (n_perm, seed, shingle_k)

    out_schema = T.StructType([
        T.StructField("__id", T.LongType(), False),
        T.StructField("signature", T.ArrayType(T.LongType()), False),
    ])

    def fn(batches):
        n_p, sd, k = a_b
        a, b = _perm_params(n_p, sd)
        for batch in batches:
            sigs = []
            for text in batch.column(1).to_pylist():
                sh = _shingle_hashes(text or "", k)
                # (a * x + b) mod p, min over shingles, vectorized
                vals = (np.outer(sh, a) + b) % np.uint64(_MERSENNE)
                sigs.append(vals.min(axis=0).astype(np.int64).tolist())
            yield arrow_batch(out_schema, [batch.column(0), sigs])

    return (
        df.select(id_col, text_col)
        .mapInArrow(fn, schema=out_schema)
        .withColumnRenamed("__id", id_col)
    )


def band_keys(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band_id, band_hash) — one row per (doc, band): each band's
    signature slice hashed to a long. The LSH banding key table; equal
    band_hash within a band_id <=> equal signature slice (modulo xxhash64
    collisions). Shared by in-corpus candidate generation
    (minhash_lsh_candidates) and the persisted incremental index
    (build_minhash_index)."""
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), i -> "
                f"named_struct('band_id', i, 'band_hash', "
                f"xxhash64(cast(i as string), "
                f"cast(slice(signature, i * {rows_per_band} + 1, {rows_per_band}) as string))))"
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banding: split each signature into `bands` bands of `rows_per_band`,
    hash each band, group by (band_id, band_hash) -> candidate pairs.

    Scale shape: explode to bands (x bands rows), ONE shuffle on the band
    bucket, pairs emitted per-bucket via a self-join on the bucket key.
    Bucket sizes are small for ordinary text, but a VIRAL page duplicated
    k times puts k docs in the same bucket in EVERY band -> k^2/2 pairs.
    The sanctioned order of operations is exact_dedup FIRST (identical
    bytes collapse to one representative, which is exactly what a viral
    blob is), then near-dup here; `max_bucket_size` is the belt-and-braces
    cap for buckets that are still pathological after that — capped buckets
    are dropped from candidate generation (truncates recall for that blob
    only; same semantics as simhash_candidates' cap)."""
    b = band_keys(signatures, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        b = capped_by_bucket(
            b, ["band_id", "band_hash"], max_bucket_size, "minhash_lsh_candidates"
        )
    left = b.alias("l")
    right = b.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col(f"l.band_id") == F.col("r.band_id"),
                F.col(f"l.band_hash") == F.col("r.band_hash"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def connected_min_labels(
    pairs: DataFrame,
    max_iters: int = 20,
    driver_finish_max_edges: int = 1_000_000,
) -> DataFrame:
    """Single-link connected components over an undirected pair set
    (id_a, id_b): returns (id, label) where label = the component's minimum
    id, computed by min-label propagation iterated to a FIXPOINT (not one
    pass — duplicate *chains* a~b, b~c where a never pairs with c directly
    need the label to travel).

    Fast path — ONE distributed contraction pass + size-gated driver
    finish: near-dup graphs are unions of near-cliques (a duplicate
    family pairs almost all-to-all), so a single hook m(x) = min(x,
    min-neighbor) collapses each family to a star and the CONTRACTED
    graph {(m(u), m(v)) : (u,v) edge, m(u) != m(v)}, deduplicated, is
    orders of magnitude smaller than the input (195k-edge simhash graph
    -> a few hundred contracted edges). When the contracted edge count is
    <= `driver_finish_max_edges` (default 1M) the residual components are
    solved with an exact min-label union-find on the driver and joined
    back; correctness is the standard contraction argument (m(x) lies in
    x's component, and every original edge connects its endpoints' label
    classes in the contracted graph), and the global component min g is a
    fixed point of m, so it appears as a contracted node and wins its
    class. MEASURED driver memory at the 1M-edge gate (tracemalloc,
    worst-case chain graph where every node enters the union-find):
    ~330 MB peak for the collected Row list, ~480 MB peak through the
    union-find + result rows — transient Python heap, an order of
    magnitude under any practical driver's headroom but NOT the raw
    16 MB of long pairs; size the gate accordingly if the driver is
    memory-constrained. The iterative loop below is the general path for
    graphs whose contracted form is still too big to collect (always
    correct, never collects — pinned by test), and the gate is explicitly
    sized so the driver path can never be the thing that OOMs a
    10^12-row job. Measured: the loop's per-round cost
    at toy scale is pure job-scheduling latency (~2 jobs x ~0.25s x 7
    rounds), which no amount of data-shrinking beats — collecting the
    tiny residual graph is the only way under it.

    Each loop round does two shuffle-keyed steps:
      1. HOOK: label <- min(label, neighbors' labels) over the edge set;
      2. POINTER JUMP: label <- label's own current label (one join of
         the label table against itself) — label-parent chains compress
         geometrically (Shiloach-Vishkin style), keeping rounds
         O(log diameter) instead of O(diameter).
    _materialize() truncates the lineage at every step that is read twice
    (reliable checkpoint when a checkpoint dir is configured,
    localCheckpoint otherwise): the hook result before the jump self-join,
    and the jump result — next round's hook reads it, and the convergence
    count reads it too. Counting `changed` from the materialized table
    instead of a lazy plan is what keeps the per-round driver overhead to
    one tiny block-scan job (the r4 shape recomputed the whole jump join
    once for the count and once for the next round's hook — the dominant
    fixpoint cost at toy scale; interleaved A/B on the 195k-edge simhash
    graph: 4.13s -> 3.56s best-of-3). A second jump hop per round was
    measured and REJECTED: rounds-to-fixpoint stayed exactly 7 at one and
    two hops on that graph (convergence there is hook-bound, not
    chain-bound), so the extra hop is one more checkpoint job per round
    for nothing."""
    if max_iters < 1:
        raise ValueError(f"connected_min_labels: max_iters must be >= 1, got {max_iters}")
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    edges = _materialize(edges)
    # ONE hook pass -> contraction mapping m(x) = min(x, min neighbor).
    # The symmetrized edge set guarantees every node appears as src, so
    # the groupBy IS the node set — no separate nodes join needed.
    mapping = _materialize(
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            "id",
            F.least(F.col("id"), F.col("nbr_min")).alias("m"),
        )
    )
    msrc = mapping.select(F.col("id").alias("src"), F.col("m").alias("m_src"))
    mdst = mapping.select(F.col("id").alias("dst"), F.col("m").alias("m_dst"))
    contracted = _materialize(
        edges.join(msrc, "src").join(mdst, "dst")
        .filter(F.col("m_src") != F.col("m_dst"))
        .select("m_src", "m_dst")
        .distinct()
    )
    n_contracted = contracted.count()
    if n_contracted <= driver_finish_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in contracted.collect():
            a, b = find(r["m_src"]), find(r["m_dst"])
            if a != b:
                parent[max(a, b)] = min(a, b)  # min-id root: deterministic
        members: dict = {}
        for x in list(parent):
            members[x] = find(x)
        rows = [(x, root) for x, root in members.items()]
        spark = pairs.sparkSession
        # schema follows the source id type (long, string, ...) — the
        # fast path must accept every id domain the iterative path does
        from pyspark.sql.types import StructField, StructType

        id_type = mapping.schema["m"].dataType
        comp_df = local_frame(
            spark,
            rows,
            StructType(
                [StructField("m", id_type), StructField("label", id_type)]
            ),
        )
        return (
            mapping.join(F.broadcast(comp_df), "m", "left")
            .select("id", F.coalesce("label", "m").alias("label"))
        )
    # general path (contracted graph still too big to collect): iterate —
    # starting from the contraction mapping, which already did round 1's
    # hook work (the rename is lazy over the checkpointed mapping)
    labels = mapping.withColumnRenamed("m", "label")
    for _ in range(max_iters):
        # HOOK: candidate label per node = min over neighbors' labels
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # materialize the hook result BEFORE the jump self-join: both sides
        # of the join would otherwise race to recompute the hook shuffle
        # (the same lazy-plan trap as the signature self-joins)
        cur = _materialize(
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("changed"),
            )
        )
        # POINTER JUMP: label <- label(label). Labels are always node ids
        # (inductively: they start as ids and only ever take other nodes'
        # label values), so the lookup hits; the left join + coalesce is
        # belt-and-braces.
        parents = cur.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        cur = _materialize(
            cur.join(parents, cur["label"] == parents["p_id"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("p_label", "label")).alias("label"),
                (
                    F.col("changed") | (F.col("p_label") < F.col("label"))
                ).alias("changed"),
            )
        )
        # the convergence check scans the already-materialized blocks —
        # no recompute of any join
        n_changed = cur.filter(F.col("changed")).count()
        labels = cur.drop("changed")
        if n_changed == 0:
            break
    else:
        # silent non-convergence would hand back multiple survivors per
        # component (and diverge from any exact oracle) with no signal —
        # a component whose diameter exceeds max_iters must be loud
        raise RuntimeError(
            f"connected_min_labels: no fixpoint after {max_iters} "
            f"iterations ({n_changed} labels still changing) — a component "
            f"diameter exceeds max_iters; raise max_iters"
        )
    return labels


def dedup_by_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep the component-min id per single-link component of the verified
    pair set; every other member is dropped (fixpoint labels — survivor set
    is topology-independent)."""
    labels = connected_min_labels(pairs.select("id_a", "id_b"))
    losers = labels.filter(F.col("label") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def dedup_by_pairs_quality(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """dedup_by_pairs with a QUALITY-aware keeper: per single-link
    component keep the member with the highest `quality_col` (ties ->
    lowest id) instead of the component-min id — production dedup keeps
    the best page of a template family (longest text, best classifier
    score, newest capture...), not the one that happened to sort first.
    NULL quality ranks below every non-NULL value.

    Scale shape: the same fixpoint labels as dedup_by_pairs, plus ONE
    map-side-combined max_by aggregation over the labeled members
    (|components| rows out) and a loser anti-join — keeper choice adds
    no extra pass over the corpus (the quality lookup join touches only
    component MEMBERS, a tiny fraction of the corpus)."""
    labels = connected_min_labels(pairs.select("id_a", "id_b"))
    q = df.select(
        F.col(id_col).alias("id"),
        F.col(quality_col).cast("double").alias("__q"),
    )
    members = labels.select("id", "label").join(q, "id")
    keepers = members.groupBy("label").agg(
        F.expr(
            "max_by(id, struct("
            "coalesce(__q, cast('-Infinity' as double)) as q, -id as t))"
        ).alias("keeper_id")
    )
    losers = (
        members.join(keepers, "label")
        .filter(F.col("id") != F.col("keeper_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, on=id_col, how="left_anti")


# estimated Jaccard of two MinHash signatures sig_a, sig_b: the fraction
# of matching minhashes
_EST_JACCARD = (
    "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) "
    "/ cast(size(sig_a) as double)"
)


def minhash_estimated_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) over a signature table: LSH banding
    candidates joined back to both signatures, estimated Jaccard =
    matching-minhash fraction. The shared trunk of minhash_verified_pairs
    (threshold filter) and jaccard_verified_pairs (margin prefilter +
    exact verify) — callers holding a materialized signature table compute
    the banding shuffle ONCE for both. `sigs` should be materialized
    (slowspark.util.materialize) — the band self-join scans it twice in
    the same stage."""
    if rows_per_band is None:
        rows_per_band = 4
    cands = minhash_lsh_candidates(sigs, id_col, bands, rows_per_band, max_bucket_size)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        cands.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", F.expr(_EST_JACCARD).alias("est_jaccard"))
    )


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) pairs whose signature-ESTIMATED Jaccard clears the
    threshold: signatures -> LSH banding candidates -> zip_with estimate.

    ``max_bucket_size`` is forwarded to the banding stage: buckets larger
    than it are dropped from candidate generation (recall truncated for
    those buckets only), with the dropped bucket/row counts logged — the
    belt-and-braces defense when a viral template family survives
    exact_dedup. ``sigs``: optional pre-materialized signature table
    (must match n_perm/shingle_k) so repeated pair computations share one
    signature pass."""
    if sigs is None:
        # _materialize (eager checkpoint), not cache(): the band self-join
        # scans the signature table twice IN THE SAME STAGE, and a lazily-
        # filled cache lets both sides race to compute the expensive UDF
        # subtree redundantly (measured 2-3x signature cost run-to-run).
        # Checkpointing materializes it exactly once.
        sigs = _materialize(minhash_signatures(df, text_col, id_col, n_perm, shingle_k))
    return (
        minhash_estimated_pairs(sigs, id_col, bands, n_perm // bands, max_bucket_size)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> signature-
    estimated Jaccard filter (minhash_verified_pairs) -> keep the lowest id
    per connected component (dedup_by_pairs: single-link, min-label
    propagation iterated to a fixpoint — exactly one keeper per component,
    always the component min). ``max_bucket_size`` caps pathological LSH
    buckets (dropped counts are logged, never silent)."""
    pairs = minhash_verified_pairs(
        df, text_col, id_col, n_perm, bands, jaccard_threshold, shingle_k,
        max_bucket_size,
    )
    return dedup_by_pairs(df, pairs, id_col)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# Worker-side token-hash memo for simhash_signatures: web text is Zipfian,
# so across the documents of one worker's batches the same tokens recur
# constantly — hashing each unique token ONCE per worker (not once per
# document) removes the dominant cost of the signature stage. Bounded so a
# pathological vocabulary can't grow worker memory without limit.
_SIMHASH_TOKEN_CACHE: dict[str, int] = {}
_SIMHASH_TOKEN_CACHE_MAX = 1_000_000


def _simhash_token_hashes(tokens: set[str]) -> np.ndarray:
    """64-bit blake2b per unique token, memoized per worker process. The
    hash function is unchanged (signatures stay byte-identical to the
    uncached implementation — pinned by the sf0.01 regression golden)."""
    from hashlib import blake2b

    cache = _SIMHASH_TOKEN_CACHE
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = cache.get(t)
        if h is None:
            h = int.from_bytes(
                blake2b(t.encode("utf-8", "ignore"), digest_size=8).digest(), "big"
            )
            if len(cache) < _SIMHASH_TOKEN_CACHE_MAX:
                cache[t] = h
        out[i] = h
    return out


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash (Charikar 2002) over whitespace tokens; numpy-
    vectorized Arrow UDF with a per-worker unique-token hash memo. Near-
    dups differ in few bits -> multi-table lookup (simhash_candidates)."""
    out_schema = T.StructType([
        T.StructField("__id", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
    ])

    def fn(batches):
        bit_weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for batch in batches:
            out = []
            for text in batch.column(1).to_pylist():
                toks = (text or "").split()
                if not toks:
                    out.append(0)
                    continue
                hs = _simhash_token_hashes(set(toks))
                bits = ((hs[:, None] & bit_weights[None, :]) != 0)
                v = bits.sum(axis=0, dtype=np.int64) * 2 - len(hs)
                sig = np.uint64(np.sum(bit_weights[v > 0], dtype=np.uint64))
                out.append(int(np.int64(sig)))
            yield arrow_batch(out_schema, [batch.column(0), out])

    return (
        df.select(id_col, text_col)
        .mapInArrow(fn, schema=out_schema)
        .withColumnRenamed("__id", id_col)
    )


def _manku_tables(n_blocks: int, agree: int) -> list[tuple[int, list[tuple[int, int]]]]:
    """Block-combination tables for the Manku et al. (WWW'07 "Detecting
    Near-Duplicates for Web Crawling") construction: split 64 bits into
    `n_blocks` near-equal blocks; any pair within hamming distance
    (n_blocks - agree) agrees on at least `agree` whole blocks (pigeonhole),
    so C(n_blocks, agree) tables — each keyed on a different choice of
    `agree` blocks — give 100% recall. Returns
    [(table_id, [(bit_offset, bit_len), ...]), ...]."""
    base, extra = divmod(64, n_blocks)
    lens = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offs = [sum(lens[:i]) for i in range(n_blocks)]
    return [
        (tid, [(offs[b], lens[b]) for b in combo])
        for tid, combo in enumerate(combinations(range(n_blocks), agree))
    ]


def _manku_key_expr(blocks: list[tuple[int, int]]) -> str:
    """SQL expression concatenating the chosen blocks' bits into one bigint
    key (shiftrightunsigned — simhash is stored signed)."""
    total = sum(ln for _, ln in blocks)
    parts, used = [], 0
    for off, ln in blocks:
        used += ln
        mask = (1 << ln) - 1
        shift = 1 << (total - used)
        parts.append(
            f"(shiftrightunsigned(simhash, {off}) & cast({mask} as bigint)) "
            f"* cast({shift} as bigint)"
        )
    return " + ".join(parts)


def _manku_keyed(
    sigs: DataFrame,
    id_col: str | None,
    max_hamming: int,
    n_blocks: int | None,
) -> DataFrame:
    """(id_col?, simhash, tbl, tkey) rows: every signature exploded into
    its C(n_blocks, agree) Manku table keys. The shared trunk of
    simhash_candidates, simhash_bucket_histogram, and the persisted-index
    build/probe path — the table construction MUST be identical everywhere
    or index keys silently never collide with probe keys."""
    if n_blocks is None:
        n_blocks = max_hamming + 3
    agree = n_blocks - max_hamming
    if agree < 1:
        raise ValueError("n_blocks must exceed max_hamming")
    tables = _manku_tables(n_blocks, agree)
    structs = ", ".join(
        f"named_struct('tbl', {tid}, 'tkey', cast({_manku_key_expr(blocks)} as bigint))"
        for tid, blocks in tables
    )
    cols = ([id_col] if id_col else []) + ["simhash"]
    return (
        sigs.select(*cols, F.explode(F.expr(f"array({structs})")).alias("t"))
        .select(*cols, "t.tbl", "t.tkey")
    )


def simhash_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Multi-table candidate generation (Manku et al., WWW'07): split the
    64-bit simhash into n_blocks (default max_hamming + 3) blocks; any pair
    within `max_hamming` agrees on >= n_blocks - max_hamming whole blocks,
    so C(n_blocks, agree) tables keyed on that block subset give exact
    recall — for hamming<=3 that is 20 tables keyed on ~32 bits each.

    Scale shape vs the naive 4x16-bit chunk split: chunk keys had only
    2^16 values, so at 10^12 docs every chunk bucket held ~15M docs and the
    in-bucket self-join went quadratic. Here keys span ~2^32 values — the
    expected bucket is ~n/2^32 (hundreds at 10^12 docs) at the cost of 20
    explode rows per doc instead of 4. Exact hamming is then verified with
    built-in bit_count, so the pair OUTPUT is identical to the old
    construction (both are recall-exact for <= max_hamming).

    `max_bucket_size`: optional safety cap — buckets larger than this are
    dropped from candidate generation, with the dropped bucket/row counts
    LOGGED (util.capped_by_bucket — a silent cap is how candidates
    disappear unnoticed). This TRUNCATES recall: a mass of near-identical
    simhashes overflows its bucket in every table, and its pairs are then
    simply not emitted (route such blobs to exact_dedup first — identical
    text means identical simhash). Use simhash_bucket_histogram to SEE the
    distribution before capping."""
    keyed = _manku_keyed(sigs, id_col, max_hamming, n_blocks)
    if max_bucket_size is not None:
        keyed = capped_by_bucket(
            keyed, ["tbl", "tkey"], max_bucket_size, "simhash_candidates"
        )
    l, r = keyed.alias("l"), keyed.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.tbl") == F.col("r.tbl"),
                F.col("l.tkey") == F.col("r.tkey"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.expr("bit_count(l.simhash ^ r.simhash)").alias("hamming"),
        )
        # filter BEFORE distinct: a pair surfaces in up to C(n,agree) tables,
        # so the dedup shuffle should only carry rows that already passed
        # the hamming verify, not the multi-table duplication
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full SimHash near-dup pipeline: signatures -> Manku multi-table
    candidates (exact recall for hamming <= max_hamming) -> component-min
    survivors (dedup_by_pairs fixpoint). The signature table is eagerly
    materialized before the candidates' self-join (same UDF-race rationale
    as minhash_verified_pairs); ``max_bucket_size`` caps pathological
    buckets with logged drops."""
    sigs = _materialize(simhash_signatures(df, text_col, id_col))
    pairs = simhash_candidates(
        sigs, id_col, max_hamming, n_blocks, max_bucket_size
    ).select("id_a", "id_b")
    return dedup_by_pairs(df, pairs, id_col)


def simhash_bucket_histogram(
    sigs: DataFrame, max_hamming: int = 3, n_blocks: int | None = None
) -> DataFrame:
    """Bucket-size histogram per table: (tbl, bucket_size, n_buckets).
    The visibility companion to simhash_candidates(max_bucket_size=...) —
    truncation should be a decision made looking at this, never silent."""
    keyed = _manku_keyed(sigs, None, max_hamming, n_blocks)
    return (
        keyed.groupBy("tbl", "tkey")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("tbl", "bucket_size")
        .agg(F.count("*").alias("n_buckets"))
    )


# ---------------------------------------------------------------------------
# Persisted near-dup index — incremental (new-batch-vs-corpus) dedup, one
# core for MinHash and SimHash
# ---------------------------------------------------------------------------

# The index layout, declared once for both methods: <index>/sigs holds one
# (id, signature) row per indexed doc; the key table holds (id, part, key)
# rows partitioned by the part column, so a probe join's part
# equi-condition prunes to one directory per LSH band / Manku table.
INDEX_SIGS = "sigs"
INDEX_LAYOUT = {
    # method: (key table, part column, key column, signature column)
    "minhash": ("bands", "band_id", "band_hash", "signature"),
    "simhash": ("tables", "tbl", "tkey", "simhash"),
}


def _minhash_index_rows(df, text_col, id_col, n_perm, bands, shingle_k, sigs=None):
    """(sigs, band keys) of `df`, the rows a MinHash index holds for it."""
    if sigs is None:
        sigs = _materialize(
            minhash_signatures(df, text_col, id_col, n_perm, shingle_k)
        )
    return sigs, band_keys(sigs, id_col, bands, n_perm // bands)


def _simhash_index_rows(df, text_col, id_col, max_hamming, n_blocks, sigs=None):
    """(sigs, Manku table keys) of `df`, the rows a SimHash index holds."""
    if sigs is None:
        sigs = _materialize(simhash_signatures(df, text_col, id_col))
    return sigs, _manku_keyed(sigs, id_col, max_hamming, n_blocks)


def _write_index(method, index_path, id_col, sigs, keys, build: bool) -> None:
    """Write one batch's index rows: `build` overwrites, otherwise appends.
    The two tables land in opposite orders, and both orders are crash
    contracts:

      - a build writes sigs, then the key table: the key table's _SUCCESS
        is what curate_ingest_batch reads as "the index exists", so a
        build that crashes before it reads as absent and is rebuilt;
      - an append writes the key table, then sigs. A crash between the
        two leaves key rows without a signature; such a doc produces NO
        pair (the probe's verify join is inner against sigs), so on
        replay it is re-accepted and re-appended: its sig rows land
        exactly once and the duplicate key rows fall to the candidate
        DISTINCT. The reverse order would strand signature-only docs
        whose re-append duplicates sig rows, and so pair rows downstream.

    Replay idempotency of the ACCEPTED SET relies on the caller's
    epoch-authoritative sink (curate_ingest_batch re-reads accepted rows
    from the epoch's _SUCCESS-marked sink rather than recomputing); a
    caller without such a sink duplicates accepted rows on replay. This
    is at-least-once plus dedup, not a transaction: a deployment that
    needs atomic appends should put both tables in one Iceberg/Delta
    commit."""
    key_table, part, key, sig = INDEX_LAYOUT[method]
    mode = "overwrite" if build else "append"
    writes = [
        (sigs.select(id_col, sig).write.mode(mode), INDEX_SIGS),
        (keys.select(id_col, part, key).write.mode(mode).partitionBy(part),
         key_table),
    ]
    for writer, table in writes if build else writes[::-1]:
        writer.parquet(f"{index_path}/{table}")


def _probe_index(
    method, index_path, id_col, new_sigs, new_keys, max_bucket_size, label,
    verify, keep,
) -> DataFrame:
    """(new_id, corpus_id, verify) rows between a batch's index rows and a
    persisted index, kept where `keep` holds. The batch side is computed
    fresh; the index side is a parquet scan. Candidates are a key-table
    equi-join on (part, key) — the part condition prunes the scan to one
    directory per band/table — then DISTINCT (a pair surfaces in several
    bands/tables), then one join to each signature table, where `verify`
    (an aliased expression over sig_a/sig_b) scores the pair. Shuffle
    volume is O(batch keys + matching index buckets); `max_bucket_size`
    caps viral index buckets with logged drops, as the in-corpus path
    does. The cap sees only the buckets the batch touches (a semi-join
    on the batch's keys keeps those buckets whole), so a capped probe
    stays O(batch + matching buckets), not O(index)."""
    spark = new_sigs.sparkSession
    key_table, part, key, sig = INDEX_LAYOUT[method]
    idx_keys = spark.read.parquet(f"{index_path}/{key_table}")
    if max_bucket_size is not None:
        touched = new_keys.select(part, key).distinct()
        idx_keys = capped_by_bucket(
            idx_keys.join(touched, [part, key], "left_semi"),
            [part, key], max_bucket_size, label,
        )
    cands = (
        new_keys.select(F.col(id_col).alias("new_id"), part, key)
        .join(
            idx_keys.select(F.col(id_col).alias("corpus_id"), part, key),
            [part, key],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    idx_sigs = spark.read.parquet(f"{index_path}/{INDEX_SIGS}")
    sa = new_sigs.select(F.col(id_col).alias("new_id"), F.col(sig).alias("sig_a"))
    sb = idx_sigs.select(F.col(id_col).alias("corpus_id"), F.col(sig).alias("sig_b"))
    return (
        cands.join(sa, "new_id").join(sb, "corpus_id")
        .select("new_id", "corpus_id", verify)
        .filter(keep)
    )


def _corpus_priority(new_df, pairs, id_col, batch_dedup) -> DataFrame:
    """Incremental-batch dedup with CORPUS PRIORITY: every new doc in a
    (new_id, corpus_id) pair is dropped (the corpus copy is already in
    the training set — unlike min-id dedup, arrival order wins), then
    `batch_dedup` dedups the survivors among themselves."""
    losers = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return batch_dedup(new_df.join(losers, on=id_col, how="left_anti"))


def build_minhash_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    shingle_k: int = 5,
    sigs: DataFrame | None = None,
) -> None:
    """Persist a MinHash-LSH index (INDEX_LAYOUT: sigs plus band keys
    partitioned by band_id) for CONTINUOUS dedup. The corpus pays the
    signature UDF once here; every incremental batch signatures only ITS
    OWN documents and probes the index with a band-keyed join — per-batch
    cost is O(batch), never a corpus rescan. Accepted batches grow it
    through append_to_minhash_index.

    Pass `sigs` (a signature table already computed with the SAME
    n_perm/shingle_k, e.g. shared with a batch dedup pass over the same
    corpus) to skip the signature UDF entirely — the caller owns the
    parameter-match guarantee."""
    _write_index(
        "minhash", index_path, id_col,
        *_minhash_index_rows(df, text_col, id_col, n_perm, bands, shingle_k, sigs),
        build=True,
    )


def append_to_minhash_index(
    accepted_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    shingle_k: int = 5,
) -> None:
    """Grow a persisted MinHash index with an ACCEPTED batch (the rows
    incremental_dedup returned). Parameters must match the original
    build_minhash_index call — band keys computed under different
    n_perm/bands/shingle_k would silently never collide with the
    corpus's. Band rows land BEFORE signature rows (the crash contract in
    _write_index)."""
    _write_index(
        "minhash", index_path, id_col,
        *_minhash_index_rows(accepted_df, text_col, id_col, n_perm, bands, shingle_k),
        build=False,
    )


def incremental_near_dup_pairs(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(new_id, corpus_id, est_jaccard) pairs between an incoming batch
    and a persisted MinHash index (build_minhash_index) whose estimated
    Jaccard clears the threshold. The join is keyed on (band_id,
    band_hash); see _probe_index for the scale shape."""
    return _probe_index(
        "minhash", index_path, id_col,
        *_minhash_index_rows(new_df, text_col, id_col, n_perm, bands, shingle_k),
        max_bucket_size, "incremental_near_dup_pairs",
        F.expr(_EST_JACCARD).alias("est_jaccard"),
        F.col("est_jaccard") >= jaccard_threshold,
    )


def incremental_dedup(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental-batch MinHash dedup with CORPUS PRIORITY
    (_corpus_priority): a new doc that near-dups an indexed doc is
    dropped, then the survivors are deduped among themselves
    (minhash_dedup min-id policy). Returns the accepted rows of new_df —
    feed them to append_to_minhash_index."""
    pairs = incremental_near_dup_pairs(
        new_df, index_path, text_col, id_col, n_perm, bands,
        jaccard_threshold, shingle_k, max_bucket_size,
    )
    return _corpus_priority(new_df, pairs, id_col, lambda fresh: minhash_dedup(
        fresh, text_col, id_col, n_perm, bands, jaccard_threshold,
        shingle_k, max_bucket_size,
    ))


def build_simhash_index(
    df: DataFrame | None,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    sigs: DataFrame | None = None,
) -> None:
    """Persist a SimHash index (INDEX_LAYOUT: sigs plus Manku table keys
    partitioned by tbl) for CONTINUOUS hamming-distance dedup, with the
    same lifecycle as the MinHash index: the corpus pays the signature
    UDF once at build, and every incremental batch probes with a
    (tbl, tkey) equi-join — per-batch cost is O(batch + matching
    buckets), never a corpus rescan.

    `max_hamming`/`n_blocks` are BAKED INTO the persisted keys: a probe
    or append computed under different values produces keys that silently
    never collide — callers own the parameter match, exactly like
    n_perm/bands for the minhash index. Pass `sigs` (a signature table
    over the same docs, already materialized) to skip the signature
    UDF entirely (df may then be None)."""
    _write_index(
        "simhash", index_path, id_col,
        *_simhash_index_rows(df, text_col, id_col, max_hamming, n_blocks, sigs),
        build=True,
    )


def append_to_simhash_index(
    accepted_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> None:
    """Grow a persisted SimHash index with an ACCEPTED batch. Table keys
    land BEFORE signatures (the crash contract in _write_index)."""
    _write_index(
        "simhash", index_path, id_col,
        *_simhash_index_rows(accepted_df, text_col, id_col, max_hamming, n_blocks),
        build=False,
    )


def incremental_simhash_near_dups(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(new_id, corpus_id, hamming) pairs between an incoming batch and a
    persisted SimHash index (build_simhash_index) within `max_hamming`
    bits. Recall is EXACT for <= max_hamming (the Manku pigeonhole
    guarantee spans the batch-vs-corpus join the same way it spans the
    self-join), verified with built-in bit_count against both signature
    tables; see _probe_index for the scale shape."""
    return _probe_index(
        "simhash", index_path, id_col,
        *_simhash_index_rows(new_df, text_col, id_col, max_hamming, n_blocks),
        max_bucket_size, "incremental_simhash_near_dups",
        F.expr("bit_count(sig_a ^ sig_b)").alias("hamming"),
        F.col("hamming") <= max_hamming,
    )


def incremental_simhash_dedup(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental-batch SimHash dedup with CORPUS PRIORITY
    (_corpus_priority): a new doc within `max_hamming` bits of an indexed
    doc is dropped, then survivors are deduped among themselves
    (simhash_dedup component-min). Returns the accepted rows of new_df —
    feed them to append_to_simhash_index."""
    pairs = incremental_simhash_near_dups(
        new_df, index_path, text_col, id_col, max_hamming, n_blocks,
        max_bucket_size,
    )
    return _corpus_priority(new_df, pairs, id_col, lambda fresh: simhash_dedup(
        fresh, text_col, id_col, max_hamming, n_blocks, max_bucket_size
    ))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate verification / small sets)
# ---------------------------------------------------------------------------

def with_ngram_set(
    df: DataFrame, text_col: str = "text", out: str = "grams", n: int = 3
) -> DataFrame:
    """Word n-gram set column (built-ins only): tokens -> sliding n-grams ->
    distinct, the grams of token_grams as an array (Jaccard needs arrays).
    Tokens are materialized into a column FIRST so the per-element
    transform lambda slices an array reference — inlining split(text) into
    the lambda makes Catalyst re-tokenize the whole document per element,
    turning an O(len) projection into O(len^2) (measured 3x wall on the
    jaccard_dedup bench before hoisting)."""
    toks_col = f"__{out}_toks"
    return (
        df.withColumn(toks_col, ws_token_array(text_col))
        .withColumn(
            out,
            F.array_distinct(F.transform(
                _gram_starts(toks_col, n),
                lambda i: F.concat_ws(" ", _gram_at(toks_col, i, n)),
            )),
        )
        .drop(toks_col)
    )


def ngram_jaccard_pairs(pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Exact Jaccard over word n-grams for candidate pairs (id_a, id_b).
    Join fan-in is |pairs|, not |docs|^2."""
    g = with_ngram_set(docs, "text", "grams", n).select(F.col(id_col), "grams")
    ga = g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a"))
    gb = g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        pairs.join(ga, "id_a").join(gb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("grams_a", "grams_b"))
            / F.greatest(F.size(F.array_union("grams_a", "grams_b")), F.lit(1)),
        )
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.7,
    ngram_n: int = 3,
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    shingle_k: int = 5,
    est_margin: float = 0.25,
    max_bucket_size: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Exact-verified near-dup pairs, estimate-then-verify:

      1. MinHash-LSH generates candidates (the only all-corpus stage);
      2. the signature-ESTIMATED Jaccard prefilters them at
         threshold - est_margin — a cheap 64-element zip_with per pair,
         vs the exact verify's full n-gram arrays (hundreds of elements
         each side). est error sigma = sqrt(j(1-j)/n_perm) ~ 0.06 at
         n_perm=64, so the default 0.25 margin is >4 sigma: recall loss is
         negligible while the exact stage's fan-in drops by orders of
         magnitude on corpora where LSH banding over-generates (measured
         286k -> 542 pairs on the sf0.1 documents table);
      3. EXACT word-n-gram Jaccard verifies the survivors (join fan-in =
         |prefiltered|, never |docs|^2).
    jaccard_dedup composes this with dedup_by_pairs (component-min
    survivors). Use over minhash_dedup when the estimated Jaccard alone is
    too noisy to decide the threshold. ``max_bucket_size`` caps pathological
    LSH buckets (dropped counts are logged, never silent). ``sigs``:
    optional pre-materialized signature table (must match n_perm/shingle_k)
    so repeated pair computations share one signature pass."""
    if sigs is None:
        sigs = _materialize(minhash_signatures(df, text_col, id_col, n_perm, shingle_k))
    prefiltered = (
        minhash_estimated_pairs(sigs, id_col, bands, n_perm // bands, max_bucket_size)
        .filter(F.col("est_jaccard") >= jaccard_threshold - est_margin)
        .select("id_a", "id_b")
    )
    verified = (
        ngram_jaccard_pairs(prefiltered, df, id_col, ngram_n)
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified.select("id_a", "id_b")


def jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.7,
    ngram_n: int = 3,
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    shingle_k: int = 5,
    est_margin: float = 0.25,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """jaccard_verified_pairs + dedup_by_pairs (component-min survivors).
    ``max_bucket_size`` caps pathological LSH buckets (dropped counts are
    logged, never silent)."""
    pairs = jaccard_verified_pairs(
        df, text_col, id_col, jaccard_threshold, ngram_n, n_perm, bands,
        shingle_k, est_margin, max_bucket_size,
    )
    return dedup_by_pairs(df, pairs, id_col)


# ---------------------------------------------------------------------------
# Language ID, quality, tokens, fingerprint — built-ins only
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "que"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "es"],
    "it": ["il", "la", "di", "che", "e", "un", "per", "non", "sono", "con"],
    "pt": ["o", "a", "os", "de", "que", "e", "do", "da", "em", "um"],
    "nl": ["de", "het", "een", "van", "en", "is", "dat", "op", "te", "met"],
}


# Non-Latin scripts: classified by character-script ratio (a CC-scale
# pipeline sees ja/zh/ru/ar/ko long before stopword lists help — script
# ranges are the standard first-stage discriminator). \p{Script=...} regex
# counts are pure built-ins, no UDF. Order matters for CJK: Japanese is
# Han + kana, so kana presence wins over Han.
_SCRIPT_LANGS: list[tuple[str, str]] = [
    ("ja", r"[\p{Script=Hiragana}\p{Script=Katakana}]"),
    ("ko", r"\p{Script=Hangul}"),
    ("zh", r"\p{Script=Han}"),
    ("ru", r"\p{Script=Cyrillic}"),
    ("ar", r"\p{Script=Arabic}"),
    ("el", r"\p{Script=Greek}"),
]

_SCRIPT_MIN_RATIO = 0.15  # of non-space chars; CJK text is near-pure script


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-stage language heuristic — pure built-ins, no Python, no UDF.

    Stage 1 (script ratio): count \\p{Script=...} hits per non-Latin script
    over non-space chars; the first script (in _SCRIPT_LANGS priority
    order — kana before Han so ja beats zh on mixed text) above
    _SCRIPT_MIN_RATIO decides. The whole stage is gated per row on ONE
    cheap non-ASCII rlike: every non-Latin script char is non-ASCII, so a
    pure-ASCII document (the common case in a filtered CC corpus) skips
    all six counting scans — conditional branches short-circuit at
    runtime. Stage 2 (Latin languages): stopword-overlap — tokens computed
    ONCE into a temp column (not re-split per language), per-language
    array_intersect score, argmax via array_max over (score, lang) structs
    (struct ordering is field-order, so ties break on the larger lang
    tag — deterministic)."""
    tokens_col = "__li_toks"
    nonascii_col = "__li_na"
    df2 = (
        df.withColumn(nonascii_col, F.col(text_col).rlike(r"[^\x00-\x7F]"))
        .withColumn(
            tokens_col,
            F.array_distinct(F.split(F.lower(F.col(text_col)), r"[^\p{L}]+")),
        )
    )
    # non-space char count, referenced only inside the non-ASCII-gated
    # ratios (subexpression elimination computes it once per gated row;
    # ASCII rows never pay the scan)
    nchars = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"\S")).cast("double"), F.lit(1.0)
    )
    script_pred = F.lit(None).cast("string")
    script_score = F.lit(None).cast("double")
    # build the when-chain in reverse so the FIRST match in priority wins
    for lang, pat in reversed(_SCRIPT_LANGS):
        # regexp_count: one counting scan per script, no allocation — the
        # previous length-delta-after-regexp_replace rewrote the full text
        # per script just to count chars; counts are identical (single-char
        # patterns). The non-ASCII gate skips the scan entirely for ASCII
        # docs (subexpression elimination shares the count between the
        # pred and score branches).
        ratio = F.regexp_count(F.col(text_col), F.lit(pat)).cast("double") / nchars
        hit = F.col(nonascii_col) & (ratio >= _SCRIPT_MIN_RATIO)
        script_pred = F.when(hit, F.lit(lang)).otherwise(script_pred)
        script_score = F.when(hit, ratio).otherwise(script_score)
    scores = F.array(*[
        F.struct(
            F.size(
                F.array_intersect(F.col(tokens_col), F.array(*[F.lit(w) for w in ws]))
            ).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in _STOPWORDS.items()
    ])
    best = F.array_max(scores)
    return (
        df2.withColumn(
            "lang_pred",
            F.coalesce(script_pred, F.when(best["score"] > 0, best["lang"])),
        )
        .withColumn(
            "lang_score",
            F.coalesce(script_score, best["score"].cast("double")),
        )
        .drop(tokens_col, nonascii_col)
    )


def _duplicated_spans(
    occ: DataFrame, id_col: str, key_cols: list[str], width: int
) -> DataFrame:
    """(id, __spans, n_spans) per document with at least one duplicated
    window: the shared core of exact_substring_dedup (windows keyed on
    the gram text) and exact_substring_dedup_chars (keyed on a 128-bit
    fingerprint). `occ` holds one (id, pos, *key_cols) row per window
    occurrence; a window covers [pos, pos + width - 1].

    Every occurrence of a key that appears MORE than once is flagged,
    EXCEPT the globally first occurrence (lexicographic min over
    struct(id, pos): one copy of every duplicated run survives — the
    paper's "all but one"). Count and first occurrence are whole-partition
    window aggregates over ONE exchange of occ: the groupBy + join-back
    shape computed occ twice (once per consumer) and shuffled the keeper
    table on top of it. The min is exact for ANY id domain (negative
    xxhash64 longs, string ids) and any document length, and map-side
    combinable like min(long). Each document's flagged windows then merge
    into maximal [s, e] spans (gaps and islands: a window opens a new
    island when it starts past every earlier window's end); __spans is
    the sorted span list."""
    from pyspark.sql import Window

    wf = Window.partitionBy(*key_cols)
    flagged = (
        occ.withColumn("__key", F.struct(F.col(id_col), F.col("pos")))
        .withColumn("__cnt", F.count("*").over(wf))
        .withColumn("__keep_key", F.min("__key").over(wf))
        .filter((F.col("__cnt") > 1) & (F.col("__key") != F.col("__keep_key")))
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (width - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "__ni", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).withColumn(
        "__island",
        F.sum("__ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy(id_col, "__island").agg(
        F.min("pos").alias("s"), F.max(F.col("pos") + (width - 1)).alias("e")
    )
    return merged.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__spans"),
        F.count("*").cast("int").alias("n_spans"),
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    with_text: bool = False,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), fixed-window
    approximation: every word n-gram occurrence whose exact text appears
    MORE than once in the corpus is flagged — EXCEPT the globally first
    occurrence (lexicographic (doc_id, position): one copy of every
    duplicated substring survives, matching the paper's "all but one"
    semantics) — then each document's flagged [pos, pos+n-1] windows are
    merged into maximal spans and the spanned tokens removed. Any
    duplicated run of length >= n is fully covered by its own repeated
    interior n-grams, so merged spans recover maximal duplicated runs;
    runs shorter than n are not detected (the standard fixed-n
    approximation of the paper's suffix-array construction — the
    suffix array finds arbitrary-length matches but has no bounded-
    shuffle distributed formulation).

    Returns one row per input document:
    (id, n_tokens, n_spans, n_tokens_removed, kept_md5 [, kept_text])
    where kept_md5 = md5 of the surviving tokens space-joined in order
    (md5('') when everything was duplicated).

    Scale shape: the gram table is O(total tokens) rows shuffled ONCE on
    the gram key (_duplicated_spans: count + first occurrence, then the
    per-document span merge); the rebuild is a narrow projection with
    nested array lambdas."""
    if n < 2:
        raise ValueError(f"exact_substring_dedup: n must be >= 2, got {n}")
    toks_col = "__sd_toks"
    base = df.select(F.col(id_col), F.col(text_col)).withColumn(
        toks_col, ws_token_array(text_col)
    ).withColumn("n_tokens", F.size(toks_col))
    base = _materialize(base.select(id_col, toks_col, "n_tokens"))

    occ = token_grams(
        base.filter(F.col("n_tokens") >= n), toks_col, n, id_col
    ).select(id_col, "pos", F.concat_ws(" ", "gram").alias("gram"))
    spans = _duplicated_spans(occ, id_col, ["gram"], n)
    kept = F.expr(
        f"CASE WHEN __spans IS NULL THEN {toks_col} ELSE "
        f"filter({toks_col}, (t, i) -> "
        f"NOT exists(__spans, sp -> i >= sp.s AND i <= sp.e)) END"
    )
    return (
        base.join(spans, id_col, "left")
        .withColumn("__kept", kept)
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            (F.col("n_tokens") - F.size("__kept")).alias("n_tokens_removed"),
            F.md5(F.concat_ws(" ", F.col("__kept"))).alias("kept_md5"),
            *( [F.concat_ws(" ", F.col("__kept")).alias("kept_text")]
               if with_text else [] ),
        )
    )


def exact_substring_dedup_chars(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    with_text: bool = False,
) -> DataFrame:
    """Exact substring deduplication at CHARACTER granularity — the
    suffix-array-grade upgrade of exact_substring_dedup's word-window
    approximation, matching Lee et al. 2022 §4 (ExactSubstr, L=50
    bytes; here L = `min_len` unicode chars, the UTF-8-sane unit both
    Spark's substring/length and DuckDB's substr agree on).

    Semantics — exact, by the covering lemma: a character position lies
    inside SOME duplicated substring of length >= L iff at least one of
    the L-char windows covering it is duplicated (any substring of a
    duplicated string is duplicated; any duplicated run >= L contains a
    duplicated L-window through each of its positions). So flagging
    every duplicated L-window occurrence — EXCEPT the globally first
    occurrence per distinct window (lexicographic (doc_id, pos): one
    copy of every duplicated run survives, the paper's "all but one") —
    and merging each document's flagged [pos, pos+L-1] windows yields
    EXACTLY the maximal duplicated spans >= L, at char granularity.
    This is the same output a suffix array + LCP >= L pass produces,
    without the suffix array: unlike the word-window sibling (which
    misses duplicated runs shorter than n WORDS and can't see matches
    that cross word boundaries at sub-word offsets), nothing >= L chars
    escapes. Differential superset-vs-word-path + brute-force-mirror
    tests pin this (tests/test_textops.py).

    Returns one row per input document:
    (id, n_chars, n_spans, n_chars_removed, kept_md5 [, kept_text]);
    kept_md5 = md5 of the surviving characters in order (md5('') when
    the whole document was duplicated).

    Scale shape: window materialization is per-document codegen
    (transform over sequence — O(len*L) in-partition substring work,
    embarrassingly parallel, no Python); the shuffle carries ONE row
    per char position keyed on a 128-bit window fingerprint (two
    independent xxhash64 seeds — 2^-128 per-pair collision odds;
    16 bytes/position instead of the L-byte gram string, the blowup
    that makes naive L-gram shuffles 50x the corpus), into a map-side-
    combined count+min window (_duplicated_spans, which also merges the
    spans per document); the rebuild is one codegen aggregate over the
    span list.
    Total: two shuffles of O(corpus chars) compact rows vs the suffix
    array's O(chars log chars) global sorts — the bounded-shuffle
    distributed formulation the paper's single-node construction lacks.
    """
    if min_len < 2:
        raise ValueError(
            f"exact_substring_dedup_chars: min_len must be >= 2, got {min_len}"
        )
    L = int(min_len)
    base = _materialize(
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.length(text_col).alias("n_chars"),
        )
    )
    # per-position 128-bit window fingerprints; the gram string exists
    # only inside this projection (dropped before the exchange)
    occ = (
        base.filter(F.col("n_chars") >= L)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, n_chars - {L}), i -> "
                    f"struct(i AS pos, substring({text_col}, i + 1, {L}) AS g))"
                )
            ).alias("o"),
        )
        .select(
            F.col(id_col),
            F.col("o.pos").alias("pos"),
            F.xxhash64("o.g").alias("h1"),
            F.xxhash64(F.lit(1), "o.g").alias("h2"),
        )
    )
    spans = _duplicated_spans(occ, id_col, ["h1", "h2"], L)
    # stitch the un-spanned segments back together in one pass over the
    # sorted span list (st.prev = first char index not yet emitted)
    kept = F.expr(
        f"CASE WHEN __spans IS NULL THEN {text_col} ELSE "
        f"aggregate(__spans, struct(0 AS prev, '' AS acc), "
        f"(st, sp) -> struct(sp.e + 1 AS prev, "
        f"concat(st.acc, substring({text_col}, st.prev + 1, sp.s - st.prev)) AS acc), "
        f"st -> concat(st.acc, substring({text_col}, st.prev + 1))) END"
    )
    return (
        base.join(spans, id_col, "left")
        .withColumn("__kept", kept)
        .select(
            F.col(id_col),
            F.col("n_chars"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            (F.col("n_chars") - F.length("__kept")).alias("n_chars_removed"),
            F.md5(F.col("__kept")).alias("kept_md5"),
            *([F.col("__kept").alias("kept_text")] if with_text else []),
        )
    )


def badword_filter(
    df: DataFrame,
    words,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style word-blocklist filter (Raffel et al. 2020 drop pages
    containing any word from a blocklist): per doc, the count of
    lowered whitespace tokens that appear in `words` and `keep` = no
    hits. Matching is on whole tokens — "class" never matches a
    blocklisted "ass", the classic naive-substring false positive the
    token join avoids by construction.

    `words` is an iterable of lowercase words (the real lists are
    10^2-10^3 entries — broadcast-sized by orders of magnitude).

    Returns the input columns plus (n_badwords, keep).

    Scale shape: one explode to (id, token) rows, one broadcast
    left-semi-shaped join against the word list, one map-side-combined
    per-doc count, one join back — the corpus text is never shuffled."""
    wl = list(dict.fromkeys(w.lower() for w in words))
    if not wl:
        raise ValueError("badword_filter: empty word list")
    spark = df.sparkSession
    wdf = local_frame(spark, [(w,) for w in wl], "__bw string")
    hits = (
        df.select(id_col, F.explode(ws_token_array(text_col)).alias("__t"))
        .join(F.broadcast(wdf), F.col("__t") == F.col("__bw"), "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_badwords"))
    )
    return (
        df.join(hits, id_col, "left")
        .withColumn("n_badwords", F.coalesce("n_badwords", F.lit(0)))
        .withColumn("keep", F.col("n_badwords") == 0)
    )


def line_boilerplate_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    min_df: int = 2,
    min_chars: int = 1,
    with_text: bool = False,
) -> DataFrame:
    """Line-level boilerplate removal (RefinedWeb §Line-wise filtering /
    the CCNet observation): a LINE that recurs across >= `min_df`
    DISTINCT documents — navigation chrome, cookie banners, "subscribe to
    our newsletter" — is template, not content; remove every occurrence
    and keep the rest of each document intact. Complements
    exact_substring_dedup (token-window granularity, first occurrence
    kept) with line granularity and NO survivor: template lines carry no
    training signal, so none is kept.

    Matching is on the TRIMMED line; lines whose trimmed form is shorter
    than `min_chars` (blank separators, lone punctuation) are never
    flagged — removing every empty line because empties are "frequent"
    would mangle paragraph structure. With `group_col` (e.g. the
    registrable domain) frequency is counted within the group, the
    RefinedWeb recipe — site chrome recurs within a site; across sites
    the same line is usually legitimate prose.

    Returns one row per input document:
    (id [, group], n_lines, n_lines_removed, kept_md5 [, kept_text]),
    kept_md5 = md5 of surviving lines '\\n'-joined in original order
    (md5('') when everything was boilerplate).

    Scale shape: one posexplode to (doc, pos, line) rows; the
    distinct-document line frequency is a two-level aggregate keyed on
    (group, line) — partial-aggregated map-side, so a line recurring
    10^6 times in a partition contributes one row to the shuffle; the
    flagged-line table joins back on the same key (broadcast-eligible:
    flagged boilerplate is tiny relative to the corpus); reassembly is
    one groupBy(id) of kept lines. No window over the corpus, no UDF,
    no driver state."""
    if min_df < 2:
        raise ValueError(f"line_boilerplate_dedup: min_df must be >= 2, got {min_df}")
    gcols = [group_col] if group_col else []
    occ = (
        df.select(id_col, *gcols, text_col)
        .select(
            id_col,
            *gcols,
            F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "__line"),
        )
        .withColumn("__key", F.trim("__line"))
    )
    occ = _materialize(occ)
    freq = (
        occ.filter(F.length("__key") >= min_chars)
        .groupBy(*gcols, "__key")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select(*gcols, "__key")
    )
    kept = occ.join(freq, [*gcols, "__key"], "left_anti")
    agg_keep = kept.groupBy(id_col, *gcols).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("__kept_text"),
        F.count("*").alias("__n_kept"),
    )
    totals = occ.groupBy(id_col, *gcols).agg(F.count("*").alias("n_lines"))
    return (
        totals.join(agg_keep, [id_col, *gcols], "left")
        .select(
            id_col,
            *gcols,
            "n_lines",
            (F.col("n_lines") - F.coalesce("__n_kept", F.lit(0)))
            .alias("n_lines_removed"),
            F.md5(F.coalesce("__kept_text", F.lit(""))).alias("kept_md5"),
            *(
                [F.coalesce("__kept_text", F.lit("")).alias("kept_text")]
                if with_text else []
            ),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, the standard
    CC quality gate): per document,
      - dup_line_ratio: 1 - distinct(lines)/lines (boilerplate detector)
      - top_bigram_frac: occurrences of the most frequent word 2-gram over
        total 2-grams (template/spam detector).
    dup_line_ratio is pure array built-ins (no shuffle). top_bigram_frac
    needs a per-(doc, gram) count — explode -> two-level groupBy keyed on
    (doc_id, gram) then (doc_id): relational, map-side combined, never a
    per-doc Python loop. Docs with < 2 tokens get 0.0 for both."""
    lines = F.split(F.col(text_col), r"\n")
    n_lines = F.size(lines)
    dup_line_ratio = F.when(
        n_lines > 0,
        F.lit(1.0) - F.size(F.array_distinct(lines)) / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    # bigrams via exploded_ngrams (position explode): exploding a
    # transform()-built gram array lets InferFiltersFromGenerate +
    # predicate pushdown inline the lambda into a Filter that re-splits the
    # text per element — O(len^2) per doc (see token_grams). Docs with
    # < 2 tokens are filtered out BEFORE the gram stage (exploded_ngrams
    # would give them a single all-tokens gram; the documented contract is
    # 0.0, which the left join's coalesce restores).
    grams = exploded_ngrams(
        df.filter(word_count(text_col) >= 2), text_col, id_col, n=2
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("n"))
    top = per_gram.groupBy(id_col).agg(
        F.max("n").alias("top_n"), F.sum("n").alias("total_n")
    )
    return (
        df.withColumn("dup_line_ratio", dup_line_ratio)
        .join(top, on=id_col, how="left")
        .withColumn(
            "top_bigram_frac",
            F.coalesce(F.col("top_n") / F.col("total_n"), F.lit(0.0)),
        )
        .drop("top_n", "total_n")
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score; all JVM-side."""
    length = F.length(F.col(text_col))
    n_tokens = word_count(text_col)
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.!?,;:]", ""))
    upper = F.length(F.regexp_replace(F.col(text_col), r"[^A-Z]", ""))
    alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    toks = F.split(F.lower(F.col(text_col)), r"[^\p{L}]+")
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), sw))
    return (
        df.withColumn("n_chars_q", length)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_word_len", length / F.greatest(n_tokens, F.lit(1)))
        .withColumn("punct_ratio", punct / F.greatest(length, F.lit(1)))
        .withColumn("upper_ratio", upper / F.greatest(alpha, F.lit(1)))
        .withColumn("stopword_hits", stop_hits)
        .withColumn(
            "quality",
            (
                F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
                + F.least(stop_hits / F.lit(5.0), F.lit(1.0)) * 0.4
                + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.2
            ),
        )
    )


def ws_token_array(text_col: str, lowered: bool = True):
    """Whitespace tokens as a non-empty-string array column. F.trim strips
    SPACES only, so '\\ntext\\n' split on \\s+ yields phantom '' tokens at
    the edges — every consumer that counts or n-grams tokens must filter
    them (the hypothesis differential in tests/test_property.py is the
    regression net for this class of bug)."""
    base = F.lower(F.col(text_col)) if lowered else F.col(text_col)
    # array_remove, not F.filter(lambda): keeps the expression lambda-free
    # so the gram stream's no-lambda plan pins (the O(len^2) inlining
    # trap detector) stay strict
    return F.array_remove(F.split(F.trim(base), r"\s+"), "")


def word_count(text_col: str):
    """Whitespace-token count of `text_col` — the one word count (case
    never changes it); NULL for a NULL text."""
    return F.size(ws_token_array(text_col, lowered=False))


def _gram_starts(toks, n):
    """Start positions 0..max(size - n, 0) of the n-grams of array column
    `toks`: a row with fewer than n tokens keeps one start, whose window
    holds all of them."""
    return F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))


def _gram_at(toks, pos, n):
    """The n-token window of array column `toks` starting at 0-based `pos`."""
    return F.slice(toks, pos + 1, n)


def token_grams(df: DataFrame, toks: str, n, *keep: str) -> DataFrame:
    """(*keep, pos, gram): the one word-gram stream — one row per n-gram
    start position of the token-array column `toks` of df, gram = the
    array of up to n tokens starting there. A row with fewer than n tokens
    yields one window holding all of them (an empty array for none);
    callers that want whole n-grams only pre-filter size(toks) >= n. `n`
    is an int, or an integer column named in `keep` (one stream for
    several orders).

    Explodes the POSITIONS, deliberately not a transform()-built gram
    array: exploding such an array looks equivalent, but Spark's
    InferFiltersFromGenerate + predicate pushdown inline the whole lambda
    into a Filter where the tokens alias is re-split PER LAMBDA ELEMENT —
    O(len^2) per document (measured ~15x on the contamination query at
    sf0.1; 26 s against 0.9 s for the quality classifier's features of
    250 docs of 1,083 tokens, local[2] on a 4-vCPU host). Exploding the
    position sequence keeps the tokens array a plain column reference
    through the Generate; each output row then does one O(n) slice."""
    return df.select(
        *keep, F.col(toks), F.explode(_gram_starts(toks, n)).alias("pos")
    ).select(*keep, "pos", _gram_at(toks, F.col("pos"), n).alias("gram"))


def unigram_bigram_rows(
    df: DataFrame, text_col: str, id_col: str, bigrams: bool = True
) -> DataFrame:
    """(id, gram): one row per lowered whitespace unigram and (with
    `bigrams`) bigram OCCURRENCE — the feature grams of the DSIR and
    quality-classifier models. One scan: each doc's token array is
    exploded once per order and fed to token_grams, with the order as
    its gram length and a pre-filter of docs shorter than it; a doc with
    no tokens yields no rows."""
    tk = "__ub_tk"
    order = F.explode(F.array(F.lit(1), F.lit(2))) if bigrams else F.lit(1)
    return token_grams(
        df.select(F.col(id_col), ws_token_array(text_col).alias(tk),
                  order.alias("__ub_n"))
        .filter(F.size(tk) >= F.col("__ub_n")),
        tk, F.col("__ub_n"), id_col, "__ub_n",
    ).select(id_col, F.concat_ws(" ", "gram").alias("gram"))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (regex word pieces +
    chars/4 heuristic for long words) — built-ins only."""
    ws_tokens = word_count(text_col)
    word_pieces = F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"[A-Za-z]{1,8}|\d{1,3}|[^\sA-Za-z\d]"), F.lit(0)
        )
    )
    return df.withColumn("ws_tokens", ws_tokens).withColumn("est_bpe_tokens", word_pieces)


def normalize_text(
    df: DataFrame, text_col: str = "text", out: str = "text_nfc", form: str = "NFC"
) -> DataFrame:
    """Unicode normalization (default NFC) — the canonical first step of a
    web-text pipeline (crawled pages mix precomposed and combining-mark
    encodings of the same glyphs, which breaks exact dedup and tokenizer
    merges). Spark SQL has no normalization built-in, so this is an
    Arrow-batched scalar UDF over Python's unicodedata (UAX#15) — a pure
    per-row string map, narrow, no shuffle. ASCII-only batches short-circuit
    via str.isascii() (NFC is the identity on ASCII)."""
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @F.arrow_udf("string")
    def norm_udf(s: pa.Array) -> pa.Array:
        return pa.array(
            [
                None if t is None
                else (t if t.isascii() else unicodedata.normalize(form, t))
                for t in s.to_pylist()
            ],
            type=pa.string(),
        )

    return df.withColumn(out, norm_udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# HTML -> text extraction — the heavy binary column, JVM-only
# ---------------------------------------------------------------------------

# common entities, decoded by literal replace; '&amp;' LAST so already-
# escaped ampersands don't double-unescape
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
]


def html_to_text(
    df: DataFrame, html_col: str = "html", out: str = "extracted_text"
) -> DataFrame:
    """Visible-text extraction from an html BINARY column — all JVM
    built-ins (decode + regexp_replace chain under whole-stage codegen, no
    Python): drop <script>/<style> blocks, strip tags, decode common
    entities, collapse whitespace. Patterns avoid backreferences so the
    same expressions run on RE2-family engines (the DuckDB oracle).

    Scale note: this is the ONLY operator that reads the html column; every
    other pipeline stage prunes it at the scan. Extraction is narrow — at
    100 TB the cost is the html scan IO itself, so run it once and persist
    `extracted_text` rather than re-extracting per downstream query."""
    s = F.decode(F.col(html_col), "UTF-8")
    s = F.regexp_replace(s, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    # tags must start with a letter, '/', or '!' — a bare '<' in unescaped
    # embedded content (e.g. 'total < 19549') is NOT a tag and must not
    # swallow everything to the next '>'
    s = F.regexp_replace(s, r"(?s)</?[A-Za-z!][^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    return df.withColumn(out, F.trim(F.regexp_replace(s, r"\s+", " ")))


# ---------------------------------------------------------------------------
# Benchmark decontamination — n-gram overlap against an eval set
# ---------------------------------------------------------------------------

def exploded_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
    n: int = 3,
    out: str = "gram",
) -> DataFrame:
    """(id, gram) rows — one row per word-n-gram OCCURRENCE, the
    token_grams stream (position explode, lambda-free) with each gram
    space-joined. Documents with fewer than n tokens yield one gram of all
    their tokens, matching with_ngram_set; pre-filter on the token count
    to drop them."""
    toks = "__ng_toks"
    ids = [id_col] if id_col is not None else []
    return token_grams(
        df.withColumn(toks, ws_token_array(text_col)), toks, n, *ids
    ).select(*ids, F.concat_ws(" ", "gram").alias(out))


def eval_ngram_hashes(
    eval_df: DataFrame, text_col: str = "text", n: int = 13
) -> DataFrame:
    """Distinct xxhash64 over the eval/benchmark set's word n-grams — the
    small side of decontamination (benchmarks are MBs; hashing keeps the
    broadcast a single long per gram instead of the gram text)."""
    return (
        exploded_ngrams(eval_df, text_col, None, n)
        .select(F.xxhash64("gram").alias("gram_hash"))
        .distinct()
    )


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """(id, n_hits) for every corpus document sharing at least one word
    n-gram with the eval set — the GPT-3-style train/test overlap check
    (Brown et al. 2020, app. C: 13-gram decontamination).

    Scale shape: the eval gram-hash set is BROADCAST (benchmarks are tiny
    next to the corpus), the corpus explodes its grams map-side and joins
    without a corpus shuffle; only HIT rows (rare) reach the per-doc count,
    so the one shuffle is proportional to contamination, not corpus size.
    n_hits counts DISTINCT shared grams (countDistinct is partial-agg'd in
    the same shuffle; occurrences of one gram don't inflate the count)."""
    ev = eval_ngram_hashes(eval_df, text_col, n)
    grams = exploded_ngrams(corpus, text_col, id_col, n).select(
        id_col, F.xxhash64("gram").alias("gram_hash")
    )
    return (
        grams.join(F.broadcast(ev), "gram_hash")
        .groupBy(id_col)
        .agg(F.countDistinct("gram_hash").alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    max_hits: int = 0,
) -> DataFrame:
    """Drop corpus documents with more than ``max_hits`` eval-set n-gram
    overlaps (default: any overlap). left_anti against the (small) hit
    report — the corpus fact table is never shuffled."""
    hits = contamination_report(corpus, eval_df, text_col, id_col, n).filter(
        F.col("n_hits") > max_hits
    )
    return corpus.join(hits.select(id_col), on=id_col, how="left_anti")


def fuzzy_contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    shingle_k: int = 5,
    est_margin: float = 0.25,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """FUZZY train/test overlap: (doc_id, eval_id, jaccard) for every
    corpus document whose exact word-n-gram Jaccard against some eval
    document clears ``jaccard_threshold``. Catches the paraphrased /
    lightly-edited benchmark copies that exact 13-gram decontamination
    (contamination_report) misses — a doc sharing no single verbatim
    13-gram can still be 60% 3-gram-identical to an eval item.

    The cross-TABLE estimate-then-verify shape (jaccard_verified_pairs'
    trunk, without the self-join):

      1. MinHash signatures for both sides — the corpus pass is the only
         all-corpus UDF stage (shareable via ``corpus_sigs``); the eval
         side is benchmark-sized, its band-key table and signature table
         are BROADCAST;
      2. candidates: corpus band keys ⋈ broadcast(eval band keys) on
         (band_id, band_hash) — the corpus is never shuffled, never
         self-joined; fan-out is |contaminated-ish docs|, not |corpus|²;
      3. estimated-Jaccard prefilter at threshold − est_margin (zip_with
         over the two signatures, eval side broadcast again);
      4. EXACT word-n-gram Jaccard on the survivors: corpus gram sets are
         computed only for candidate docs (semi-join fan-in), eval gram
         sets broadcast.

    A corpus row that IS an eval document (identical text) reports
    jaccard 1.0 — exactly what decontamination wants removed. Scale
    shape at 100 TB: one corpus signature pass + one broadcast hash join
    per stage; nothing shuffles on corpus size."""
    if corpus_sigs is None:
        corpus_sigs = _materialize(
            minhash_signatures(corpus, text_col, id_col, n_perm, shingle_k)
        )
    eval_ids = eval_df.select(F.col(id_col).alias(eval_id_col), text_col)
    # benchmark-sized: materialize so the signature UDF runs ONCE — the
    # band-key explode and both broadcasts below otherwise each re-run
    # the whole eval Python stage (r9: 8 ArrowEvalPython nodes in the
    # plan for one logical signature pass)
    eval_sigs = _materialize(minhash_signatures(
        eval_ids, text_col, eval_id_col, n_perm, shingle_k
    ))
    rows_per_band = n_perm // bands
    cb = band_keys(corpus_sigs, id_col, bands, rows_per_band)
    eb = band_keys(eval_sigs, eval_id_col, bands, rows_per_band)
    cands = (
        cb.join(F.broadcast(eb), ["band_id", "band_hash"])
        .select(id_col, eval_id_col)
        .distinct()
    )
    est = (
        cands.join(
            corpus_sigs.select(id_col, F.col("signature").alias("sig_c")),
            id_col,
        )
        .join(
            F.broadcast(
                eval_sigs.select(eval_id_col, F.col("signature").alias("sig_e"))
            ),
            eval_id_col,
        )
        .filter(
            F.expr(
                "size(filter(zip_with(sig_c, sig_e, (x, y) -> x = y), v -> v))"
                f" / cast(size(sig_c) as double) >= "
                f"{jaccard_threshold - est_margin}"
            )
        )
        .select(id_col, eval_id_col)
    )
    # |contaminated-ish| id pairs only — materialize so the exact-verify
    # stage below (which reads est twice: the gram semi-join and the
    # final join) doesn't re-run the candidate join + estimate filter
    est = _materialize(est)
    gc = (
        with_ngram_set(
            corpus.join(est.select(id_col).distinct(), id_col, "left_semi"),
            text_col, "grams_c", ngram_n,
        ).select(id_col, "grams_c")
    )
    ge = with_ngram_set(eval_ids, text_col, "grams_e", ngram_n).select(
        eval_id_col, "grams_e"
    )
    return (
        est.join(gc, id_col)
        .join(F.broadcast(ge), eval_id_col)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("grams_c", "grams_e"))
            / F.greatest(F.size(F.array_union("grams_c", "grams_e")), F.lit(1)),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(id_col, eval_id_col, "jaccard")
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 16,
    shingle_k: int = 5,
    est_margin: float = 0.25,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Drop corpus documents fuzzy-contaminated against the eval set
    (fuzzy_contamination_report above the threshold). left_anti against
    the (small) hit report — the corpus fact table is never shuffled."""
    hits = fuzzy_contamination_report(
        corpus, eval_df, text_col, id_col, "eval_id", jaccard_threshold,
        ngram_n, n_perm, bands, shingle_k, est_margin, corpus_sigs,
    )
    return corpus.join(
        hits.select(id_col).distinct(), on=id_col, how="left_anti"
    )


# ---------------------------------------------------------------------------
# PII scrubbing — regex masking, pure JVM
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2-family engines (DuckDB)
# interpret identically (no lookaround/backrefs), so the scrub is
# oracle-checkable and portable.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """Mask emails / IPv4s / NANP-style phone numbers with typed
    placeholders and count each per document. All JVM built-ins (chained
    regexp_replace + regexp_count under whole-stage codegen) — narrow, no
    shuffle, no Python; the standard pre-training scrub pass. Counts are
    computed on the ORIGINAL text (each pattern's count is independent of
    the other replacements; replacement order is email -> ip -> phone)."""
    scrubbed = F.col(text_col)
    cols = {}
    for name, pat, token in PII_PATTERNS:
        cols[f"n_{name}"] = F.regexp_count(F.col(text_col), F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.withColumns({**cols, out_col: scrubbed})


def term_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus term statistics: term -> (term_freq, doc_freq) — the IDF /
    vocabulary-analysis building block. Tokenization matches language_id
    (lowercase, split on non-letters, empties dropped).

    Scale shape: two-level aggregation — first groupBy (term, doc) with a
    per-doc count (map-side combine collapses each document's repeats
    BEFORE the shuffle, so heavy-hitter terms ship one row per (term, doc),
    not one per occurrence), then groupBy term sums tf and counts rows for
    an EXACT doc_freq with no countDistinct expansion."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(
                F.split(F.lower(F.col(text_col)), r"[^\p{L}]+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    per_doc = toks.groupBy("term", id_col).agg(F.count("*").alias("n"))
    return per_doc.groupBy("term").agg(
        F.sum("n").alias("term_freq"),
        F.count("*").alias("doc_freq"),
    )


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = (),
    min_count: int = 5,
    topk: int = 20,
) -> DataFrame:
    """Pointwise-mutual-information collocations per group: adjacent
    token pairs ranked by PMI = ln(c_ab * N / (c_a * c_b)) — the classic
    collocation detector (Church & Hanks 1990); on web text it surfaces
    boilerplate phrases ("all rights reserved") that repetition filters
    should be catching. Returns (group..., term_a, term_b, n_pair, pmi,
    rk), top-k by PMI (pair tiebreak), pairs below `min_count` pruned
    BEFORE the unigram joins.

    Scale shape: bigram and unigram counts are each one
    map-side-combined groupBy; the min_count prune cuts the pair table
    before it joins unigram counts twice on (group, term) equi-keys; the
    final top-k is a per-group window over the pruned pair table (k
    small). N is the group's token TOTAL, derived from the unigram table
    itself — no second corpus pass."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from pyspark.sql import Window

    gcols = list(group_cols)
    toks = df.select(
        *gcols, ws_token_array(text_col).alias("__tk")
    )
    uni = (
        toks.select(*gcols, F.explode("__tk").alias("term"))
        .groupBy(*gcols, "term")
        .agg(F.count("*").alias("c"))
    )
    totals = uni.groupBy(*gcols).agg(F.sum("c").alias("n_total"))
    pairs = (
        token_grams(toks.filter(F.size("__tk") >= 2), "__tk", 2, *gcols)
        .groupBy(*gcols, F.col("gram")[0].alias("term_a"),
                 F.col("gram")[1].alias("term_b"))
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    ua = uni.select(*gcols, F.col("term").alias("term_a"), F.col("c").alias("c_a"))
    ub = uni.select(*gcols, F.col("term").alias("term_b"), F.col("c").alias("c_b"))
    join_a = gcols + ["term_a"]
    join_b = gcols + ["term_b"]
    scored = (
        pairs.join(ua, join_a)
        .join(ub, join_b)
        .join(F.broadcast(totals), gcols) if gcols else
        pairs.join(ua, join_a).join(ub, join_b).crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("n_pair") * F.col("n_total")).cast("double")
        / (F.col("c_a") * F.col("c_b")).cast("double")
    )
    w = Window.partitionBy(*gcols).orderBy(
        F.desc("pmi"), "term_a", "term_b"
    ) if gcols else Window.orderBy(F.desc("pmi"), "term_a", "term_b")
    return (
        scored.withColumn("pmi", pmi)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select(*gcols, "term_a", "term_b", "n_pair",
                F.round("pmi", 4).alias("pmi"), "rk")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    containment_threshold: float = 0.8,
    ngram_n: int = 3,
    max_gram_df: int = 20,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric containment detection — doc-inside-doc: for candidate
    pairs, C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| (Broder 1997's
    containment, the quantity Jaccard-based near-dup MISSES: a tweet
    quoted inside a news article has Jaccard ~0.05 but containment ~1.0).
    Returns unordered pairs with BOTH directions scored:
    (id_a, id_b, n_common, c_a_in_b, c_b_in_a), keeping pairs where
    either direction clears the threshold.

    Scale shape: candidates come from an inverted-index self-join on
    n-grams — NOT MinHash-LSH, which is tuned for symmetric resemblance
    and under-generates exactly the small-in-large pairs this operator
    exists for. Ubiquitous grams (doc freq > `max_gram_df` — boilerplate
    phrases) are pruned BEFORE the self-join, bounding each gram's
    pair fan-out at max_gram_df^2; `max_bucket_size` adds a hard capped
    (logged, never silent) backstop via util.capped_by_bucket. The
    verify stage joins full gram sets only for surviving candidate
    pairs (fan-in = |candidates|, never |docs|^2); integer set sizes +
    one division, so a second engine reproduces every score exactly."""
    if not 0.0 < containment_threshold <= 1.0:
        raise ValueError(
            "containment_pairs: containment_threshold must be in (0, 1], "
            f"got {containment_threshold}"
        )
    from slowspark.util import capped_by_bucket, materialize

    g = materialize(
        with_ngram_set(df, text_col, "grams", ngram_n).select(
            F.col(id_col).alias("__id"), "grams"
        )
    )
    postings = g.select("__id", F.explode("grams").alias("gram"))
    rare = postings.groupBy("gram").agg(F.count("*").alias("__df")).filter(
        F.col("__df") <= max_gram_df
    )
    # materialized: both sides of the self-join read this subtree — the
    # lineage cut halves the explode+df-join work (measured at sf0.1)
    pruned = materialize(
        postings.join(rare.select("gram"), "gram", "left_semi")
    )
    if max_bucket_size is not None:
        pruned = capped_by_bucket(
            pruned, ["gram"], max_bucket_size, "containment_pairs"
        )
    # candidate agg counts shared RARE grams per pair (same shuffle the
    # old .distinct() paid) — it feeds a sound prefilter: n_common <=
    # shared_rare + min(nonrare_a, nonrare_b), and a pair survives only
    # if n_common >= tau * min(|A|,|B|). On the sf0.1 corpus this cuts
    # the verify join from 1.1M candidate pairs to the plausible few
    # thousand — at scale it bounds verify fan-in by TRUE near-pairs,
    # not by every pair sharing one rare gram.
    cand = (
        pruned.alias("a")
        .join(
            pruned.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__shared_rare"))
    )
    stats = (
        g.select("__id", F.size("grams").cast("long").alias("__n"))
        .join(
            pruned.groupBy("__id").agg(F.count("*").alias("__n_rare")),
            "__id",
            "left",
        )
        .withColumn(
            "__nonrare",
            F.col("__n") - F.coalesce("__n_rare", F.lit(0)),
        )
        .select("__id", "__n", "__nonrare")
    )
    sa = stats.select(
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        F.col("__nonrare").alias("__nra"),
    )
    sb = stats.select(
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("__nonrare").alias("__nrb"),
    )
    plausible = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("__shared_rare") + F.least("__nra", "__nrb")
            >= containment_threshold * F.least("__na", "__nb")
        )
        .select("id_a", "id_b")
    )
    ga = g.select(F.col("__id").alias("id_a"), F.col("grams").alias("__ga"))
    gb = g.select(F.col("__id").alias("id_b"), F.col("grams").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb"))
    scored = (
        plausible.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("n_common", inter)
        .withColumn(
            "c_a_in_b",
            F.col("n_common") / F.greatest(F.size("__ga"), F.lit(1)),
        )
        .withColumn(
            "c_b_in_a",
            F.col("n_common") / F.greatest(F.size("__gb"), F.lit(1)),
        )
        .select("id_a", "id_b", "n_common", "c_a_in_b", "c_b_in_a")
    )
    return scored.filter(
        F.greatest("c_a_in_b", "c_b_in_a") >= containment_threshold
    ).select(
        "id_a",
        "id_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.round("c_a_in_b", 4).alias("c_a_in_b"),
        F.round("c_b_in_a", 4).alias("c_b_in_a"),
    )


def duplicated_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-text diagnostic (Lee et al. 2022's
    reporting metric): the fraction of the doc's distinct word n-grams
    that also appear in at least one OTHER document — the number dedup
    papers report to show how much near-duplicate text a corpus carries
    (and the before/after evidence that a dedup pass worked). Returns
    (id, n_grams, n_shared, dup_fraction).

    Scale shape: gram explode -> one map-side-combined groupBy(gram)
    for document frequencies -> join back on gram -> one groupBy(id).
    The df table is gram-keyed (bounded by distinct grams, not
    occurrences); no pairs are ever materialized — this is the O(corpus)
    sibling of the O(pairs) containment/jaccard operators."""
    from slowspark.util import materialize

    # materialized once: the gram arrays feed BOTH the df count and the
    # shared-gram probe — without the lineage cut the tokenize+ngram
    # subtree runs twice (measured 9.3s -> the dominant cost at sf0.1)
    g = materialize(
        with_ngram_set(df, text_col, "grams", n).select(
            F.col(id_col).alias("__id"), "grams"
        )
    )
    posts = g.select("__id", F.explode("grams").alias("gram"))
    # only grams with df > 1 matter downstream: n_grams is row-local
    # (array size), so the join-back moves ONLY the duplicated slice —
    # on a mostly-unique corpus that is a few percent of the gram table
    dup_grams = (
        posts.groupBy("gram")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > 1)
        .select("gram")
    )
    shared = (
        posts.join(dup_grams, "gram", "left_semi")
        .groupBy("__id")
        .agg(F.count("*").alias("n_shared"))
    )
    per = (
        g.select("__id", F.size("grams").cast("long").alias("n_grams"))
        .join(shared, "__id", "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
    )
    return per.select(
        F.col("__id").alias(id_col),
        "n_grams",
        "n_shared",
        F.round(
            F.col("n_shared") / F.greatest(F.col("n_grams"), F.lit(1)), 4
        ).alias("dup_fraction"),
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram Shannon entropy (nats): H = ln(n) - 
    (sum_t c_t * ln(c_t)) / n over the doc's token counts — low entropy
    flags repetition spam ("buy now buy now"), near-maximal entropy
    flags hash/UID word salad; the cheap single-doc complement to the
    cross-doc Gopher repetition rules. Returns (id, n_tokens, entropy).

    Row-local after one groupBy(id, token) count — the sum folds in
    array_sort order so the float accumulation is deterministic under
    shuffle (and reproducible by a second engine folding the same
    order)."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(ws_token_array(text_col)).alias("tok"),
    )
    counts = toks.groupBy("__id", "tok").agg(F.count("*").alias("c"))
    per = counts.groupBy("__id").agg(
        F.sum("c").alias("n_tokens"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "tok",
                        (F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("clnc"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["clnc"],
        ).alias("__sum_clnc"),
    )
    h = F.log(F.col("n_tokens").cast("double")) - F.col("__sum_clnc") / F.col(
        "n_tokens"
    ).cast("double")
    return per.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        F.round(h, 4).alias("entropy"),
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    top_k: int = 5,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are the maximal runs of non-stopword tokens; each word scores
    deg(w)/freq(w) where, within one document, freq(w) = number of
    occurrences of w in candidate phrases and deg(w) = sum of the
    lengths of the phrases those occurrences sit in (co-occurrence
    degree, self included); a phrase scores the sum of its member-word
    scores (repeated words count per occurrence, per the paper). Output:
    (id, phrase, n_words, n_occurrences, score) — the top_k DISTINCT
    phrases per document by (score desc, phrase asc).

    The cheap unsupervised labeler: no model, no corpus pass — per-doc
    keyword tags for search-index enrichment, topic bucketing, and the
    dataset-card "what is in this corpus" samples, at one narrow
    shuffle per stage, all keyed by doc.

    Determinism/oracle contract: tokenization is the repo convention
    (lower, split on non-letters); phrase assembly sorts by token
    position inside the aggregation (sort_array over (pos, tok)
    structs — collect_list order is partition-dependent, the struct
    sort is not); scores are IEEE doubles rounded to 6dp (the float
    oracle contract — the sums are over a handful of deg/freq
    rationals, whose order-dependent low bits sit far below 6dp).

    Scale shape: every stage is keyed by doc id (token explode →
    per-doc running-sum window over doc-sized partitions → two
    doc-keyed groupBys → per-doc top-k window). Nothing is
    corpus-wide; skew is bounded by the longest single document, the
    same envelope as gopher_repetition's."""
    from pyspark.sql import Window

    if lang not in _STOPWORDS:
        raise ValueError(
            f"rake_keywords: no stopword list for lang={lang!r} "
            f"(have: {sorted(_STOPWORDS)})"
        )
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    sw = _STOPWORDS[lang]
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}]+", " ")
    )
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(norm, " ")).alias("__pos", "__tok"),
        )
        .filter(F.col("__tok") != "")
        .withColumn(
            "__stop",
            F.col("__tok").isin(sw).cast("int"),
        )
    )
    w = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    phrased = toks.withColumn("__pid", F.sum("__stop").over(w)).filter(
        F.col("__stop") == 0
    )
    # materialized: three consumers (occurrences twice via word_scores +
    # the phrase_scores join-back) otherwise each re-run the whole
    # tokenize -> running-sum window -> phrase-assembly subtree — the
    # r9 before-plan scanned the corpus and exchanged the exploded token
    # table THREE times for one logical pass
    phrases = _materialize(
        phrased.groupBy("__id", "__pid")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__pos", "__tok"))
            ).alias("__s")
        )
        .select(
            "__id",
            "__pid",
            F.expr("transform(__s, x -> x.__tok)").alias("__words"),
            F.size("__s").alias("__plen"),
        )
    )
    occurrences = phrases.select(
        "__id", "__pid", "__plen", F.explode("__words").alias("__w")
    )
    word_scores = occurrences.groupBy("__id", "__w").agg(
        (
            F.sum("__plen").cast("double") / F.count("*").cast("double")
        ).alias("__ws")
    )
    phrase_scores = (
        occurrences.join(word_scores, ["__id", "__w"])
        .groupBy("__id", "__pid")
        .agg(F.sum("__ws").alias("__score"))
        .join(
            phrases.select(
                "__id",
                "__pid",
                F.concat_ws(" ", "__words").alias("phrase"),
                F.col("__plen"),
            ),
            ["__id", "__pid"],
        )
    )
    dedup = phrase_scores.groupBy("__id", "phrase").agg(
        F.max("__plen").alias("n_words"),
        F.count("*").alias("n_occurrences"),
        F.max("__score").alias("__score"),
    )
    # rank on the ROUNDED score: ties between mathematically-equal
    # phrases must resolve by phrase order in BOTH engines, not by
    # sub-6dp summation-order bits
    rk = Window.partitionBy("__id").orderBy(
        F.round("__score", 6).desc(), F.col("phrase").asc()
    )
    return (
        dedup.withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") <= top_k)
        .select(
            F.col("__id").alias(id_col),
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.round("__score", 6).alias("score"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    positions: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): normalize to a letters-only stream,
    take all character k-grams, hash each, slide a window of w
    consecutive hashes and record the minimum of each window (RIGHTMOST
    position on ties, per the paper), dedup the selections. Output one
    row per selected fingerprint: (id, pos, fp) with pos the 1-based
    k-gram position in the normalized stream. With positions=False the
    output is the DISTINCT (id, fp) set only — the tie rule and window
    arithmetic drop out (ties only affect which POSITION is reported,
    never which hash), the per-window work is a plain string slice+min
    with no struct allocation, and the per-doc fp set is deduped
    array-locally, so a corpus-wide DISTINCT shuffle downstream is
    unnecessary — the right call when fingerprints feed a join rather
    than a region report.

    The winnowing guarantee: any shared substring of length >= k+w-1
    between two documents yields at least one IDENTICAL selected
    fingerprint in both — local, position-robust overlap detection with
    density 2/(w+1), the copy-detection primitive between exact-hash
    dedup (whole doc) and MinHash (global resemblance): joining
    selected fps finds which REGIONS overlap.

    Hash = md5 hex of the gram, compared lexicographically — not a
    rolling integer hash: md5 is the one hash both engines share
    bit-for-bit (the repo's cross-engine contract), ASCII-ordered
    identically everywhere, and collision-free at any corpus size.

    Scale shape: ZERO shuffles before the output explode — normalize,
    gram, hash, window-argmin, and dedup are all array-local codegen
    inside one projection (the chunk_passages discipline); cost is
    O(len * w) string/array ops per doc, bounded by the longest doc.
    The fingerprint table then joins/aggregates downstream on fp with
    ordinary equi-join shapes."""
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k and w must be >= 1, "
                         f"got k={k}, w={w}")
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}]+", "")
    base = df.select(
        F.col(id_col).alias("__id"), norm.alias("__s")
    ).filter(F.length("__s") >= k)
    if not positions:
        hashes = F.expr(
            f"transform(sequence(1, length(__s) - {k} + 1), "
            f"i -> md5(substring(__s, i, {k})))"
        )
        hd = base.select("__id", hashes.alias("__h"))
        sel = F.expr(
            f"array_distinct(transform("
            f"sequence(1, greatest(size(__h) - {w} + 1, 1)), "
            f"j -> array_min(slice(__h, j, {w}))))"
        )
        return hd.select(
            F.col("__id").alias(id_col), F.explode(sel).alias("fp")
        )
    # (fp, -pos) structs: array_min over a slice yields the window's
    # min hash with the RIGHTMOST position on ties in ONE pass — the
    # negated position makes struct order encode the paper's tie rule,
    # so each window costs one slice + one min instead of three slices
    # + two mins + a reverse scan (3x fewer array ops, measured)
    hashes = F.expr(
        f"transform(sequence(1, length(__s) - {k} + 1), "
        f"i -> struct(md5(substring(__s, i, {k})) AS fp, -i AS np))"
    )
    hd = base.select("__id", hashes.alias("__h"))
    # windows that run off the end never form (nwin = len-w+1, floored
    # at 1 so short docs emit their global min, per the paper's
    # boundary convention; slice truncates at the end)
    sel = F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(size(__h) - {w} + 1, 1)), "
        f"j -> array_min(slice(__h, j, {w}))))"
    )
    return (
        hd.select("__id", F.explode(sel).alias("__f"))
        .select(
            F.col("__id").alias(id_col),
            (-F.col("__f.np")).cast("long").alias("pos"),
            F.col("__f.fp").alias("fp"),
        )
    )


BLOCK_SPLIT_RE = (
    r"(?is)</?(?:p|div|td|th|h[1-6]|li|ul|ol|table|tr|section|article|"
    r"header|footer|nav|aside|blockquote|br)[^>]*>"
)

# per-block visible text as one SQL expression over the lambda var `b`:
# strip remaining (inline) tags, decode the _HTML_ENTITIES chain in the
# same order html_to_text applies it, collapse whitespace
_BLOCK_TEXT_SQL = (
    "trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    "regexp_replace(b, '(?s)</?[A-Za-z!][^>]*>', ' '),"
    "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),"
    "'&quot;', '\\\"'), '&#39;', \"'\"), '&amp;', '&'),"
    "'\\\\s+', ' '))"
)


def main_content_blocks(
    df: DataFrame,
    html_col: str = "html",
    min_words: int = 10,
    max_link_density: float = 0.33,
) -> DataFrame:
    """Main-content extraction by block-level link density — the
    boilerpipe/jusText heuristic (Kohlschütter 2010, Pomikálek 2011)
    reduced to its load-bearing core: split the page at block-level tag
    boundaries, score each block by word count and link density
    (anchor-markup chars / visible chars), keep long low-link blocks.
    Navigation bars, footers, related-links boxes are short and
    link-dense; article bodies are long and link-sparse — this split is
    what html_to_text (which keeps EVERYTHING visible) cannot make, and
    it is the single highest-leverage cleaning step between raw crawl
    HTML and the quality filters.

    Returns the input plus (main_text, n_blocks, n_kept,
    boiler_frac): main_text = kept blocks joined with newlines in page
    order; boiler_frac = dropped visible chars / total visible chars
    (rounded 4dp — a per-doc cleaning diagnostic for dataset cards).

    Link density here is ANCHOR MARKUP length over visible length (the
    <a ...>inner</a> spans' inner HTML, tags included) — deliberately
    coarser than boilerpipe's anchor-token count but exactly
    reproducible in one pass on any RE2-family engine; nav/footer
    blocks score far above any threshold under either definition.

    Scale shape: the whole computation is ONE array-local projection
    (split -> transform(struct text, words, density) -> filter ->
    array_join) — zero shuffles, no explode, no UDF; like html_to_text
    this is the only scan of the html column, so run it once per
    snapshot and persist main_text."""
    if min_words < 1:
        raise ValueError(f"min_words must be >= 1, got {min_words}")
    if not 0.0 <= max_link_density <= 1.0:
        raise ValueError(
            f"max_link_density must be in [0, 1], got {max_link_density}"
        )
    s = F.decode(F.col(html_col), "UTF-8")
    s = F.regexp_replace(s, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    blocks = F.split(s, BLOCK_SPLIT_RE)
    anchor_len = (
        "aggregate(regexp_extract_all(b, '(?is)<a\\\\s[^>]*>(.*?)</a>', 1), "
        "0, (acc, x) -> acc + length(x))"
    )
    scored = F.expr(
        f"transform(__blocks, b -> struct("
        f"{_BLOCK_TEXT_SQL} AS txt, "
        f"size(array_remove(split({_BLOCK_TEXT_SQL}, '\\\\s+'), '')) AS nw, "
        f"{anchor_len} AS al))"
    )
    kept = F.expr(
        f"filter(__scored, x -> x.nw >= {min_words} AND "
        f"x.al <= {float(max_link_density)} * greatest(length(x.txt), 1))"
    )
    total_chars = F.expr(
        "aggregate(__scored, 0L, (acc, x) -> acc + length(x.txt))"
    )
    kept_chars = F.expr(
        "aggregate(__kept, 0L, (acc, x) -> acc + length(x.txt))"
    )
    return (
        df.withColumn("__blocks", blocks)
        .withColumn("__scored", scored)
        .withColumn("__kept", kept)
        .withColumn(
            "main_text",
            F.expr("array_join(transform(__kept, x -> x.txt), '\n')"),
        )
        .withColumn("n_blocks", F.expr("size(filter(__scored, x -> x.nw > 0))").cast("long"))
        .withColumn("n_kept", F.size("__kept").cast("long"))
        .withColumn(
            "boiler_frac",
            F.round(
                F.when(total_chars <= 0, F.lit(0.0)).otherwise(
                    (total_chars - kept_chars)
                    / total_chars.cast("double")
                ),
                4,
            ),
        )
        .drop("__blocks", "__scored", "__kept")
    )


def _aho_corasick_build(patterns: list) -> tuple:
    """Build the Aho-Corasick automaton (goto/fail/output) as plain
    tuples — picklable for a Spark broadcast. States are ints; goto is
    a list of {char: state} dicts; output[s] = tuple of pattern indexes
    whose match ENDS at state s (suffix links folded in, so one state
    visit reports every pattern ending there)."""
    from collections import deque

    goto: list = [{}]
    out: list = [()]
    for ix, p in enumerate(patterns):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append(())
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s] = out[s] + (ix,)
    fail = [0] * len(goto)
    q = deque()
    for ch, s in goto[0].items():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, tuple(out)


def _aho_corasick_dense(patterns: list) -> tuple:
    """Flatten the goto/fail/output automaton into dense numpy arrays
    (r8 VERDICT #4): the classic AC-to-DFA construction — fail links
    folded into a full (state, char-class) transition table in BFS
    order, so stepping is one table gather per char with NO per-char
    fail-chain walk. Returns
      (alpha_cps, delta, out_n, out_off, out_flat):
    - alpha_cps: sorted uint32 codepoints appearing in any pattern;
      class(c) = index in alpha_cps, or A (out-of-alphabet) otherwise
    - delta: (S, A+1) int32 DFA; column A (any non-pattern char) is 0
      (root) for every state — exactly the fail-to-root semantics
    - out_n/out_off/out_flat: ragged per-state pattern-index output
      lists (suffix links already folded by _aho_corasick_build)
    Size: S x (A+1) x 4 bytes — a 10^3-pattern lexicon is a few MB,
    broadcast once."""
    import numpy as np

    goto, fail, out = _aho_corasick_build(patterns)
    alphabet = sorted({ch for g in goto for ch in g})
    cls = {c: i for i, c in enumerate(alphabet)}
    alpha_cps = np.array([ord(c) for c in alphabet], dtype=np.uint32)
    n_states, n_cls = len(goto), len(alphabet)
    delta = np.zeros((n_states, n_cls + 1), dtype=np.int32)
    for c, s in goto[0].items():
        delta[0, cls[c]] = s
    from collections import deque

    q = deque(goto[0].values())
    while q:
        r = q.popleft()
        # BFS order: fail[r] is shallower, so its row is final — start
        # from it (this IS the folded fail-chain) and overwrite the
        # explicit goto edges
        delta[r, :] = delta[fail[r], :]
        for c, s in goto[r].items():
            delta[r, cls[c]] = s
            q.append(s)
    out_n = np.array([len(o) for o in out], dtype=np.int64)
    out_off = np.concatenate(([0], np.cumsum(out_n)))
    out_flat = np.array(
        [ix for o in out for ix in o], dtype=np.int64
    )
    return alpha_cps, delta, out_n, out_off, out_flat


# padded-matrix budget for the batch-vectorized AC scan: bounds the
# (chunk docs x max len) int32 work matrices to ~32 MB apiece
_AC_CHUNK_ELEMS = 8 * 1024 * 1024


def _ac_scan_chunk(cls_all, starts, lens, delta_flat, width, has_out,
                   out_n, out_off, out_flat, n_pat):
    """Run the dense DFA over a chunk of docs SIMULTANEOUSLY: one
    numpy gather per char position advances every doc's state at once
    (the per-char Python cost is amortized across the chunk — the
    vectorization axis is documents, since a DFA run is inherently
    sequential along one string). `cls_all` is the whole batch's
    char-class array; `starts`/`lens` select this chunk's docs. The
    padded (L, B) work matrix is filled with ONE vectorized scatter,
    the step is three preallocated C calls (multiply, add, take) per
    position, and match-end states are expanded into per-(doc,
    pattern) counts with a bincount (dense hits) or sort-unique
    (sparse hits). Returns (doc_pos, pat_ix, counts)."""
    import numpy as np

    n_docs = starts.size
    max_len = int(lens.max()) if n_docs else 0
    a_cls = width - 1
    # (L, B) layout: row j (one char position across every doc) is
    # contiguous; padding is the out-of-alphabet class, which drives
    # any state to root and emits nothing — shorter docs idle at 0
    mat = np.full((max_len, n_docs), a_cls, dtype=np.int32)
    for i in range(n_docs):
        mat[: lens[i], i] = cls_all[starts[i]: starts[i] + lens[i]]
    states = np.zeros(n_docs, dtype=np.int32)
    smat = np.empty((max_len, n_docs), dtype=np.int32)
    idx = np.empty(n_docs, dtype=np.int32)
    for j in range(max_len):
        np.multiply(states, width, out=idx)
        np.add(idx, mat[j], out=idx)
        states = smat[j]
        np.take(delta_flat, idx, out=states)
    flat = np.nonzero(has_out.take(smat.ravel()))[0]
    if flat.size == 0:
        return (np.empty(0, np.int64),) * 3
    ss = smat.ravel()[flat]
    hit_doc = flat % n_docs  # (L, B) row-major: column == doc
    # pre-aggregate match ENDS into (doc, state) counts first: the
    # distinct (doc, state) pairs are typically far fewer than the raw
    # ends, so the ragged output expansion below runs over the compact
    # table; the per-(doc, pattern) count is then a weighted bincount
    ds_span = n_docs * int(has_out.size)
    if ds_span <= (1 << 24):
        ds_counts = np.bincount(hit_doc * has_out.size + ss,
                                minlength=ds_span)
        ds_keys = np.nonzero(ds_counts)[0]
        ds_cnt = ds_counts[ds_keys]
        hit_doc = ds_keys // has_out.size
        ss = ds_keys % has_out.size
    else:
        ds_keys, ds_cnt = np.unique(
            hit_doc * np.int64(has_out.size) + ss, return_counts=True
        )
        hit_doc = ds_keys // has_out.size
        ss = ds_keys % has_out.size
    reps = out_n[ss]
    total = int(reps.sum())
    # ragged gather of each hit state's output list
    csum = np.cumsum(reps)
    local = np.arange(total, dtype=np.int64) - np.repeat(csum - reps, reps)
    pats = out_flat[np.repeat(out_off[ss], reps) + local]
    key = np.repeat(hit_doc * np.int64(n_pat), reps) + pats
    wts = np.repeat(ds_cnt, reps)
    span = n_docs * n_pat
    if (total << 4) >= span or span <= (1 << 22):
        counts_all = np.bincount(key, weights=wts, minlength=span)
        uk = np.nonzero(counts_all)[0]
        counts = counts_all[uk].astype(np.int64)
    else:
        order = np.argsort(key, kind="stable")
        k_s, w_s = key[order], wts[order]
        bounds = np.nonzero(np.diff(k_s))[0] + 1
        grp_start = np.concatenate(([0], bounds))
        uk = k_s[grp_start]
        csw = np.concatenate(([0], np.cumsum(w_s)))
        grp_end = np.concatenate((bounds, [k_s.size]))
        counts = (csw[grp_end] - csw[grp_start]).astype(np.int64)
    return uk // n_pat, uk % n_pat, counts


def multi_pattern_counts(
    df: DataFrame,
    patterns: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Multi-pattern substring scan via Aho-Corasick (Aho & Corasick
    1975): per document, the number of occurrences of EVERY pattern in
    one O(len) pass, counting all match ends (self-overlapping
    occurrences count — 'aa' occurs twice in 'aaa'). Output one row per
    (doc, pattern) with count >= 1: (id, pattern, n_matches).

    This is the scan a 10^4-entry blocklist needs: a regex union of
    10^4 alternatives blows the regex compiler and scans per
    alternative (O(len * n_patterns)); badword_filter's whole-token
    matching can't see multi-word or substring patterns at all. The
    automaton makes the per-char cost independent of pattern count —
    the standard content-moderation / PII-lexicon / licence-string
    scan at corpus scale.

    Scale shape: the automaton builds ONCE on the driver (O(sum of
    pattern lengths)) and travels as a broadcast; the scan is an
    Arrow-batched mapInArrow over documents — O(len) Python per doc,
    the sanctioned UDF shape for logic no built-in expresses. Output
    is corpus-sparse (only matched pairs emit). The DuckDB oracle
    brute-forces every (position, pattern) pair — O(len * n_patterns)
    — and must agree exactly: the automaton IS the optimization, the
    semantics are position arithmetic."""
    if not patterns:
        raise ValueError("multi_pattern_counts: patterns must be non-empty")
    if len(set(patterns)) != len(patterns):
        raise ValueError("multi_pattern_counts: duplicate patterns")
    if any(not p for p in patterns):
        raise ValueError("multi_pattern_counts: empty pattern")
    pats = [p.lower() for p in patterns] if lowercase else list(patterns)
    if len(set(pats)) != len(pats):
        raise ValueError(
            "multi_pattern_counts: patterns collide after lowercasing"
        )
    automaton = _aho_corasick_dense(pats)
    n_pat = len(pats)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((automaton, lowercase))

    def scan_fn(batches):
        import numpy as np

        (alpha_cps, delta, out_n, out_off, out_flat), lower = bc.value
        a_cls = delta.shape[1] - 1
        # once per task: flat transition table, emit mask, and a direct
        # codepoint -> char-class lookup table (O(1) per char; at most
        # 4 MB for an astral-plane alphabet, usually a few hundred B)
        delta_flat = np.ascontiguousarray(delta.ravel())
        width = delta.shape[1]
        has_out = (out_n > 0)
        lut_size = int(alpha_cps.max()) + 2
        lut = np.full(lut_size, a_cls, dtype=np.int32)
        lut[alpha_cps] = np.arange(alpha_cps.size, dtype=np.int32)
        for batch in batches:
            # text -> char classes for the WHOLE batch in four C calls:
            # one join+lower+utf-32 encode of the concatenated texts,
            # one searchsorted over the pattern alphabet, one compare,
            # one select (per-doc numpy-call overhead dominated the
            # kernel before this)
            ids, parts = [], []
            for rid, text in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                if text is None:
                    continue
                ids.append(rid)
                parts.append(text)
            out_ids, out_pat, out_cnt = [], [], []
            if ids:
                if lower:
                    # per doc, not on the concatenation: str.lower can
                    # change a string's length (e.g. İ), which would
                    # shift every later doc's offsets
                    parts = [p.lower() for p in parts]
                big = "".join(parts)
                lens = np.array([len(p) for p in parts], dtype=np.int64)
                starts = np.concatenate(
                    ([0], np.cumsum(lens)[:-1])
                ).astype(np.int64)
                cps = np.minimum(
                    np.frombuffer(big.encode("utf-32-le"), dtype="<u4"),
                    np.uint32(lut_size - 1),
                )
                cls_all = lut[cps]
                # chunk by length (sorted, so padding waste is bounded)
                # to keep the padded work matrices ~32 MB; within a
                # chunk every doc's DFA advances in one gather per
                # char position (_ac_scan_chunk)
                order = np.argsort(lens, kind="stable")
                start = 0
                while start < len(order):
                    end = start + 1
                    hi = int(lens[order[start]])
                    while end < len(order):
                        hi = max(hi, int(lens[order[end]]))
                        if hi * (end + 1 - start) > _AC_CHUNK_ELEMS:
                            break
                        end += 1
                    sel = order[start:end]
                    d_ix, p_ix, cnt = _ac_scan_chunk(
                        cls_all, starts[sel], lens[sel],
                        delta_flat, width, has_out,
                        out_n, out_off, out_flat, n_pat,
                    )
                    out_ids.extend(ids[sel[i]] for i in d_ix)
                    out_pat.append(p_ix)
                    out_cnt.append(cnt)
                    start = end
            pat_arr = (
                np.concatenate(out_pat) if out_pat
                else np.empty(0, np.int64)
            )
            cnt_arr = (
                np.concatenate(out_cnt) if out_cnt
                else np.empty(0, np.int64)
            )
            yield arrow_batch(scan_schema, [out_ids, pat_arr, cnt_arr])

    scan_schema = T.StructType(
        [
            T.StructField("__id", df.schema[id_col].dataType),
            T.StructField("__ix", T.IntegerType()),
            T.StructField("n_matches", T.LongType()),
        ]
    )
    scanned = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).mapInArrow(scan_fn, scan_schema)
    pat_df = local_frame(
        df.sparkSession, enumerate(pats), "__ix int, pattern string"
    )
    return scanned.join(F.broadcast(pat_df), "__ix").select(
        F.col("__id").alias(id_col), "pattern", "n_matches"
    )
