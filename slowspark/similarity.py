"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k with pure built-ins (zip_with dot
product — JVM-side, codegen'd). Scale path: LSH random-hyperplane bucketing
(sign bits -> bucket key -> candidates only within bucket) and an IVF
coarse quantizer (hash-seeded centroids + a few Lloyd iterations of
spherical k-means) with a probe-n-cells query path. 100 TB shape: queries
are broadcast; the corpus is never shuffled for brute force; LSH/IVF turn
all-pairs into a bucket-keyed shuffle.

One copy per mechanism: `_lloyd` is the one Lloyd trainer (IVF is one
spherical subspace, PQ m Euclidean ones) over `_seed_rows` seeds, with
`_nearest_codes` the one nearest-centroid step the trainer and pq_encode
share; `_blocked_cosine_pairs` is the one block-keyed cosine pair
generator (LSH buckets or IVF cells); `_write_quantizer` /
`_read_quantizer` are the one layout of the centroid and codebook tables;
`_rank_cells` is the one coarse cell ranking.

Projection stages (LSH sign bits, IVF cell argmax) are Arrow-batched pandas
UDFs over a worker-cached numpy matrix — NOT literal arrays in the Catalyst
plan. At production dims (768-4096) a literal-array encoding would put
n_planes x dim constants into the plan (codegen/plan-size blowup); the UDF
keeps the plan O(1) and the math one BLAS matmul per Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"0D, (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
            f"0D, (acc, v) -> acc + v)"
        )
    )


def _combine_lloyd_partials(parts: DataFrame, key_cols: list[str], dim: int) -> DataFrame:
    """Distributed combine of per-partition Lloyd partial sums: groupBy the
    cell key(s), fold the dim-length `vsum` arrays element-wise (zip_with
    addition), sum the counts. The fold visits partials in ascending
    partition-id order (array_sort on the (pid, vsum) struct), so the float
    summation order is the SAME as the old driver-side partition-order loop
    — deterministic regardless of shuffle arrival order. The driver then
    collects exactly one row per non-empty cell: O(k), invariant in
    partition count (the old collect grew as k x n_partitions — a driver
    OOM at the documented production shape of 10^5-10^6 centroids x
    10^3-10^4 partitions)."""
    return parts.groupBy(*key_cols).agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pid", "vsum"))),
                lambda s: s["vsum"],
            ),
            F.array_repeat(F.lit(0.0), dim),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("vsum"),
        F.sum("cnt").alias("cnt"),
    )


def with_cosine(df: DataFrame, vec_col: str, query: list[float], out: str = "cosine") -> DataFrame:
    """Cosine similarity of every row's vec_col against a constant query
    vector (literal array -> broadcast to every task, no join)."""
    qn = float(np.sqrt(np.dot(query, query))) or 1.0
    qlit = F.array(*[F.lit(float(x)) for x in query])
    df2 = df.withColumn("__q", qlit)
    return (
        df2.withColumn(
            out,
            _dot(vec_col, "__q")
            / (F.greatest(_norm(vec_col), F.lit(1e-12)) * F.lit(qn)),
        ).drop("__q")
    )


def brute_force_topk(
    df: DataFrame, vec_col: str, query: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k: one scan + a k-row ordered take. Deterministic
    tie-break on id."""
    return (
        with_cosine(df, vec_col, query)
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH — vectorized projection
# ---------------------------------------------------------------------------

# Worker-side cache: hyperplane matrices are deterministic in
# (dim, n_planes, seed) so each Python worker process materializes each
# matrix exactly once, regardless of how many Arrow batches it sees.
_PLANE_CACHE: dict[tuple[int, int, int], np.ndarray] = {}


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    key = (dim, n_planes, seed)
    got = _PLANE_CACHE.get(key)
    if got is None:
        rng = np.random.RandomState(seed)
        got = _PLANE_CACHE[key] = rng.standard_normal((n_planes, dim))
    return got


def _stack_vectors(vecs: pd.Series, dim_hint: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(matrix, valid_mask) from an Arrow array column. Null / empty rows
    become zero vectors with valid=False (callers map them to bucket/cell 0
    deterministically rather than erroring mid-job)."""
    arrs = list(vecs)
    dim = dim_hint
    if dim is None:
        for a in arrs:
            if a is not None and len(a) > 0:
                dim = len(a)
                break
    if dim is None:
        dim = 1
    m = np.zeros((len(arrs), dim), dtype=np.float64)
    valid = np.zeros(len(arrs), dtype=bool)
    for i, a in enumerate(arrs):
        if a is not None and len(a) == dim:
            m[i, :] = np.asarray(a, dtype=np.float64)
            valid[i] = True
    return m, valid


def _bucket_of(matrix: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign-bit bucket per row: one matmul per Arrow batch (BLAS), then a
    bit-pack. Matches the driver-side query bucket (np.dot(p, q) > 0)."""
    signs = matrix @ planes.T > 0  # (n, n_planes)
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))
    return (signs.astype(np.int64) * weights).sum(axis=1)


def with_lsh_bucket(
    df: DataFrame, vec_col: str = "embedding", n_planes: int = 12, dim: int | None = None,
    seed: int = 42, out: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH (Charikar 2002): sign bit per hyperplane ->
    integer bucket, computed in an Arrow-batched pandas UDF with a
    worker-cached hyperplane matrix. Narrow (no shuffle), plan size O(1) in
    dim, one matmul per batch. dim is inferred from the data per batch when
    not given — no driver job, and an empty corpus simply yields no rows."""
    n_p, sd, d_hint = n_planes, seed, dim

    @F.pandas_udf("long")
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m, valid = _stack_vectors(vecs, d_hint)
        planes = _hyperplanes(m.shape[1], n_p, sd)
        buckets = _bucket_of(m, planes)
        buckets[~valid] = 0
        return pd.Series(buckets)

    return df.withColumn(out, bucket_udf(F.col(vec_col)))


# ---------------------------------------------------------------------------
# IVF coarse quantizer — Lloyd-iterated spherical k-means + probe path
# ---------------------------------------------------------------------------

def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=-1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def _assign_with(corpus: DataFrame, centroids: np.ndarray, vec_col: str,
                 out: str = "ivf_cell") -> DataFrame:
    """Cell assignment: argmax cosine against the (small) centroid matrix,
    one matmul per Arrow batch. Centroids travel in the UDF closure
    (k x dim floats — a few KB; at large k x dim switch to
    sc.broadcast, same shape)."""
    cmat = _normalize_rows(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf("int")
    def assign_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m, valid = _stack_vectors(vecs, cmat.shape[1])
        cells = np.argmax(m @ cmat.T, axis=1).astype(np.int32)
        cells[~valid] = 0
        return pd.Series(cells)

    return corpus.withColumn(out, assign_udf(F.col(vec_col)))


def _nearest_codes(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) code per row of `mat` against (m, k, dsub) codebooks: per
    subspace j the L2-nearest centroid, argmin ||x_j - c||^2 ==
    argmax (x_j . c - 0.5|c|^2) — one matmul per subspace. The Lloyd
    trainer assigns and pq_encode encodes with this one step."""
    bias = 0.5 * (books * books).sum(axis=2)
    dsub = books.shape[2]
    return np.stack(
        [np.argmax(mat[:, j * dsub:(j + 1) * dsub] @ book.T - bias[j], axis=1)
         for j, book in enumerate(books)],
        axis=-1,
    )


def _seed_rows(
    corpus: DataFrame, vec_col: str, id_col: str, n: int, seed: int,
    label: str, same_width: bool = False,
) -> np.ndarray:
    """The Lloyd seeds: the `n` vectors whose xxhash64(id, seed) is lowest
    (stable, no rand(); the seed participates, so two seeds give two
    quantizers), as a matrix. Null vectors never qualify; with
    `same_width` only vectors as wide as the first non-null one do."""
    ok = F.col(vec_col).isNotNull()
    if same_width:
        first = corpus.filter(ok).select(F.size(vec_col).alias("d")).first()
        ok = ok & (F.size(vec_col) == (first["d"] if first else -1))
    rows = (
        corpus.select(id_col, vec_col).filter(ok)
        .withColumn(
            "__h", F.xxhash64(F.col(id_col).cast("string"), F.lit(int(seed)))
        )
        .orderBy("__h")
        .limit(n)
        .collect()
    )
    if not rows:
        raise ValueError(f"{label}: empty corpus")
    return np.asarray(
        [[float(x) for x in r[vec_col]] for r in rows], dtype=np.float64
    )


def _lloyd(
    corpus: DataFrame, vec_col: str, books: np.ndarray, lloyd_iters: int,
    spherical: bool,
) -> np.ndarray:
    """`lloyd_iters` Lloyd rounds over (m, k, dsub) codebooks: IVF is m=1
    with the centroids renormalized after each round (spherical k-means),
    PQ is m subspaces of plain Euclidean k-means. ALL m subspaces train in
    the SAME pass (one Lloyd driver per subspace would cost m * iters
    corpus passes — measured 4x the whole oracle-artifact step at sf0.1).

    Each round is ONE narrow pass: a per-partition partial (j, cell ->
    sum_vec, count) via mapInPandas, then the distributed
    _combine_lloyd_partials — the driver collects <= m*k rows regardless
    of partition count. Empty cells keep their old centroid."""
    m, k, dsub = books.shape
    for _ in range(max(0, lloyd_iters)):

        def partial(batches, cur=books):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            sums = np.zeros((m, k, dsub))
            counts = np.zeros((m, k), dtype=np.int64)
            for pdf in batches:
                mat, valid = _stack_vectors(pdf[vec_col], m * dsub)
                mat = mat[valid]
                for j, cells in enumerate(_nearest_codes(mat, cur).T):
                    np.add.at(sums[j], cells, mat[:, j * dsub:(j + 1) * dsub])
                    np.add.at(counts[j], cells, 1)
            jj, cc = np.nonzero(counts)  # sparse partials: skip untouched cells
            if len(jj) == 0:
                # empty partition: yield nothing — an empty frame would
                # type vsum as float64 and fail the Arrow array<double>
                # cast (hit when partitions outnumber vectors)
                return
            yield pd.DataFrame({
                "pid": np.full(len(jj), pid, dtype=np.int32),
                "j": jj.astype(np.int32),
                "cell": cc.astype(np.int32),
                "vsum": [row.tolist() for row in sums[jj, cc]],
                "cnt": counts[jj, cc],
            })

        parts = _combine_lloyd_partials(
            corpus.select(vec_col)
            .filter(F.col(vec_col).isNotNull())
            .mapInPandas(
                partial,
                schema="pid int, j int, cell int, vsum array<double>, cnt long",
            ),
            ["j", "cell"],
            dsub,
        ).collect()
        sums = np.zeros((m, k, dsub))
        counts = np.zeros((m, k), dtype=np.int64)
        for r in parts:
            sums[r["j"], r["cell"]] += np.asarray(r["vsum"])
            counts[r["j"], r["cell"]] += r["cnt"]
        nz = counts > 0
        books = books.copy()
        books[nz] = sums[nz] / counts[nz][:, None]
        if spherical:
            books = _normalize_rows(books)
    return books


def ivf_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    seed: int = 42,
    lloyd_iters: int = 2,
) -> np.ndarray:
    """Deterministic IVF training: `n_centroids` hash-seeded corpus rows
    (_seed_rows), then `lloyd_iters` rounds of spherical k-means — the
    one Lloyd trainer (_lloyd) with a single subspace. Returns the
    centroid matrix (n_centroids x dim, L2-normalized)."""
    seeds = _normalize_rows(
        _seed_rows(corpus, vec_col, id_col, n_centroids, seed, "ivf_train")
    )
    return _lloyd(corpus, vec_col, seeds[None], lloyd_iters, spherical=True)[0]


def ivf_assign(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    seed: int = 42,
    lloyd_iters: int = 2,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Corpus + `ivf_cell` column. Trains (hash-seed + Lloyd) unless given
    pre-trained `centroids`. The cell column is the partition/cluster key at
    scale — write the corpus partitioned by it and a probe-p query scans
    only p cells' files."""
    if centroids is None:
        centroids = ivf_train(corpus, vec_col, id_col, n_centroids, seed, lloyd_iters)
    return _assign_with(corpus, centroids, vec_col)


def ivf_topk(
    corpus: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 16,
    probe_cells: int = 4,
    seed: int = 42,
    lloyd_iters: int = 2,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN top-k: rank centroids against
    the query driver-side (k x dim matmul — trivial), scan only the best
    `probe_cells` cells, exact cosine within them."""
    if centroids is None:
        centroids = ivf_train(corpus, vec_col, id_col, n_centroids, seed, lloyd_iters)
    cmat = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    probe = _rank_cells(cmat, query, probe_cells)
    assigned = _assign_with(corpus, cmat, vec_col)
    return brute_force_topk(
        assigned.filter(F.col("ivf_cell").isin(probe)), vec_col, query, k, id_col
    )


# ---------------------------------------------------------------------------
# Embedding near-dup dedup — block-keyed pairs + exact cosine verify
# ---------------------------------------------------------------------------

def _blocked_cosine_pairs(
    corpus: DataFrame, vec_col: str, id_col: str, block_col: str,
    with_block, cosine_threshold: float, max_block_size: int | None,
    label: str, dim: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with id_a < id_b that share `block_col`
    (added by `with_block` to the valid rows) and clear the threshold.
    The one pair generator of the LSH and the SemDeDup near-dup paths;
    the shuffle is keyed on the block, so pair fan-out is
    sum of block_size^2, never corpus^2.

    Scale hardening (same pattern as textops.minhash_verified_pairs):
      - null / empty (and, when `dim` is given, wrong-dimension) vectors
        are filtered OUT before blocking — they cannot be near-dups of
        anything, and mapping them all to block 0 would make that block's
        self-join quadratic in the null count on a corpus with a
        malformed-embedding tail;
      - the blocked table is eagerly materialized before the self-join —
        both join sides of a lazy plan race to recompute the block-UDF
        subtree (measured 2-3x cost on the MinHash sibling);
      - `max_block_size` drops pathological blocks from pair generation
        with the dropped block/row counts logged under `label` (no
        silent caps)."""
    from slowspark.util import capped_by_bucket, materialize

    valid = corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    if dim is not None:
        valid = valid.filter(F.size(vec_col) == dim)
    b = materialize(
        with_block(valid).select(
            F.col(id_col), F.col(vec_col), F.col(block_col),
            _norm(vec_col).alias("__n"),
        )
    )
    if max_block_size is not None:
        b = capped_by_bucket(b, [block_col], max_block_size, label)
    l, r = b.alias("l"), b.alias("r")
    cos = _dot(f"l.{vec_col}", f"r.{vec_col}") / F.greatest(
        F.col("l.__n") * F.col("r.__n"), F.lit(1e-12)
    )
    return (
        l.join(
            r,
            on=[
                F.col(f"l.{block_col}") == F.col(f"r.{block_col}"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket the corpus (no
    all-pairs cross join — the shuffle is keyed on the bucket), verify exact
    cosine within buckets, keep pairs above the threshold. Vectors within a
    bucket share all sign bits, so true near-dups (cosine -> 1) co-bucket
    with high probability; recall can be raised with multiple plane seeds.
    `dim` is optional — the bucket UDF infers it from the data (an empty
    corpus yields an empty pair set, never a driver error). The invalid-
    vector filter, the materialize and the `max_bucket_size` cap are
    _blocked_cosine_pairs'."""
    return _blocked_cosine_pairs(
        corpus, vec_col, id_col, "lsh_bucket",
        lambda valid: with_lsh_bucket(valid, vec_col, n_planes, dim, seed),
        cosine_threshold, max_bucket_size, "embedding_near_dup_pairs", dim,
    )


def semantic_near_dup_pairs(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    cosine_threshold: float = 0.95,
    seed: int = 42,
    lloyd_iters: int = 2,
    centroids: np.ndarray | None = None,
    max_cluster_size: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embedding space, then generate
    and exact-verify cosine pairs ONLY within clusters. Same pair
    generator as embedding_near_dup_pairs (_blocked_cosine_pairs) but the
    blocking key is a learned spherical k-means cell instead of an LSH
    bucket — the published recipe, and the right one when the corpus has
    cluster structure (LSH hyperplanes are oblivious to it; centroids
    concentrate true semantic neighbors). `max_cluster_size` drops
    degenerate clusters with LOGGED counts.

    The cells are trained on the valid vectors unless given: pass
    pre-trained `centroids` to share the quantizer with an IVF/IVFPQ
    index over the same corpus — or pass `assigned` (a table with id,
    vec, and an ivf_cell column, e.g. an IVF index's cells/ parquet) to
    skip training AND assignment entirely: the standard composition when
    the corpus is already stored cell-partitioned for ANN. At 10^12 docs
    raise n_clusters so cells stay joinable (SemDeDup used ~100k clusters
    for LAION-scale corpora)."""
    if assigned is not None:
        corpus, with_cell = assigned, lambda valid: valid
    else:
        def with_cell(valid):
            cmat = centroids if centroids is not None else ivf_train(
                valid, vec_col, id_col, n_clusters, seed, lloyd_iters
            )
            return _assign_with(valid, cmat, vec_col)

    return _blocked_cosine_pairs(
        corpus, vec_col, id_col, "ivf_cell", with_cell, cosine_threshold,
        max_cluster_size, "semantic_near_dup_pairs",
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN for corpora too big for floats
# ---------------------------------------------------------------------------

def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 16,
    k: int = 16,
    seed: int = 42,
    lloyd_iters: int = 4,
) -> np.ndarray:
    """Train PQ sub-codebooks: split the vector into `m` subspaces and run
    plain (Euclidean, non-spherical) k-means with `k` centroids in each —
    the one Lloyd trainer (_lloyd), every subspace in the same pass.
    Returns codebooks of shape (m, k, dim/m).

    Why PQ at 10^12 vectors: raw float32 at dim=64 is 256 B/vector ≈
    256 TB of vector payload alone; m=16/k=16 codes are 16 x 4 bits = 8 B
    (32x smaller), small enough that a probe scans codes from memory while
    exact vectors stay cold. Defaults (m=16: 4-dim subspaces) are tuned on
    the sf0.01 table: candidate-recall@10 = 1.0 at rerank=100.

    One hash-seeded sample of k rows (_seed_rows; vectors as wide as the
    first non-null one) initializes every codebook, sliced per subspace;
    a corpus smaller than k cycles its rows to fill k seeds."""
    init = _seed_rows(
        corpus, vec_col, id_col, k, seed, "pq_train", same_width=True
    )
    dim = init.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    books = np.stack(np.split(np.resize(init, (k, dim)), m, axis=1))
    return _lloyd(corpus, vec_col, books, lloyd_iters, spherical=False)


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, pq_codes array<int> length m, norm double): per subspace the
    code is the nearest centroid (_nearest_codes, the step the trainer
    assigns with), plus the exact vector L2 norm captured at encode time
    (cosine ADC needs it; it is the one scalar that cannot be
    reconstructed from codes). Arrow-batched numpy over worker-broadcast
    codebooks: k*m dot products per row, plan size O(1) in dim (the
    codebook travels in the closure once per worker, like the LSH
    hyperplanes)."""
    books = codebooks.astype(np.float64)
    dim = books.shape[0] * books.shape[2]

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat, valid = _stack_vectors(pdf[vec_col], dim)
            mat = mat[valid]
            codes = _nearest_codes(mat, books).astype(np.int32)
            yield pd.DataFrame({
                "__id": pdf[id_col].to_numpy()[valid].astype("int64"),
                "pq_codes": [row.tolist() for row in codes],
                "norm": np.linalg.norm(mat, axis=1),
            })

    return (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .mapInPandas(fn, schema="__id long, pq_codes array<int>, norm double")
        .withColumnRenamed("__id", id_col)
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    cell_bias: list[float] | None = None,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query is NOT
    quantized — per subspace j the lookup table LUT[j][c] = q_sub_j .
    codebook[j][c] is computed once on the driver (m*k dots) and becomes a
    LITERAL nested array in the plan; each row's approximate dot product
    is then m element_at lookups + a sum, pure whole-stage codegen over
    the (tiny) code column — the scan never touches float vectors.
    approx_cosine = ADC_dot / (|q| * stored_norm). Exactness contract:
    this is the standard PQ approximation (exact in q, quantized in x);
    recall floors are pinned by tests, and the arithmetic is re-derived by
    the DuckDB oracle from the same materialized codebooks.

    `cell_bias` (residual / IVFADC mode): when codes quantize RESIDUALS
    x - centroid_cell, the approximate dot decomposes as
    q . x ~= q . centroid_cell + q . r_quantized — the first term is a
    per-cell constant computed driver-side and added via one literal
    array lookup on `cell_col`; the LUT term is unchanged because
    residual codebooks are shared across cells (classic IVFADC)."""
    mq, kq, dsub = codebooks.shape
    q = np.asarray(query, dtype=np.float64)
    if q.size != mq * dsub:
        raise ValueError(f"pq_topk: query dim {q.size} != {mq * dsub}")
    qn = float(np.linalg.norm(q))
    if qn == 0.0:
        raise ValueError("pq_topk: zero query vector")
    lut = [
        [float(np.dot(q[j * dsub : (j + 1) * dsub], codebooks[j][c]))
         for c in range(kq)]
        for j in range(mq)
    ]
    lut_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in lut
    ) + ")"
    # The LUT literal is bound ONCE: the ADC sum folds over
    # zip_with(codes, subspace-indices) so the m*k nested-array literal
    # appears a single time in the expression/plan. The naive per-subspace
    # sum (element_at(LUT, 1)[...] + element_at(LUT, 2)[...] + ...) inlines
    # the literal m times — O(m^2 * k) plan text, a multi-megabyte parsed
    # plan at production PQ shapes (m=32, k=256). Summation order is
    # unchanged (left fold over j = 0..m-1), so scores are bit-identical.
    adc = (
        f"aggregate(zip_with(pq_codes, sequence(0, {mq - 1}), "
        f"(c, j) -> element_at(element_at({lut_lit}, j + 1), c + 1)), "
        f"0D, (acc, v) -> acc + v)"
    )
    if cell_bias is not None:
        bias_lit = "array(" + ", ".join(f"{float(b)!r}D" for b in cell_bias) + ")"
        adc = f"element_at({bias_lit}, {cell_col} + 1) + {adc}"
    return (
        codes_df.withColumn(
            "approx_cosine",
            F.expr(f"({adc}) / ({qn!r}D * greatest(norm, 1e-12D))"),
        )
        .select(id_col, "approx_cosine")
        .orderBy(F.desc("approx_cosine"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_build_index(
    corpus: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    m: int = 16,
    k: int = 16,
    seed: int = 42,
    ivf_lloyd_iters: int = 2,
    pq_lloyd_iters: int = 4,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    residual: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Build the composed IVF-PQ index — the production ANN shape at 10^12
    vectors, combining the two halves this module already has: IVF cell
    pruning (a probe-p query reads p/n_centroids of the corpus, enforced by
    PARTITION pruning) and PQ compression (the pruned scan reads 8-byte
    codes, not 256-byte float vectors).

    Layout (one cell-partitioned table + quantizer tables + scalar
    metadata):
      <index>/cells/ivf_cell=N/  (id, vec, pq_codes array<int>, norm)
      <index>/centroids/         parquet (cell int, centroid array<double>)
      <index>/codebooks/         parquet (j int, c int, centroid array<double>)
      <index>/meta.json          column names + shapes + residual flag only
    Quantizers live as PARQUET, not JSON: at production shapes
    (n_centroids ~ 10^5-10^6 at dim 768+) the centroid matrix is hundreds
    of MB — a column store the driver reads once per query process, never
    a JSON blob parsed per open. meta.json stays O(100 bytes).
    Storing vectors and codes in ONE table partitioned by ivf_cell means
    the ADC prefilter is partition-pruned AND column-pruned (parquet reads
    only id/pq_codes/norm), while the exact re-rank re-reads only the
    candidate ids' vector column from the same probed partitions — neither
    stage ever opens an unprobed cell's files.

    Encoding modes:
      - residual=False (default): codes quantize the RAW vectors; the ADC
        LUT is a single shared table.
      - residual=True: classic IVFADC — codes quantize x - centroid_cell
        (codebooks trained on residuals, shared across cells). Residual
        magnitudes are much smaller than raw vectors, so the same m x k
        budget spends its resolution on the part the coarse quantizer
        did NOT explain — better ADC fidelity at low probe counts. The
        query-side cost is one per-cell constant (q . centroid_cell,
        computed driver-side, added via a literal array lookup on
        ivf_cell); the LUT term is unchanged. The stored `norm` stays
        |x| (the original vector norm — the cosine denominator), NOT the
        residual norm.
    Returns (centroids, codebooks).

    Pass pre-trained `centroids` / `codebooks` (same shapes the internal
    trainers would produce) to skip the training passes — a caller that
    already built a standalone IVF or PQ index over the same corpus with
    the same parameters shares the Lloyd work (the trainers are
    deterministic, so the composed index is identical either way)."""
    import json

    from slowspark.util import fs_write_text_atomic, materialize

    if centroids is None:
        centroids = ivf_train(
            corpus, vec_col, id_col, n_centroids, seed, ivf_lloyd_iters
        )
    else:
        centroids = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    # one materialized pass holds the assignment; encode joins back on id
    # (both stages are narrow maps, the join is the only shuffle)
    assigned = materialize(
        _assign_with(corpus, centroids, vec_col).select(
            id_col, vec_col, "ivf_cell"
        )
    )
    if residual:
        # the residual table feeds several training passes + the encode —
        # materialize so the subtract-UDF runs once
        res = materialize(_with_residual(assigned, centroids, vec_col))
        if codebooks is None:
            books = pq_train(
                res, "__residual", id_col, m, k, seed, pq_lloyd_iters
            )
        else:
            books = np.asarray(codebooks, dtype=np.float64)
        codes = pq_encode(res, books, "__residual", id_col).select(
            id_col, "pq_codes"
        )
        table = (
            assigned.join(codes, id_col)
            # norm must be |x|, the cosine denominator — pq_encode's norm
            # column would be the residual magnitude, which is meaningless
            # to the query
            .withColumn("norm", _norm(vec_col))
            .select(id_col, vec_col, "pq_codes", "norm", "ivf_cell")
        )
    else:
        if codebooks is None:
            books = pq_train(corpus, vec_col, id_col, m, k, seed, pq_lloyd_iters)
        else:
            books = np.asarray(codebooks, dtype=np.float64)
        codes = pq_encode(assigned, books, vec_col, id_col)
        table = assigned.join(codes, id_col).select(
            id_col, vec_col, "pq_codes", "norm", "ivf_cell"
        )
    (
        table.write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(f"{index_path}/cells")
    )
    spark = corpus.sparkSession
    _write_quantizer(spark, centroids, f"{index_path}/centroids")
    _write_quantizer(spark, books, f"{index_path}/codebooks")
    meta = {
        "vec_col": vec_col,
        "id_col": id_col,
        "residual": bool(residual),
        "n_centroids": int(centroids.shape[0]),
        "m": int(books.shape[0]),
        "k": int(books.shape[1]),
    }
    fs_write_text_atomic(
        spark, f"{index_path}/meta.json", json.dumps(meta)
    )
    return centroids, books


def _with_residual(
    assigned: DataFrame, centroids: np.ndarray, vec_col: str,
    out: str = "__residual",
) -> DataFrame:
    """x - centroid_cell per row (the IVFADC encoding input): one
    vectorized subtract per Arrow batch against the worker-held centroid
    matrix. Invalid vectors yield null residuals (downstream encode
    filters them, same contract as pq_encode)."""
    cmat = _normalize_rows(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf("array<double>")
    def res_udf(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m, valid = _stack_vectors(vecs, cmat.shape[1])
        res = m - cmat[cells.to_numpy(dtype=np.int64)]
        return pd.Series(
            [row.tolist() if ok else None for row, ok in zip(res, valid)]
        )

    return assigned.withColumn(out, res_udf(F.col(vec_col), F.col("ivf_cell")))


# The quantizer-table layout, one writer and one reader for both tables:
# centroids (n_cells, dim) as (cell int, centroid array<double>), PQ
# codebooks (m, k, dsub) as (j int, c int, centroid array<double>).
_QUANTIZER_SCHEMA = {
    2: "cell int, centroid array<double>",
    3: "j int, c int, centroid array<double>",
}


def _write_quantizer(spark, mat: np.ndarray, path: str) -> None:
    """Persist a centroid matrix or PQ codebooks (by `mat.ndim`) as one
    parquet file of _QUANTIZER_SCHEMA rows, one row per centroid."""
    from slowspark.util import local_frame

    local_frame(
        spark,
        [
            (*(int(i) for i in ix), [float(x) for x in mat[ix]])
            for ix in np.ndindex(mat.shape[:-1])
        ],
        _QUANTIZER_SCHEMA[mat.ndim],
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _read_quantizer(spark, path: str) -> np.ndarray:
    """The matrix _write_quantizer stored at `path`, as stored (callers
    normalize). The driver read goes through Arrow (toPandas +
    np.vstack), NOT collect(): at production shape (10^5-10^6 centroids
    x dim 768) Row objects of array<double> inflate ~10x over the Arrow
    buffers — Arrow keeps the load one bounded columnar read."""
    pdf = spark.read.parquet(path).toPandas()
    ix = tuple(pdf[c].to_numpy(dtype=np.int64) for c in pdf.columns[:-1])
    out = np.zeros(
        tuple(int(i.max()) + 1 for i in ix) + (len(pdf["centroid"].iloc[0]),)
    )
    out[ix] = np.vstack(pdf["centroid"].to_numpy())
    return out


def _ivfpq_meta(spark, index_path: str):
    """(centroids, codebooks, vec_col, id_col, residual) from a persisted
    IVF-PQ index: scalars from meta.json, quantizer matrices from their
    parquet tables (_read_quantizer); the centroids come back
    L2-normalized."""
    import json

    from slowspark.util import fs_read_text

    meta = json.loads(fs_read_text(spark, f"{index_path}/meta.json"))
    return (
        _normalize_rows(_read_quantizer(spark, f"{index_path}/centroids")),
        _read_quantizer(spark, f"{index_path}/codebooks"),
        meta["vec_col"],
        meta["id_col"],
        bool(meta.get("residual", False)),
    )


def _cell_bias(cmat: np.ndarray, query: list[float]) -> list[float]:
    """Per-cell ADC constant for residual mode: q . centroid_cell for
    every cell (tiny — n_centroids doubles, shipped as one literal)."""
    q = np.asarray(query, dtype=np.float64)
    return [float(x) for x in cmat @ q]


def _rank_cells(cmat: np.ndarray, query: list[float], probe_cells: int) -> list[int]:
    """Coarse ranking: the `probe_cells` best cells by cosine of the query
    against the (tiny, L2-normalized) centroid matrix, deterministic
    (score desc, cell asc) tie-break. The one ranking of ivf_topk,
    ivfpq_topk and ivfpq_topk_batch's per-query probe."""
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q) or 1.0
    scores = cmat @ (q / qn)
    order = sorted(range(len(scores)), key=lambda c: (-scores[c], c))
    return [int(c) for c in order[: max(1, probe_cells)]]


def ivfpq_topk(
    spark,
    index_path: str,
    query: list[float],
    k: int = 10,
    probe_cells: int = 4,
    rerank: int = 100,
) -> DataFrame:
    """IVF-PQ ANN top-k against a persisted index (ivfpq_build_index):
    probe p cells -> ADC over codes within them -> exact cosine re-rank of
    the surviving `rerank` ids' raw vectors, fetched from the SAME probed
    partitions via a broadcast semi-join. Strictly better than either
    half alone: pq_topk ADC-scans every cell's codes; ivf_topk reads
    raw float vectors for the whole probed fraction. recall@k = 1
    whenever the true top-k lands in the probed cells AND survives the
    ADC cutoff; raise probe_cells / rerank independently to trade IO for
    recall on each axis."""
    if rerank < k:
        raise ValueError(f"ivfpq_topk: rerank={rerank} < k={k}")
    cmat, books, vec_col, id_col, residual = _ivfpq_meta(spark, index_path)
    probe = _rank_cells(cmat, query, probe_cells)
    bias = _cell_bias(cmat, query) if residual else None
    cells = spark.read.parquet(f"{index_path}/cells")
    probed = cells.filter(F.col("ivf_cell").isin(probe))
    cands = pq_topk(
        probed.select(id_col, "pq_codes", "norm", "ivf_cell"), books, query,
        k=rerank, id_col=id_col, cell_bias=bias,
    ).select(id_col)
    return brute_force_topk(
        probed.select(id_col, vec_col).join(
            F.broadcast(cands), id_col, "left_semi"
        ),
        vec_col, query, k, id_col,
    )


def ivfpq_topk_batch(
    spark,
    index_path: str,
    queries: DataFrame,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    k: int = 10,
    probe_cells: int = 4,
    rerank: int = 100,
    max_batch_queries: int = 100_000,
) -> DataFrame:
    """Batch IVF-PQ ANN: top-k for EVERY query row of `queries` against a
    persisted index (ivfpq_build_index), returning (query_id, id, cosine,
    rank). The production batch shape — and the distributed answer to the
    single-query path's driver-side `_rank_cells`: cell ranking runs as
    an Arrow-batched mapInPandas over the QUERY table (one BLAS gemv per
    query against the broadcast-in-closure centroid matrix, parallel
    across query partitions — the driver never ranks anything), so a
    10^6-query batch against 10^6 centroids is cluster work, not a
    driver loop.

    Stages, each the batch generalization of the single-query path with
    IDENTICAL per-query arithmetic (pinned by a differential test):
      1. probe: per query, top-p cells by centroid cosine with the
         (score desc, cell asc) tie-break — `_rank_cells` verbatim per
         row — emitting (query_id, cell) rows plus the query vector,
         its norms, and (residual mode) the per-(query, cell) IVFADC
         bias q.centroid;
      2. candidate generation: one equi-join of the exploded probe table
         (broadcast) against the cell-partitioned codes — the scan reads
         only (id, pq_codes, norm, ivf_cell), never raw vectors, and the
         broadcast keys enable dynamic partition pruning of unprobed
         cells. The probe rows carry only scalars (norms + residual
         bias), NEVER the query vector — a dim-sized array on every
         (query, cell) row would ride the join onto every candidate code
         row, a ~1000x payload inflation at production dims next to the
         8-byte codes; query vectors instead travel ONCE per executor as
         a Spark broadcast variable (so the query set must fit executor
         memory — chunk larger batches);
      3. ADC: mapInPandas over the joined rows — per Arrow batch the LUT
         is built once per distinct query (m*k dots from the broadcast
         query map, cached) and scores accumulate in the same
         left-fold-over-j order as pq_topk's literal-LUT fold, so
         approx_cosine is bit-identical to the single-query plan;
      4. rerank cut: row_number window per query (desc score, asc id);
      5. exact re-rank: the candidates' raw vectors (broadcast semi
         restricted to (cell, id) — partition-prunable) scored with the
         same zip_with fold brute_force_topk uses, window top-k.

    Per-query IO is identical to ivfpq_topk's (probed fraction x code
    bytes + rerank raw vectors); the batch amortizes the scan across all
    queries that probe the same cells. Zero query vectors are rejected
    the same way as the single-query path.

    DRIVER-MEMORY BOUND: the query vectors travel as ONE Spark broadcast
    variable built on the driver (stage 2's payload-inflation argument),
    so the query batch is bounded by driver memory — `max_batch_queries`
    rows (default 100k; at dim=768 float64 that is ~0.6 GB). Exceeding
    it raises up front with the chunked-batch recipe (RUNBOOK §8):
    split the query table into id-hash chunks, call ivfpq_topk_batch per
    chunk, union the results — per-query output is independent, so
    chunking is exact."""
    if rerank < k:
        raise ValueError(f"ivfpq_topk_batch: rerank={rerank} < k={k}")
    if max_batch_queries < 1:
        raise ValueError(
            f"ivfpq_topk_batch: max_batch_queries must be >= 1, "
            f"got {max_batch_queries}"
        )
    # bounded probe (limit stops the scan early): never toPandas an
    # unbounded query table onto the driver
    n_probe = queries.limit(max_batch_queries + 1).count()
    if n_probe > max_batch_queries:
        raise ValueError(
            f"ivfpq_topk_batch: query batch exceeds max_batch_queries="
            f"{max_batch_queries} (the query vectors are broadcast from "
            "the driver, so the batch is driver-memory bound). Chunk the "
            "query table by id hash and union per-chunk results — exact, "
            "see RUNBOOK §8 — or raise max_batch_queries if the driver "
            "has headroom."
        )
    cmat, books, vec_col, id_col, residual = _ivfpq_meta(spark, index_path)
    from slowspark.util import materialize

    mq, kq, dsub = books.shape

    qid_type = queries.schema[query_id].dataType
    probe_schema = T.StructType([
        T.StructField(query_id, qid_type),
        T.StructField("__adcqn", T.DoubleType()),
        T.StructField("__rrqn", T.DoubleType()),
        T.StructField("ivf_cell", T.IntegerType()),
        T.StructField("__bias", T.DoubleType()),
    ])

    def probe_fn(batches):
        for pdf in batches:
            out: dict = {c.name: [] for c in probe_schema}
            for qid, vec in zip(pdf[query_id], pdf[query_vec]):
                q = np.asarray(vec, dtype=np.float64)
                adcqn = float(np.linalg.norm(q))
                if adcqn == 0.0:
                    raise ValueError("ivfpq_topk_batch: zero query vector")
                rrqn = float(np.sqrt(np.dot(q, q)))
                bias = cmat @ q if residual else None
                for c in _rank_cells(cmat, q, probe_cells):
                    out[query_id].append(qid)
                    out["__adcqn"].append(adcqn)
                    out["__rrqn"].append(rrqn)
                    out["ivf_cell"].append(c)
                    out["__bias"].append(float(bias[c]) if residual else 0.0)
            yield pd.DataFrame(out)

    probe = materialize(
        queries.select(query_id, query_vec).mapInPandas(
            probe_fn, schema=probe_schema
        )
    )
    # query vectors: one Arrow read, one broadcast — per EXECUTOR, not
    # per probe row or candidate row
    qpdf = queries.select(query_id, query_vec).toPandas()
    bc_queries = spark.sparkContext.broadcast({
        qid: np.asarray(vec, dtype=np.float64)
        for qid, vec in zip(qpdf[query_id], qpdf[query_vec])
    })

    cells = spark.read.parquet(f"{index_path}/cells")
    joined = cells.select(id_col, "pq_codes", "norm", "ivf_cell").join(
        F.broadcast(
            probe.select(query_id, "__adcqn", "__bias", "ivf_cell")
        ),
        "ivf_cell",
    )

    id_type = cells.schema[id_col].dataType
    adc_schema = T.StructType([
        T.StructField(query_id, qid_type),
        T.StructField(id_col, id_type),
        T.StructField("ivf_cell", T.IntegerType()),
        T.StructField("approx_cosine", T.DoubleType()),
    ])

    def adc_fn(batches):
        lut_cache: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["pq_codes"]]
            )
            scores = np.zeros(len(pdf), dtype=np.float64)
            # group rows by query so each LUT is built once per batch
            # (and cached across batches of the same worker)
            qids = pdf[query_id].to_numpy()
            for qid in pd.unique(pdf[query_id]):
                sel = qids == qid
                lut = lut_cache.get(qid)
                if lut is None:
                    q = bc_queries.value[qid]
                    # same arithmetic as pq_topk's LUT build: float(np.dot)
                    # per (j, c); fold below runs left-to-right over j,
                    # matching the literal-LUT aggregate's order
                    lut = np.array([
                        [float(np.dot(q[j * dsub:(j + 1) * dsub], books[j][c]))
                         for c in range(kq)]
                        for j in range(mq)
                    ])
                    if len(lut_cache) < 4096:
                        lut_cache[qid] = lut
                acc = np.zeros(int(sel.sum()), dtype=np.float64)
                sub = codes[sel]
                for j in range(mq):
                    acc = acc + lut[j][sub[:, j]]
                scores[sel] = acc
            scores = scores + pdf["__bias"].to_numpy(dtype=np.float64)
            scores = scores / (
                pdf["__adcqn"].to_numpy(dtype=np.float64)
                * np.maximum(pdf["norm"].to_numpy(dtype=np.float64), 1e-12)
            )
            yield pd.DataFrame({
                query_id: pdf[query_id],
                id_col: pdf[id_col],
                "ivf_cell": pdf["ivf_cell"],
                "approx_cosine": scores,
            })

    scored = joined.mapInPandas(adc_fn, schema=adc_schema)
    wa = Window.partitionBy(query_id).orderBy(
        F.desc("approx_cosine"), F.asc(id_col)
    )
    cands = (
        scored.withColumn("__r", F.row_number().over(wa))
        .filter(F.col("__r") <= rerank)
        .select(query_id, id_col, "ivf_cell")
    )

    # re-rank side: qv as a COLUMN again, but only on q rows (broadcast)
    # joined to the q x rerank candidate rows — bounded, unlike the
    # candidate-generation join. The cast to array<double> widens the
    # stored floats exactly like the single-query path's
    # [float(x) for x in row] materialization.
    qside = (
        probe.select(query_id, "__rrqn").dropDuplicates([query_id])
        .join(
            queries.select(
                query_id,
                F.col(query_vec).cast("array<double>").alias("__qv"),
            ),
            query_id,
        )
    )
    reranked = (
        cells.select(id_col, vec_col, "ivf_cell")
        .join(F.broadcast(cands), ["ivf_cell", id_col])
        .join(F.broadcast(qside), query_id)
        .withColumn(
            "cosine",
            _dot(vec_col, "__qv")
            / (F.greatest(_norm(vec_col), F.lit(1e-12)) * F.col("__rrqn")),
        )
    )
    wk = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        reranked.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def pq_topk_rerank(
    corpus: DataFrame,
    codes_df: DataFrame,
    codebooks: np.ndarray,
    query: list[float],
    k: int = 10,
    rerank: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The production PQ query: ADC over the (tiny) code column prefilters
    to `rerank` candidates, then ONLY those rows' raw vectors are fetched
    for an exact cosine re-rank. At 10^12 vectors the first stage scans
    4-byte-per-subspace codes (memory-resident), the second touches
    rerank << corpus float vectors — the scan cost of exact search without
    its storage cost. recall@k == 1 whenever the true top-k survive the
    prefilter (pinned at sf0.01 by tests/test_similarity.py with
    rerank=100); raise `rerank` to trade IO for recall."""
    if rerank < k:
        raise ValueError(f"pq_topk_rerank: rerank={rerank} < k={k}")
    cands = pq_topk(codes_df, codebooks, query, k=rerank, id_col=id_col).select(id_col)
    return brute_force_topk(
        corpus.join(F.broadcast(cands), id_col, "left_semi"),
        vec_col, query, k, id_col,
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization: per-dimension [min, max] over L2-NORMALIZED
# vectors -> uint8 codes, ranked by integer squared-L2 distance. The
# third quantizer beside PQ and IVF-PQ: no codebook training (one
# min/max pass), 4x smaller than float32 storage, and the search scan
# is an INTEGER kernel — the SIMD int8 path that makes SQ8 the default
# "cheap" index in production vector stores. Cosine contract: codes are
# built over x/||x||, where cos(x,q) = 1 - ||x̂-q̂||^2/2, so ascending
# integer L2 is (approximately) descending cosine — an affine per-dim
# code is NOT a cosine proxy on unnormalized vectors (the shift term
# reorders), which is why normalization is baked in rather than
# optional. No reference analog (target-only, like this whole module).


def _sq_unit_expr(vec) -> "F.Column":
    """x / max(||x||, 1e-12) as a transform() expression — double
    arithmetic in fixed order (sequential sum of squares) so a SQL
    oracle replaying the formula is bit-identical."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    n2 = F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = F.greatest(F.sqrt(n2), F.lit(1e-12))
    return F.transform(vec, lambda x: x.cast("double") / nrm)


def sq_train(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) bounds over the NORMALIZED corpus. ONE
    narrow pass: posexplode to (dim_ix, value) then a map-side-combined
    groupBy(dim_ix) min/max — the shuffle carries <= dim rows per
    partition and the driver collects exactly dim rows regardless of
    corpus size (same partition-count-invariance contract as the Lloyd
    trainers). NULL vectors contribute nothing."""
    stats = (
        corpus.select(
            F.posexplode(_sq_unit_expr(vec_col)).alias("j", "x")
        )
        .groupBy("j")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    if not stats:
        raise ValueError("sq_train: empty corpus")
    dim = max(r["j"] for r in stats) + 1
    mins = np.zeros(dim)
    maxs = np.zeros(dim)
    for r in stats:
        mins[r["j"]] = float(r["mn"])
        maxs[r["j"]] = float(r["mx"])
    return mins, maxs


def _sq_code_expr(vec, mins: np.ndarray, maxs: np.ndarray):
    """transform() expression quantizing a (normalized-inside) vector
    column to int codes: round(255*(x-mn)/(mx-mn)) clamped to [0,255];
    degenerate dimensions (mx == mn) code to 0. Out-of-range values
    (a query vector outside the trained bounds) clamp, never wrap."""
    mn = F.array(*[F.lit(float(v)) for v in mins])
    mx = F.array(*[F.lit(float(v)) for v in maxs])

    def code(x, i):
        lo = F.element_at(mn, i + F.lit(1))
        hi = F.element_at(mx, i + F.lit(1))
        r = F.round(F.lit(255.0) * (x - lo) / (hi - lo), 0)
        return F.when(hi == lo, F.lit(0)).otherwise(
            F.least(F.lit(255.0), F.greatest(F.lit(0.0), r)).cast("int")
        )

    return F.transform(_sq_unit_expr(vec), code)


def sq_encode(
    corpus: DataFrame,
    mins: np.ndarray,
    maxs: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "sq_code",
) -> DataFrame:
    """Adds the int-code column. Pure codegen projection — the two
    dim-length bound arrays ride the plan as literals, fine to ~10^3
    dims; at 4096+ move the bounds into a worker-cached pandas UDF like
    the LSH projection (module docstring), same output contract. At
    scale, persist (id, sq_code) as the memory-resident index and keep
    the raw vectors in cold storage for the re-rank fetch."""
    return corpus.withColumn(out_col, _sq_code_expr(vec_col, mins, maxs))


def sq_query_and_code(
    corpus: DataFrame,
    query_id,
    mins: np.ndarray,
    maxs: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[float], list[int]]:
    """Fetch ONE row's raw vector AND its SQ code in a single job (r9:
    the fetch-then-sq_query_code shape was two driver actions). The
    code comes from the same Spark expression the corpus codes use, so
    the bit-identity contract of sq_query_code holds."""
    row = (
        corpus.filter(F.col(id_col) == query_id)
        .select(
            F.col(vec_col).alias("__v"),
            _sq_code_expr(vec_col, mins, maxs).alias("__c"),
        )
        .first()
    )
    if row is None:
        raise ValueError(f"sq_query_and_code: no row with {id_col} == {query_id}")
    return [float(x) for x in row["__v"]], list(row["__c"])


def sq_query_code(
    spark, query: list[float], mins: np.ndarray, maxs: np.ndarray
) -> list[int]:
    """Quantize ONE query vector through the same Spark expression the
    corpus codes came from — not numpy — so query and corpus codes share
    bit-identical normalization and rounding (numpy's floor(x+0.5)
    disagrees with the engine's HALF_UP at exact-tie doubles)."""
    qarr = F.array(*[F.lit(float(x)) for x in query])
    return list(
        spark.range(1).select(
            _sq_code_expr(qarr, mins, maxs).alias("c")
        ).first()["c"]
    )


def sq_topk(
    codes_df: DataFrame,
    qcode: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq_code",
) -> DataFrame:
    """SQ ADC top-k: rank ASCENDING by sum_j (code_j - qcode_j)^2 —
    EXACT integer arithmetic, so the candidate cutoff has no
    float-boundary flakiness (engines agree bit-for-bit) and the scan
    is the int8 L2 kernel. One corpus scan, k-row ordered take
    (TakeOrdered — per-task heaps, no full sort exchange).
    Deterministic (dist asc, id asc) order."""
    qlit = F.array(*[F.lit(int(c)) for c in qcode])
    dist = F.aggregate(
        F.zip_with(
            F.col(code_col),
            qlit,
            lambda a, b: ((a - b) * (a - b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        codes_df.select(id_col, dist.alias("sq_dist"))
        .orderBy(F.asc("sq_dist"), F.asc(id_col))
        .limit(int(k))
    )


def sq_topk_rerank(
    corpus: DataFrame,
    codes_df: DataFrame,
    query: list[float],
    qcode: list[int],
    k: int = 10,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "sq_code",
) -> DataFrame:
    """The production SQ8 query: integer-ADC prefilter to `rerank`
    candidates over the code column, exact cosine re-rank over ONLY
    those rows' raw vectors (broadcast join of <= rerank ids — the
    corpus is never shuffled). Same recall contract as pq_topk_rerank:
    recall@k == 1 whenever the true top-k survive the prefilter; raise
    `rerank` to trade IO for recall."""
    if rerank < k:
        raise ValueError(f"sq_topk_rerank: rerank={rerank} < k={k}")
    cands = sq_topk(codes_df, qcode, k=rerank, id_col=id_col, code_col=code_col)
    joined = corpus.join(F.broadcast(cands), id_col, "inner")
    return (
        with_cosine(joined, vec_col, query)
        .select(id_col, "sq_dist", "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(int(k))
    )


def margin_knn_pairs(
    assigned: DataFrame,
    k: int = 4,
    topm: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    side_col: str = "side",
) -> DataFrame:
    """Margin-based kNN bitext/pair mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix recipe): for candidate pairs (x from side 0, y from
    side 1), score margin(x, y) = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)
    where avg_k is the mean cosine of the row's k best candidates — the
    ratio margin that suppresses hub vectors whose raw cosine is high
    against EVERYTHING. Returns the top-`topm` matches per side-0 row:
    (src_id, tgt_id, cosine, margin, rk).

    Scale shape: candidates come from the provided blocking column
    (`cell_col` — an IVF cell, LSH bucket, or any coarse quantizer), so
    pair fan-out is sum of per-cell cross sizes, never |src| x |tgt|;
    the kNN averages are windows over the SAME candidate table (no
    second scan); both margins and the final per-src top-m are
    per-group windows. The neighbor averages fold in array_sort order
    (the _combine_lloyd_partials discipline), so the float sum is
    reproducible regardless of shuffle arrival — and verifiable by a
    second engine folding the same order.

    Cell-local kNN averages are the standard mining approximation (the
    production pipelines compute them from the same ANN candidate set);
    a row whose cell holds no opposite-side vector simply yields no
    pair, exactly like an ANN miss."""
    if k < 1:
        raise ValueError(f"margin_knn_pairs: k must be >= 1, got {k}")
    if topm < 1:
        raise ValueError(f"margin_knn_pairs: topm must be >= 1, got {topm}")
    src = assigned.filter(F.col(side_col) == 0).select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("__sv"),
        F.col(cell_col).alias("__cell"),
    )
    tgt = assigned.filter(F.col(side_col) == 1).select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("__tv"),
        F.col(cell_col).alias("__cell"),
    )
    pairs = src.join(tgt, "__cell").select(
        "src_id",
        "tgt_id",
        (
            _dot("__sv", "__tv")
            / F.greatest(_norm("__sv") * _norm("__tv"), F.lit(1e-12))
        ).alias("cosine"),
    )
    pairs = pairs.persist()

    def _avg_topk(df: DataFrame, key: str, other: str, out: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.desc("cosine"), F.asc(other))
        top = df.withColumn("__rk", F.row_number().over(w)).filter(
            F.col("__rk") <= k
        )
        return top.groupBy(key).agg(
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("cosine", other))),
                        lambda s: s["cosine"],
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / F.count("*")
            ).alias(out)
        )
    ax = _avg_topk(pairs, "src_id", "tgt_id", "__ax")
    ay = _avg_topk(pairs, "tgt_id", "src_id", "__ay")
    scored = (
        pairs.join(ax, "src_id")
        .join(ay, "tgt_id")
        .withColumn(
            "margin",
            F.col("cosine") / ((F.col("__ax") + F.col("__ay")) / F.lit(2.0)),
        )
    )
    wm = Window.partitionBy("src_id").orderBy(F.desc("margin"), F.asc("tgt_id"))
    return (
        scored.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") <= topm)
        .select(
            "src_id",
            "tgt_id",
            F.round("cosine", 4).alias("cosine"),
            F.round("margin", 4).alias("margin"),
            "rk",
        )
    )


def ivf_balance(
    assigned: DataFrame, cell_col: str = "ivf_cell"
) -> DataFrame:
    """IVF index health: one row of list-balance statistics —
    (n_cells_used, n_vecs, max_cell, min_cell, imbalance) where
    imbalance = max_cell / (n_vecs / n_cells_used), the hot-list factor
    that predicts probe latency variance (a cell holding 10x the mean
    makes every query probing it 10x slower — the signal to retrain
    with more centroids or split hot cells).

    Two tiny aggregations (per-cell counts, then a 1-row reduce) — the
    cell-count table is at most n_centroids rows regardless of corpus
    size."""
    per = assigned.groupBy(cell_col).agg(F.count("*").alias("n"))
    return per.agg(
        F.count("*").alias("n_cells_used"),
        F.sum("n").alias("n_vecs"),
        F.max("n").alias("max_cell"),
        F.min("n").alias("min_cell"),
    ).select(
        "n_cells_used",
        "n_vecs",
        "max_cell",
        "min_cell",
        F.round(
            F.col("max_cell")
            * F.col("n_cells_used").cast("double")
            / F.col("n_vecs").cast("double"),
            4,
        ).alias("imbalance"),
    )


def embedding_outliers(
    assigned: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Embedding-space outlier detection: per-vector L2 distance to its
    IVF cell centroid, z-scored against the CELL's distance
    distribution — the embedding-side quality filter (mislabeled,
    corrupted, or off-distribution vectors sit far from every local
    centroid; a global distance threshold can't see this because cell
    radii vary, which is exactly what ivf_balance measures). Returns
    every vector with (cell, dist, z, is_outlier) — callers drop or
    down-weight flagged rows (compose with soft_dedup_weights-style
    reweighting or SemDeDup's keeper choice).

    `centroids` is a (cell, centroid array<double>) table — the stored
    quantizer, same contract as the ivf_centroids artifact. Flagging is
    computed on the ROUNDED z (4dp) so the boundary decision is
    identical in any engine; cells whose distance spread is below 1e-6
    (degenerate: all members equidistant) get z=0 — a spread that small
    is below any meaningful outlier signal and sits inside cross-engine
    float-sum noise amplification territory.

    Scale shape: one broadcast join (n_centroids rows) + one in-array
    fold per vector (deterministic left-to-right, the Lloyd-combine
    float discipline) + one map-side-combined per-cell moment agg
    (n/sum/sum2 — at most n_centroids rows shuffle) + one broadcast
    join back. No windows, no UDF, no pairwise anything."""
    from slowspark.util import materialize

    cent = centroids.select(
        F.col("cell").alias(cell_col), F.col("centroid").alias("__c")
    )
    d_expr = F.sqrt(
        F.expr(
            f"aggregate(zip_with({vec_col}, __c, (a, b) -> (a - b) * (a - b)), "
            f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    )
    with_d = materialize(
        assigned.join(F.broadcast(cent), cell_col)
        .select(id_col, cell_col, d_expr.alias("__d"))
    )
    stats = with_d.groupBy(cell_col).agg(
        F.count("*").alias("__n"),
        F.sum("__d").alias("__s"),
        F.sum(F.col("__d") * F.col("__d")).alias("__s2"),
    ).select(
        cell_col,
        (F.col("__s") / F.col("__n")).alias("__mean"),
        F.sqrt(
            F.greatest(
                F.col("__s2") / F.col("__n")
                - (F.col("__s") / F.col("__n")) ** 2,
                F.lit(0.0),
            )
        ).alias("__std"),
    )
    z = F.when(
        F.col("__std") <= 1e-6, F.lit(0.0)
    ).otherwise((F.col("__d") - F.col("__mean")) / F.col("__std"))
    return (
        with_d.join(F.broadcast(stats), cell_col)
        .select(
            id_col,
            cell_col,
            F.round("__d", 6).alias("dist"),
            F.round(z, 4).alias("z"),
            (F.round(z, 4) >= F.lit(float(z_threshold))).alias("is_outlier"),
        )
    )


def diversity_sample(
    assigned: DataFrame,
    k_per_cell: int,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced diversity sampling: keep at most k vectors per
    IVF cell, chosen by the deterministic md5-rank keeper
    (corpus.exact_k_sample over the cell strata). The embedding-space
    complement of the per-domain volume cap: where SemDeDup removes
    near-DUPLICATES within a cell, this caps a cell's total REPRESENTATION
    — a corpus that is 40% one topic cluster stops being 40% one topic,
    which is the cluster-balanced downsampling recipe for pretraining
    diversity (and the standard eval-set builder: k examples per
    semantic cluster).

    Same scale shape as exact_k_sample: one shuffle on the cell key +
    a per-cell rank; cells are the strata (n_centroids of them, large
    groups), AQE handles hot cells."""
    from slowspark.corpus import exact_k_sample

    return exact_k_sample(
        assigned, k_per_cell, id_col=id_col, stratum_col=cell_col,
        salt=salt,
    )
