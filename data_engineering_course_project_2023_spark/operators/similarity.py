"""Similarity search over embedding columns (extension op, SURVEY §2.8
X3): brute-force cosine top-k as the correctness baseline, and a
sign-random-projection LSH bucketed variant as the scale path.

Scale design:
- Brute force is a broadcast of the query vector + a single map-side
  pass and a top-k (TakeOrdered) — no shuffle of the corpus. Right
  answer, O(N·d) per query: the baseline to beat.
- The LSH path buckets vectors by the sign pattern of projections onto
  hash-derived ±1 hyperplanes. Bucketing is map-side; candidate
  generation is an equi-join on the bucket key, so the shuffle is keyed
  and bounded. Hyperplanes are md5-derived constants — deterministic
  across engines, so even the ANN path is oracle-checkable.
- Everything is float32-in/float64-accumulate with built-in higher-order
  functions (zip_with/aggregate) — no Python in the loop.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import spread
from .dedup import run_memo

EMBED_DIM = 64
# 3 planes → 8 buckets, probed multi-probe (exact bucket + every
# hamming-1 neighbor = 4 of 8 buckets). Measured on the synthetic
# (near-random) embeddings fixture: recall 0.8 vs brute force at both
# sf0.001 and sf0.01 while reranking ~half the corpus. Real corpora with
# locality support more planes / fewer probes; tune per corpus.
N_PLANES = 3
# Probe masks: 0 (exact bucket) plus one flipped bit per plane.
PROBE_MASKS = [0] + [1 << p for p in range(N_PLANES)]


def hyperplanes(dim: int = EMBED_DIM, n_planes: int = N_PLANES) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign of bit parity of md5(p|d).
    Shared verbatim by the DuckDB oracle (inlined as literals)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1 if int(h[:2], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def dot(a: Column, b: Column) -> Column:
    """Double-accumulated dot product of two float arrays (sequential
    fold → deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Measured negative, not to be re-tried: an unrolled fixed-width dot (a
# 64-term element_at(a,i)·element_at(b,i) chain, same fold order) in
# place of the aggregate/zip_with fold made the pair-cosine consumers'
# executor CPU ~3× WORSE at sf0.1 (knn_graph 13.5→44.1 s): the ~400-node
# expression falls out of whole-stage codegen and every element_at pays
# its own ANSI bounds check. Hoisting the norm to once per row is what
# measured well (see :func:`_blocked_cosines`).
def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Float cosine; a zero-norm side gives NULL (``try_divide``), where
    the ANSI ``/`` would raise DIVIDE_BY_ZERO."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def top_cosines(
    cands: DataFrame,
    q: Column,
    k: int | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by: str | None = None,
) -> DataFrame:
    """The retrieval family's one scoring step: score every candidate
    row ``cos_sim = round(cosine(vec_col, q), 6)`` and rank by (cos_sim
    desc, id_col asc). Without ``by``: the k best ``(id_col, cos_sim)``
    rows (TakeOrdered — per-partition heads merged, the corpus never
    shuffles). With ``by``: every candidate column plus cos_sim and a
    per-key ``rank``, cut at k unless k is None. Scores round to 6 dp
    before ranking: cross-engine float agreement is ~1 ulp, far inside
    the rounding, so both engines rank identically. A NULL score
    (zero-norm side) ranks last."""
    score = F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim")
    return _ranked(cands.select(id_col if by is None else "*", score), k, id_col, by)


def _ranked(scored: DataFrame, k: int | None, id_col: str, by: str | None) -> DataFrame:
    """Rank scored rows by (cos_sim desc, id_col asc): the k best
    overall, or a per-``by`` ``rank`` cut at k unless k is None."""
    order = (F.desc("cos_sim"), F.asc(id_col))
    if by is None:
        return scored.orderBy(*order).limit(k)
    w = Window.partitionBy(by).orderBy(*order)
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return ranked if k is None else ranked.filter(F.col("rank") <= k)


# --- bit-deterministic cosine (quantized integer units) ----------------------
# Float cosines agree across engines only to ~1 ulp (summation order,
# compiler contraction), which is USUALLY absorbed by a 6-dp round —
# until a value lands within an ulp of the rounding grid and the round
# AMPLIFIES the ulp into a visible mismatch (caught by the sf1z parity
# census on mmr_rerank). This variant is bit-identical cross-engine by
# construction:
#   1. quantize: floor(x · 2^20) — the multiply is EXACT in float64
#      (power-of-two scale), floor has no ties, so both engines get the
#      same BIGINT from the same stored float;
#   2. dot and squared norms are exact integer sums (|x| ≤ 1 ⇒ products
#      ≤ 2^40, 64-dim sums ≤ 2^46 — no overflow, order-free);
#   3. the float finish is three individually-rounded IEEE ops with no
#      fusable multiply-add: (double)dot / sqrt((double)na2 · (double)nb2).
# Quantization error is ~2^-20 — inside the 6-dp presentation round.
Q_SCALE = 1 << 20


def quantize_vec(a: Column) -> Column:
    """floor(x·2^20) per component, as BIGINTs (exact, tie-free)."""
    return F.transform(
        a, lambda x: F.floor(x.cast("double") * F.lit(float(Q_SCALE)))
    )


def quantize_py(vec) -> list[int]:
    """The same quantization driver-side (for embedding picked vectors
    as plan literals): float32→float64 is exact, ·2^20 is exact, floor
    is exact — identical to the engine expression."""
    import math

    return [int(math.floor(float(x) * Q_SCALE)) for x in vec]


def _int_dot(qa: Column, qb: Column) -> Column:
    # explicit long casts: a quantized LITERAL array arrives as
    # array<int> and int*int would overflow 32 bits at (2^20)^2
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_exact(a: Column, b: Column) -> Column:
    """Cosine over floor-quantized integer units — bit-identical in
    Spark and DuckDB (see block comment above). If ``b`` is already a
    quantized BIGINT array literal, call :func:`cosine_exact_q`
    directly instead of this wrapper."""
    return cosine_exact_q(a, quantize_vec(b))


def cosine_exact_q(a: Column, qb: Column) -> Column:
    qa = quantize_vec(a)
    na2 = _int_dot(qa, qa)
    nb2 = _int_dot(qb, qb)
    # try_divide: a zero-norm side gives NULL, as the DuckDB twin's `/`
    # does; the ANSI `/` would raise DIVIDE_BY_ZERO instead.
    return F.try_divide(
        _int_dot(qa, qb).cast("double"),
        F.sqrt(na2.cast("double") * nb2.cast("double")),
    )


def dd_qvec(expr: str) -> str:
    """DuckDB spelling of :func:`quantize_vec` (oracle twin)."""
    return (
        f"list_transform(CAST({expr} AS DOUBLE[]), "
        f"v -> CAST(FLOOR(v * {float(Q_SCALE)!r}) AS BIGINT))"
    )


def dd_qcos(qx: str, qy: str) -> str:
    """DuckDB spelling of the quantized cosine over two pre-quantized
    BIGINT[] expressions (oracle twin of :func:`cosine_exact_q`)."""
    dot = f"list_sum(list_transform(list_zip({qx}, {qy}), s -> s[1] * s[2]))"
    n2 = "list_sum(list_transform({q}, v -> v * v))"
    return (
        f"(CAST({dot} AS DOUBLE) / sqrt("
        f"CAST({n2.format(q=qx)} AS DOUBLE)"
        f" * CAST({n2.format(q=qy)} AS DOUBLE)))"
    )


def brute_force_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 baseline: exact cosine top-k against one stored query vector.
    Candidates are all other rows; the query row is broadcast, so the
    corpus never shuffles. An absent query row gives no rows."""
    q = df.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("query_vec")
    )
    cands = spread(df).filter(F.col(id_col) != query_vec_id).crossJoin(F.broadcast(q))
    return top_cosines(cands, F.col("query_vec"), k, id_col, vec_col)


def lsh_bucket(vec: Column, planes: list[list[int]] | None = None) -> Column:
    """Sign-random-projection bucket id: bit p set when the projection
    onto plane p is positive. Map-side only."""
    planes = planes or hyperplanes()
    bits = []
    for p, weights in enumerate(planes):
        warr = F.array(*[F.lit(float(w)) for w in weights])
        proj = dot(vec, warr)
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 scale path: multi-probe LSH — candidates come from the query's
    exact bucket plus every hamming-1 neighbor bucket (flip one plane's
    bit), then exact cosine rerank inside the probed set. Multi-probe is
    what lifts recall on weak-locality corpora (0.2 → 0.8 on the random
    fixture) without adding planes. The probe set is exploded on the
    broadcast query side, so candidate generation stays a keyed
    equi-join on the bucket id — the shuffle remains bounded."""
    bucketed = spread(df).withColumn("bucket", lsh_bucket(F.col(vec_col)))
    q = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("query_vec"), F.col("bucket").alias("qbucket")
    )
    probes = q.select(
        "query_vec",
        F.explode(
            F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in PROBE_MASKS])
        ).alias("bucket"),
    )
    cands = bucketed.filter(F.col(id_col) != query_vec_id).join(
        F.broadcast(probes), "bucket"
    )
    return top_cosines(cands, F.col("query_vec"), k, id_col, vec_col)


def _blocked_cosines(
    df: DataFrame, block_col: str, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) for every pair vec_a < vec_b that shares a
    block: a self-join keyed by the block, so the shuffle is bounded and
    each block's quadratic cost stays local. Norms are computed once per
    row before the join, so a pair pays exactly one dot fold (norm(a) ·
    norm(b) per pair cost a block of n rows 2n² extra folds, and the
    hoisted doubles are the same, so scores are bit-identical). A
    zero-norm side scores NULL. Scores round to 6 dp."""
    e = spread(df).select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("_nrm"),
    )
    b = e.select(
        F.col(id_col).alias("_idb"),
        F.col("_blk"),
        F.col(vec_col).alias("_vecb"),
        F.col("_nrm").alias("_nrmb"),
    )
    return (
        e.join(b, "_blk")
        .filter(F.col(id_col) < F.col("_idb"))
        .select(
            F.col(id_col).alias("vec_a"),
            F.col("_idb").alias("vec_b"),
            F.round(
                F.try_divide(
                    dot(F.col(vec_col), F.col("_vecb")),
                    F.col("_nrm") * F.col("_nrmb"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup with blocking: exact all-pairs *within*
    a blocking key (label, shard, source...) — the standard way to make
    pairwise dedup tractable (see :func:`_blocked_cosines`)."""
    return _blocked_cosines(df, block_col, id_col, vec_col).filter(
        F.col("cos_sim") >= threshold
    )


# --- driver-held constants as SQL literals -----------------------------------
# Codebooks and query vectors are folded into ONE ``F.expr`` string, so
# the k·dim literals are parsed JVM-side in a single py4j call: nested
# ``F.lit``/``F.struct`` Columns cost ~0.5 s of py4j round-trips per
# k-means round.
def _dbl_array(xs) -> str:
    """DOUBLE array literal: ``repr(float)`` round-trips exactly; the
    ``D`` suffix keeps the parser in DOUBLE."""
    return "array({})".format(",".join(repr(float(x)) + "D" for x in xs))


def _centroids_sql(cents) -> str:
    """``array(struct(cid, c), ...)`` over (centroid id, vector) pairs."""
    return "array({})".format(
        ", ".join(f"struct({int(cid)} AS cid, {_dbl_array(c)} AS c)" for cid, c in cents)
    )


def _nearest_sql(cents, vec: str) -> str:
    """Id of the centroid nearest to the array expression ``vec`` (squared
    L2): ``array_min`` over (distance, cid) structs picks the argmin in
    one map-side pass, ties to the lowest cid (structs order
    lexicographically). No shuffle, where a window argmin shuffles N·k
    rows per k-means round."""
    return f"""array_min(transform({_centroids_sql(cents)}, s -> struct(
        aggregate(zip_with({vec}, s.c, (a, b) -> (a-b)*(a-b)),
                  0.0D, (acc, x) -> acc + x) AS d,
        s.cid AS cid))).cid"""


def _argmin_expr(cent_list: list[tuple[int, list[float]]]) -> Column:
    """IVF cell of column ``v``: its nearest centroid."""
    return F.expr(_nearest_sql(sorted(cent_list), "v"))


def _kmeans_list(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's k-means for IVF coarse quantization:
    init = the k lowest-id vectors, fixed iteration count (3 Lloyd
    rounds — the coarse quantizer converges by then on every fixture;
    recall vs brute force is pinned in pytest).

    Centroids live on the driver (k·dim doubles — tiny by construction;
    the same discipline as Spark MLlib's KMeans, whose per-round state
    is driver-held). Each round is ONE job: a map-side argmin assignment
    (no shuffle) feeding the mean recompute via posexplode →
    groupBy(centroid_id, pos) — partial-aggregated map-side, so the
    only shuffle carries k·dim·n_map_partitions pre-combined rows.
    Collecting k·dim means per round replaces the r1 crossJoin +
    Window.partitionBy(vec_id) plan that shuffled N·k rows per
    iteration. The cast/scan is localCheckpoint'ed once so rounds don't
    re-read the source (the MLlib ``.cache()`` discipline). Memoized per
    run by ``run_memo`` (train once, search many)."""

    def build():
        dim_probe = df.select(F.size(vec_col).alias("d")).first()["d"]
        init = (
            df.orderBy(id_col)
            .limit(k)
            .select(F.col(vec_col).cast("array<double>").alias("centroid"))
            .collect()
        )
        cent_list = [(i + 1, list(r["centroid"])) for i, r in enumerate(init)]
        vecs = df.select(
            id_col, F.col(vec_col).cast("array<double>").alias("v")
        ).localCheckpoint()
        for _ in range(n_iter):
            # Mean recompute in exact integer nano-units: a float sum's
            # value depends on partial-aggregate merge order (shuffle fetch
            # order is not deterministic), so avg() could wiggle in the
            # last ulp between runs and move a near-tied argmin. Summing
            # round(val*1e9) as BIGINT is order-independent and exact, so
            # the trained centroids are bit-identical on every run — which
            # is what lets a trained codebook be pinned as a constant.
            rows = (
                vecs.withColumn("centroid_id", _argmin_expr(cent_list))
                .select("centroid_id", F.posexplode("v").alias("pos", "val"))
                .groupBy("centroid_id", "pos")
                .agg(
                    F.sum(F.round(F.col("val") * 1e9).cast("long")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            means: dict[int, dict[int, float]] = {}
            for r in rows:
                means.setdefault(int(r["centroid_id"]), {})[int(r["pos"])] = (
                    float(r["s"]) / (int(r["n"]) * 1e9)
                )
            # clusters that lost every member drop out (matches r1 groupBy)
            cent_list = sorted(
                (cid, [vals[p] for p in range(dim_probe)]) for cid, vals in means.items()
            )
        return cent_list

    return run_memo(df, ("kmeans", k, n_iter, id_col, vec_col), build)



def _query_vec(
    df: DataFrame, query_vec_id: int, id_col: str, vec_col: str
) -> list[float] | None:
    """The query row's vector as driver doubles; None when the row is
    absent (or its vector is NULL), so a search can answer no rows
    before it trains anything."""
    row = (
        df.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .first()
    )
    return None if row is None or row["v"] is None else list(row["v"])


def _no_rows(df: DataFrame, id_col: str) -> DataFrame:
    """The empty (id_col, cos_sim) answer of a search without a query."""
    return df.select(id_col, F.lit(None).cast("double").alias("cos_sim")).limit(0)


def _double_vecs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return spread(df).select(id_col, F.col(vec_col).cast("array<double>").alias("v"))


def _probe_cells(
    qv: list[float], cent_list: list[tuple[int, list[float]]], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest to the query, picked on the driver
    (as FAISS picks them: the coarse quantizer is small by
    construction); ties go to the lower centroid id."""
    qdists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qv, c)), cid) for cid, c in cent_list
    )
    return [cid for _, cid in qdists[:n_probe]]


def ivf_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
    n_clusters: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: assign corpus to centroids map-side (argmin over
    driver-held centroid constants — zero shuffle), probe the query's
    ``n_probe`` nearest cells, exact cosine rerank inside them. The
    whole search is scan → map-side assignment → probe filter →
    TakeOrdered. At scale the assignment is written partitioned by
    centroid_id so a probe reads only matching partitions. An absent
    query row gives no rows and trains nothing.
    """
    qv = _query_vec(df, query_vec_id, id_col, vec_col)
    if qv is None:
        return _no_rows(df, id_col)
    cent_list = _kmeans_list(df, k=n_clusters, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    cands = (
        _double_vecs(df, id_col, vec_col)
        .withColumn("centroid_id", _argmin_expr(cent_list))
        .filter(F.col("centroid_id").isin(_probe_cells(qv, cent_list, n_probe)))
        .filter(F.col(id_col) != query_vec_id)
    )
    return top_cosines(cands, F.expr(_dbl_array(qv)), k, id_col, "v")


# --- product quantization (X3e): compressed codes + ADC search ------------
PQ_M = 8   # subspaces (64 dims → 8-dim subvectors)
PQ_K = 16  # centroids per subspace → 4-bit codes, 64 floats → 8 nibbles


def _pq_assign_expr(cents: list[list[list[float]]], d_sub: int) -> Column:
    """codes array<int>: per subspace, the nearest code of that
    subspace's table to the matching slice of ``v``."""
    return F.expr(
        "array("
        + ", ".join(
            _nearest_sql(enumerate(sub), f"slice(v, {j * d_sub + 1}, {d_sub})")
            for j, sub in enumerate(cents)
        )
        + ")"
    )


def _pq_train(
    df: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebook: independent k-means per subspace,
    trained JOINTLY — one Spark job per round covers all m subspaces
    (assign codes map-side, then posexplode → groupBy(sub, code,
    pos-within-sub) mean recompute, partial-aggregated). Init = the k
    lowest-id vectors' subvectors. Codes whose cell empties keep their
    previous centroid so code ids stay dense positional. Memoized per
    run by ``run_memo`` (train once, encode and search many)."""

    def build():
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
        assert dim % m == 0, f"dim {dim} not divisible by m {m}"
        d_sub = dim // m
        init = (
            df.orderBy(id_col)
            .limit(k)
            .select(F.col(vec_col).cast("array<double>").alias("v"))
            .collect()
        )
        cents = [
            [list(r["v"][j * d_sub:(j + 1) * d_sub]) for r in init]
            for j in range(m)
        ]
        vecs = df.select(
            id_col, F.col(vec_col).cast("array<double>").alias("v")
        ).localCheckpoint()
        for _ in range(n_iter):
            # Exact integer nano-unit sums for the same reason as
            # :func:`_kmeans_list`: order-independent means make
            # training bit-deterministic run-to-run, so the sf0.01-trained
            # codebook can be embedded as constants in the DuckDB oracle.
            rows = (
                vecs.withColumn("codes", _pq_assign_expr(cents, d_sub))
                .select("codes", F.posexplode("v").alias("pos", "val"))
                .withColumn("sub", (F.col("pos") / d_sub).cast("int"))
                .withColumn("code", F.element_at("codes", F.col("sub") + 1))
                .groupBy("sub", "code", (F.col("pos") % d_sub).alias("p"))
                .agg(
                    F.sum(F.round(F.col("val") * 1e9).cast("long")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            means: dict[tuple[int, int], dict[int, float]] = {}
            for r in rows:
                means.setdefault((int(r["sub"]), int(r["code"])), {})[int(r["p"])] = (
                    float(r["s"]) / (int(r["n"]) * 1e9)
                )
            for (j, c), vals in means.items():
                cents[j][c] = [vals[p] for p in range(d_sub)]
        return cents

    return run_memo(df, ("pq", m, k, n_iter, id_col, vec_col), build)



def _adc_sql(qv: list[float], cents: list[list[list[float]]], d_sub: int) -> str:
    """ADC (asymmetric distance) of column ``codes`` to ``qv``: the
    query's per-subspace table of squared distances to every trained
    code, computed on the driver and folded into one expression, so
    scoring a vector is m table lookups. A table row has one entry per
    trained code, which is fewer than PQ_K under PQ_K training rows."""
    table = [
        [sum((qv[j * d_sub + p] - c[p]) ** 2 for p in range(d_sub)) for c in sub]
        for j, sub in enumerate(cents)
    ]
    return (
        f"aggregate(zip_with(array({', '.join(_dbl_array(r) for r in table)}), "
        f"codes, (t, c) -> element_at(t, c + 1)), 0.0D, (acc, x) -> acc + x)"
    )


def pq_codes(
    df: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3e compression path: each vector → m small codes (4-bit at the
    defaults): 64 float32 → 8 nibbles, a 64× size cut. The codes column
    is what a 100 TB pipeline persists; assignment is a zero-shuffle
    map over driver-held codebooks. An empty table gives no rows and
    trains nothing."""
    dim = df.select(F.size(vec_col).alias("d")).first()
    if dim is None:
        return df.select(id_col, F.lit(None).cast("array<int>").alias("codes")).limit(0)
    cents = _pq_train(df, m, k, n_iter, id_col, vec_col)
    return _double_vecs(df, id_col, vec_col).withColumn(
        "codes", _pq_assign_expr(cents, dim["d"] // m)
    ).select(id_col, "codes")


def pq_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    topk: int = 10,
    shortlist: int = 100,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3e search: ADC over PQ codes (:func:`_adc_sql`), no float math on
    the corpus vectors, then an exact cosine rerank of the ADC
    shortlist (the FAISS IVFADC+refine layout). Both passes are
    map-side + TakeOrdered: the corpus never shuffles. An absent query
    row gives no rows and trains nothing."""
    qv = _query_vec(df, query_vec_id, id_col, vec_col)
    if qv is None:
        return _no_rows(df, id_col)
    cents = _pq_train(df, m, k, n_iter, id_col, vec_col)
    d_sub = len(qv) // m
    vecs = _double_vecs(df, id_col, vec_col)
    short_ids = [
        r[id_col]
        for r in vecs.filter(F.col(id_col) != query_vec_id)
        .withColumn("codes", _pq_assign_expr(cents, d_sub))
        .select(id_col, F.expr(_adc_sql(qv, cents, d_sub)).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
        .collect()
    ]
    cands = vecs.filter(F.col(id_col).isin(short_ids))
    return top_cosines(cands, F.expr(_dbl_array(qv)), topk, id_col, "v")


def knn_graph(
    df: DataFrame,
    k: int = 3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3: blocked k-nearest-neighbor graph — for every vector, its k
    most-cosine-similar neighbors *within its blocking key* (label /
    shard / cluster id). The kNN graph is the substrate for
    semantic-dedup clustering and graph-based diversity sampling.

    Each pair of :func:`_blocked_cosines` is scored once and emitted in
    both directions by one ``inline``: IEEE products and the norm
    product commute, so a→b and b→a carry the same double. Top-k is a
    per-vector window ordered by the ROUNDED score (+ neighbor id
    tiebreak), so engine and oracle rank identically."""
    both = _blocked_cosines(df, block_col, id_col, vec_col).select(
        F.inline(F.array(*[
            F.struct(F.col(a).alias(id_col), F.col(b).alias("neighbor_id"), "cos_sim")
            for a, b in (("vec_a", "vec_b"), ("vec_b", "vec_a"))
        ]))
    )
    return _ranked(both, k, "neighbor_id", by=id_col).select(
        id_col, "neighbor_id", "cos_sim"
    )


def semdedup_keep(
    df: DataFrame,
    threshold: float = 0.40,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X2/X3: semantic dedup keep-filter (SemDeDup-style) — drop every
    vector whose cosine similarity to a LOWER-id vector in the same
    block reaches the threshold; survivors are the semantically-unique
    corpus a training pipeline ships. The a<b orientation makes the
    keep decision deterministic (first-seen wins, like the exact-dedup
    keep-first rule) without materializing clusters.

    Pair generation is the blocked keyed join; the drop is one
    left-anti join against the distinct b-side — no window over the
    full corpus.
    """
    dups = (
        blocked_cosine_pairs(df, block_col, threshold, id_col, vec_col)
        .select(F.col("vec_b").alias(id_col))
        .distinct()
    )
    return (
        spread(df)
        .join(dups, id_col, "left_anti")
        .select(id_col, block_col)
    )


def ivfpq_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    topk: int = 10,
    shortlist: int = 100,
    n_probe: int = 2,
    n_clusters: int = 8,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3g: the full FAISS IVFADC layout — coarse IVF quantizer prunes
    to ``n_probe`` cells, PQ codes over the *residuals* (v − cell
    centroid) give the compressed in-cell representation, ADC scores
    the probed cells with a per-cell distance table (the query residual
    differs per cell), and the shortlist gets an exact cosine rerank.

    Scale shape: both codebooks are driver-held constants (coarse
    k·dim + PQ m·k·d_sub doubles); assignment, residual encoding and
    ADC scoring are zero-shuffle map expressions; the only ordering
    work is TakeOrdered of the shortlist then of topk. At 100 TB the
    encoded (centroid_id, codes) frame is the persisted index —
    partitioned by centroid_id so a probe scans only matching
    partitions — and search never touches raw vectors except to rerank
    the shortlist. An absent query row gives no rows and trains
    nothing."""
    qv = _query_vec(df, query_vec_id, id_col, vec_col)
    if qv is None:
        return _no_rows(df, id_col)
    cent_list = _kmeans_list(df, k=n_clusters, id_col=id_col, vec_col=vec_col)
    d_sub = len(qv) // m

    # residual frame: v − assigned cell centroid, via a literal
    # cid→centroid lookup folded into the expression
    assigned = _double_vecs(df, id_col, vec_col).withColumn(
        "centroid_id", _argmin_expr(cent_list)
    ).withColumn(
        "resid",
        F.expr(
            f"""zip_with(v, filter({_centroids_sql(cent_list)},
                         s -> s.cid = centroid_id)[0].c,
                         (a, b) -> a - b)"""
        ),
    ).localCheckpoint()

    # PQ codebook trained on residuals (the canonical IVFADC encoding);
    # memoized on the ORIGINAL input — the checkpointed residual frame
    # has no input files to key on
    cents_pq = run_memo(
        df, ("ivfpq-resid", n_clusters, m, k, id_col, vec_col),
        lambda: _pq_train(assigned.select(id_col, "resid"), m, k, 2, id_col, "resid"),
    )

    # per probed cell, the ADC table over the query's residual in that cell
    probe_ids = _probe_cells(qv, cent_list, n_probe)
    cent_by_id = dict(cent_list)
    adc_case = "CASE " + " ".join(
        f"WHEN centroid_id = {cid} THEN "
        f"({_adc_sql([a - b for a, b in zip(qv, cent_by_id[cid])], cents_pq, d_sub)})"
        for cid in probe_ids
    ) + " END"

    # _pq_assign_expr reads column `v`; point it at the residuals
    short = (
        assigned.filter(F.col("centroid_id").isin(probe_ids))
        .filter(F.col(id_col) != query_vec_id)
        .withColumnRenamed("v", "_raw")
        .withColumnRenamed("resid", "v")
        .withColumn("codes", _pq_assign_expr(cents_pq, d_sub))
        .withColumn("adc_dist", F.expr(adc_case))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
    )
    return top_cosines(short, F.expr(_dbl_array(qv)), topk, id_col, "_raw")


def hard_negatives(
    df: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_ids: list[int] | None = None,
) -> DataFrame:
    """X3 training-data op: HARD-NEGATIVE mining — for each query
    vector, the k most-similar vectors with a DIFFERENT label (the
    negatives that actually move a contrastive/triplet loss; random
    negatives are trivially easy).

    Scale shape: the query set (an explicit ``query_ids`` anchor list,
    or the pinned ids < n_queries fallback) is broadcast, the corpus is
    scanned once map-side for the cosine, and one window per query id
    takes the top-k — identical topology to brute_force_topk, times a
    small constant. At billion-vector scale swap the scan for the
    IVF/LSH probe and keep the same label-exclusion filter and window
    cut.
    """
    anchor_pred = (
        F.col(id_col).isin(query_ids)
        if query_ids is not None
        else F.col(id_col) < n_queries
    )
    q = df.filter(anchor_pred).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col(label_col).alias("query_label"),
    )
    cands = (
        spread(df)
        .crossJoin(F.broadcast(q))  # n_queries rows: O(N·|anchors|)
        .filter(F.col(label_col) != F.col("query_label"))
    )
    return top_cosines(
        cands, F.col("query_vec"), k, id_col, vec_col, by="query_id"
    ).select(
        "query_id",
        "rank",
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        "cos_sim",
    )
