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


# Round-12 negative result, recorded so it is not re-tried: an
# "unrolled fixed-width dot" (a 64-term element_at(a,i)·element_at(b,i)
# chain, bit-identical fold order, dim probed from the data) was built
# for the quadratic pair-cosine sites on the theory that the
# aggregate/zip_with fold is interpreted. Measured at sf0.1
# (task_metrics --warmups 2): executor CPU WORSE ~3× on all three
# consumers (semdedup_keep 7.3→21.6 s, knn_graph 13.5→44.1 s,
# embedding_neardup 2.2→20.8 s) — the ~400-node expression falls out of
# whole-stage codegen and every element_at pays its own ANSI bounds
# check, losing badly to the fold primitive. The norm HOIST (below)
# is the part that measured well and shipped.
def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


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
    The query row is broadcast; the corpus never shuffles. Scores are
    rounded to 6 dp — cross-engine float agreement is ~1 ulp, far inside
    the rounding, while real score gaps are orders of magnitude larger.
    """
    q = df.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("query_vec")
    )
    return (
        spread(df).filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("query_vec")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


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
    return (
        bucketed.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(probes), "bucket")
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("query_vec")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
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
    pairwise dedup tractable: the join is keyed by the block, so the
    shuffle is bounded and each block's quadratic cost is local.
    Scores rounded to 6 dp (cross-engine 1-ulp tolerance).

    Norms are computed ONCE PER ROW before the join (round 12):
    ``cosine()`` inline spelled norm(a)·norm(b) per PAIR, so a block of
    n rows paid 2n² extra array folds — and Spark's higher-order
    aggregate/zip_with lambdas are interpreted (not codegen'd),
    allocation-heavy work that the 32-core contention diagnosis showed
    inflating superlinearly under load (semdedup_keep CPU 10.0→241 s
    under a co-running bench for identical tasks/bytes). Per-pair work
    is now exactly one dot fold. Bit-identical: the hoisted norm/sqrt
    values are the same doubles the per-pair expression produced (same
    fold order, same ops), and dot/(na·nb) is the same
    multiply-then-divide. (A codegen-unrolled fixed-width dot was
    measured for the per-pair kernel and REJECTED: see the round-12
    negative-result comment above :func:`norm`.)"""
    e = spread(df).select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("_nrm"),
    )
    a = e.alias("a")
    b = (
        e.select(
            F.col(id_col).alias("_idb"),
            F.col("_blk"),
            F.col(vec_col).alias("_vecb"),
            F.col("_nrm").alias("_nrmb"),
        )
    ).alias("b")
    return (
        a.join(b, "_blk")
        .filter(F.col(id_col) < F.col("_idb"))
        .select(
            F.col(id_col).alias("vec_a"),
            F.col("_idb").alias("vec_b"),
            F.round(
                dot(F.col(vec_col), F.col("_vecb"))
                / (F.col("_nrm") * F.col("_nrmb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _argmin_expr(cent_list: list[tuple[int, list[float]]]) -> Column:
    """Map-side nearest-centroid assignment over a column ``v``: the k
    (distance, centroid_id) structs form one array expression over
    driver-held centroid constants; ``array_min`` over the struct array
    picks the argmin in a single pass (struct ordering is lexicographic,
    so ties break to the lowest centroid_id — matching the r1 window
    ordering). Zero shuffle — this replaces the r1 window-argmin plan,
    which shuffled N·k rows per round.

    Built as ONE ``F.expr`` string so the k·dim literals are parsed
    JVM-side in a single py4j call — constructing them as nested
    ``F.lit``/``F.struct`` Columns costs ~0.5 s of py4j round-trips per
    k-means round, which dominated the r1 runtime more than the shuffle
    did. ``repr(float)`` round-trips exactly; the ``D`` suffix keeps the
    parser in DOUBLE."""
    mat = ", ".join(
        "struct({} AS cid, array({}) AS c)".format(
            int(cid), ",".join(repr(float(x)) + "D" for x in c)
        )
        for cid, c in sorted(cent_list)
    )
    return F.expr(
        f"""array_min(transform(array({mat}), s -> struct(
            aggregate(zip_with(v, s.c, (a, b) -> (a-b)*(a-b)),
                      0.0D, (acc, x) -> acc + x) AS d,
            s.cid AS cid))).cid"""
    )


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
    ``n_probe`` nearest cells, exact cosine rerank inside them.

    Probe-cell selection is k distances computed on the driver (exactly
    how FAISS picks cells — the coarse quantizer is small by
    construction). The whole search is therefore: scan → map-side
    assignment → probe filter → TakeOrdered. At scale the assignment is
    written partitioned by centroid_id so a probe reads only matching
    partitions.
    """
    cent_list = _kmeans_list(df, k=n_clusters, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    qv = list(
        df.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .first()["v"]
    )
    qdists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qv, c)), cid) for cid, c in cent_list
    )
    probe_ids = [cid for _, cid in qdists[:n_probe]]
    vecs = spread(df).select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    assigned = vecs.withColumn("centroid_id", _argmin_expr(cent_list))
    qarr = F.expr("array({})".format(",".join(repr(float(x)) + "D" for x in qv)))
    return (
        assigned.filter(F.col("centroid_id").isin(probe_ids))
        .filter(F.col(id_col) != query_vec_id)
        .select(
            id_col,
            F.round(cosine(F.col("v"), qarr), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# --- product quantization (X3e): compressed codes + ADC search ------------
PQ_M = 8   # subspaces (64 dims → 8-dim subvectors)
PQ_K = 16  # centroids per subspace → 4-bit codes, 64 floats → 8 nibbles


def _pq_assign_expr(cents: list[list[list[float]]], d_sub: int) -> Column:
    """codes array<int>: per subspace, argmin over that subspace's
    centroid table applied to the matching slice of ``v``. One parsed
    expr string (same py4j-cost rationale as :func:`_argmin_expr`);
    ties break to the lowest code via struct ordering."""
    parts = []
    for j, sub in enumerate(cents):
        mat = ", ".join(
            "struct({} AS cid, array({}) AS c)".format(
                cid, ",".join(repr(float(x)) + "D" for x in c)
            )
            for cid, c in enumerate(sub)
        )
        parts.append(
            f"""array_min(transform(array({mat}), s -> struct(
                aggregate(zip_with(slice(v, {j * d_sub + 1}, {d_sub}), s.c,
                          (a, b) -> (a-b)*(a-b)), 0.0D,
                          (acc, x) -> acc + x) AS d,
                s.cid AS cid))).cid"""
        )
    return F.expr("array(" + ", ".join(parts) + ")")


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
    map over driver-held codebooks."""
    dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    cents = _pq_train(df, m, k, n_iter, id_col, vec_col)
    vecs = spread(df).select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    return vecs.withColumn("codes", _pq_assign_expr(cents, dim // m)).select(
        id_col, "codes"
    )


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
    """X3e search: ADC (asymmetric distance computation) over PQ codes
    + exact rerank. The query's per-subspace distance table (m×k
    doubles) is computed driver-side and folded into the scoring
    expression — scoring a vector is m table lookups, no float math on
    the corpus vectors at all. The ADC shortlist then gets an exact
    cosine rerank (the FAISS IVFADC+refine layout). Both passes are
    map-side + TakeOrdered: the corpus never shuffles."""
    cents = _pq_train(df, m, k, n_iter, id_col, vec_col)
    dim = len(cents[0][0]) * m
    d_sub = dim // m
    qv = list(
        df.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .first()["v"]
    )
    table = [
        [
            sum(
                (qv[j * d_sub + p] - cents[j][c][p]) ** 2
                for p in range(d_sub)
            )
            for c in range(k)
        ]
        for j in range(m)
    ]
    tbl_sql = ", ".join(
        "array({})".format(",".join(repr(float(x)) + "D" for x in row))
        for row in table
    )
    codes = _pq_assign_expr(cents, d_sub)
    adc = F.expr(
        f"""aggregate(zip_with(array({tbl_sql}), codes,
                      (t, c) -> element_at(t, c + 1)),
                      0.0D, (acc, x) -> acc + x)"""
    )
    vecs = spread(df).select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    short_ids = [
        r[id_col]
        for r in vecs.filter(F.col(id_col) != query_vec_id)
        .withColumn("codes", codes)
        .select(id_col, adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
        .collect()
    ]
    qarr = F.expr("array({})".format(",".join(repr(float(x)) + "D" for x in qv)))
    return (
        vecs.filter(F.col(id_col).isin(short_ids))
        .select(
            id_col,
            F.round(cosine(F.col("v"), qarr), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(topk)
    )


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

    Same scale shape as :func:`blocked_cosine_pairs`: the join is keyed
    by the block so the shuffle is bounded and each block's quadratic
    cost stays local; top-k is a per-vector window over the block join
    output, ordered by the ROUNDED score (+ neighbor id tiebreak) so
    engine and oracle rank identically. Norms hoisted to once-per-row
    before the join (round 12, same bit-identical rewrite as
    blocked_cosine_pairs — per-pair work is one dot fold).
    """
    from pyspark.sql.window import Window

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
    w = Window.partitionBy(id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        e.join(b, "_blk")
        .filter(F.col(id_col) != F.col("_idb"))
        .select(
            F.col(id_col),
            F.col("_idb").alias("neighbor_id"),
            F.round(
                dot(F.col(vec_col), F.col("_vecb"))
                / (F.col("_nrm") * F.col("_nrmb")),
                6,
            ).alias("cos_sim"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "neighbor_id", "cos_sim")
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
    the shortlist."""
    cent_list = _kmeans_list(df, k=n_clusters, id_col=id_col, vec_col=vec_col)
    d_sub_dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    d_sub = d_sub_dim // m

    # residual frame: v − assigned cell centroid, via a literal
    # cid→centroid lookup folded into the expression
    cent_lookup = ", ".join(
        "struct({} AS cid, array({}) AS c)".format(
            int(cid), ",".join(repr(float(x)) + "D" for x in c)
        )
        for cid, c in cent_list
    )
    vecs = spread(df).select(
        id_col, F.col(vec_col).cast("array<double>").alias("v")
    )
    assigned = vecs.withColumn("centroid_id", _argmin_expr(cent_list)).withColumn(
        "resid",
        F.expr(
            f"""zip_with(v, filter(array({cent_lookup}),
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

    qrow = df.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).cast("array<double>").alias("v")
    )
    qv = list(qrow.first()["v"])
    qdists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qv, c)), cid)
        for cid, c in cent_list
    )
    probe_ids = [cid for _, cid in qdists[:n_probe]]
    cent_by_id = dict(cent_list)

    # per-probed-cell ADC table over the query's residual in that cell
    def _adc_for_cell(cid: int) -> str:
        qr = [a - b for a, b in zip(qv, cent_by_id[cid])]
        table = [
            [
                sum(
                    (qr[j * d_sub + p] - cents_pq[j][c][p]) ** 2
                    for p in range(d_sub)
                )
                for c in range(k)
            ]
            for j in range(m)
        ]
        tbl = ", ".join(
            "array({})".format(",".join(repr(float(x)) + "D" for x in row))
            for row in table
        )
        return (
            f"aggregate(zip_with(array({tbl}), codes, "
            f"(t, c) -> element_at(t, c + 1)), 0.0D, (acc, x) -> acc + x)"
        )

    adc_case = "CASE " + " ".join(
        f"WHEN centroid_id = {cid} THEN ({_adc_for_cell(cid)})"
        for cid in probe_ids
    ) + " END"

    # _pq_assign_expr reads column `v`; point it at the residuals
    coded = (
        assigned.filter(F.col("centroid_id").isin(probe_ids))
        .filter(F.col(id_col) != query_vec_id)
        .withColumnRenamed("v", "_raw")
        .withColumnRenamed("resid", "v")
        .withColumn("codes", _pq_assign_expr(cents_pq, d_sub))
        .withColumn("adc_dist", F.expr(adc_case))
    )
    qarr = F.expr("array({})".format(",".join(repr(float(x)) + "D" for x in qv)))
    short = coded.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(shortlist)
    return (
        short.select(
            id_col, F.round(cosine(F.col("_raw"), qarr), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(topk)
    )


# --- §2.7 grouped-map: per-label dominant eigenvector --------------------------
def label_top_eigvec(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_power_iter: int = 100,
) -> DataFrame:
    """Per-label dominant eigenvector of the embedding covariance — the
    1-component PCA a SemDeDup-style pipeline uses to orient each
    cluster. This is the sanctioned ``applyInPandas`` (grouped-map)
    seam: an eigen-solve is genuinely inexpressible in Spark SQL
    expressions, each group's solve is independent, and the group
    payload (one label's vectors) fits an executor by construction —
    exactly the contract grouped-map is for.

    Determinism: each group is sorted by ``id_col`` before the solve
    (fp sums are order-sensitive, and grouped-map hands rows over in
    partition order), then a fixed-iteration power method from an
    all-ones start, float64 throughout, sign fixed by the first nonzero
    component — BIT-identical output on any partitioning (pinned
    against straight numpy in pytest).
    Output: (label, n_vecs, eigval, eigvec).
    """
    import numpy as np
    import pandas as pd

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        centered = mat - mat.mean(axis=0, keepdims=True)
        cov = centered.T @ centered / len(mat)
        v = np.ones(cov.shape[0], dtype=np.float64)
        for _ in range(n_power_iter):
            v = cov @ v
            n = np.linalg.norm(v)
            if n == 0.0:
                break
            v = v / n
        nz = np.nonzero(v)[0]
        if len(nz) and v[nz[0]] < 0:
            v = -v
        eigval = float(v @ cov @ v)
        return pd.DataFrame(
            {
                "label": [pdf[label_col].iloc[0]],
                "n_vecs": [len(mat)],
                "eigval": [eigval],
                "eigvec": [v.tolist()],
            }
        )

    return df.groupBy(label_col).applyInPandas(
        solve,
        schema="label int, n_vecs long, eigval double, eigvec array<double>",
    )


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
    cut. Scores round to 6 dp for cross-engine float agreement (~1 ulp).
    """
    from pyspark.sql.window import Window

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
    scored = (
        spread(df)
        .crossJoin(F.broadcast(q))  # n_queries rows: O(N·|anchors|)
        .filter(F.col(label_col) != F.col("query_label"))
        .select(
            "query_id",
            F.col(id_col).alias("neg_id"),
            F.col(label_col).alias("neg_label"),
            F.round(cosine(F.col(vec_col), F.col("query_vec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neg_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neg_id", "neg_label", "cos_sim")
    )
