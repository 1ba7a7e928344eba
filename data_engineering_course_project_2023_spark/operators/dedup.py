"""Deduplication operators for training-data pipelines (extension ops,
SURVEY §2.8 X1/X2): exact, n-gram-Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:

- Exact dedup hashes map-side and shuffles only (hash → min id) pairs.
- The similarity join never goes all-pairs: candidates come from an
  equi-join on shingles (inverted-index style) or on LSH band keys, so
  the shuffle is keyed by shingle/band — the standard distributed
  set-similarity-join layout. Hot shingles (stopword runs) are the skew
  risk: a document-frequency cap drops shingles appearing in more than
  ``max_df`` docs, the same prefix-filtering idea MinHash banding makes
  unnecessary for the LSH path.
- All hashes are md5-derived (not Spark's murmur3 ``hash()``) so results
  are engine-independent and every operator here is oracle-checkable in
  DuckDB — unusual for LSH pipelines and deliberate: correctness first,
  then speed.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time
import uuid
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from ..functions.expr import spread
from ..session import fixpoint, job_description
from .text import ngrams, tokens

# MinHash: k hash functions derived by slicing md5 digests — md5(seed|s)
# yields four independent 32-bit slices, so k=8 costs only two md5 calls
# per shingle. 32 bits is ample for min-wise hashing (collision prob
# ~n/2^32 per set).
N_MINHASH = 8
SLICES_PER_MD5 = 4
BAND_SIZE = 2  # 4 bands of 2 → catches jaccard ≳ 0.5 with high prob

# Memo bound: a sweep over many inputs must not pin unbounded driver
# memory (each Bloom bitmap is m/64 longs).
_CACHE_MAX_ENTRIES = 32
_RUN_MEMO: dict = {}
# A sibling run root untouched this long belongs to a run that died
# before its exit hook.
_DEAD_ROOT_AGE_S = 24 * 3600


def _files_fingerprint(df: DataFrame) -> tuple:
    """Identity of a frame's file inputs: (path, mtime_ns, size) per
    file, so an in-place overwrite changes it. Non-local URIs fall back
    to the bare URI (object stores are immutable by convention)."""
    out = []
    for uri in sorted(df.inputFiles()):
        p = urlparse(uri)
        if p.scheme in ("", "file") and p.path:
            try:
                st = os.stat(p.path)
                out.append((p.path, st.st_mtime_ns, st.st_size))
                continue
            except OSError:
                pass
        out.append((uri, 0, 0))
    return tuple(out)


def _session_tag(spark) -> str:
    """The run's name: the Spark applicationId, unique per session.
    Module-level so tests can monkeypatch a different run."""
    return spark.sparkContext.applicationId


def run_memo(df: DataFrame, params: tuple, build):
    """``build()``, computed once per run for each (input file
    identities, ``params``), LRU-bounded. ``params`` must name the
    artifact and any derivation between the scan and ``df``: a filter
    or limit leaves the file fingerprint unchanged. Frames with no file
    inputs have no identity and always rebuild."""
    files = _files_fingerprint(df)
    if not files:
        return build()
    key = (_session_tag(df.sparkSession), files, params)
    value = _RUN_MEMO.pop(key, None)
    if value is None:
        value = build()
        while len(_RUN_MEMO) >= _CACHE_MAX_ENTRIES:
            _RUN_MEMO.pop(next(iter(_RUN_MEMO)), None)
    _RUN_MEMO[key] = value
    return value


def _run_root(spark) -> str:
    """This run's stage directory, ``gettempdir()/spark_graft_stage/
    <run>``. Creating it sweeps sibling roots older than
    ``_DEAD_ROOT_AGE_S`` and registers its removal at exit."""
    parent = os.path.join(tempfile.gettempdir(), "spark_graft_stage")
    root = os.path.join(parent, _session_tag(spark))
    if not os.path.isdir(root):
        for name in os.listdir(parent) if os.path.isdir(parent) else ():
            sibling = os.path.join(parent, name)
            try:
                dead = time.time() - os.stat(sibling).st_mtime > _DEAD_ROOT_AGE_S
            except OSError:
                continue
            if dead:
                shutil.rmtree(sibling, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, True)
    return root


def stage_parquet(
    frame: DataFrame, name: str, files: tuple, params: tuple
) -> DataFrame:
    """Write ``frame`` to parquet under this run's root and return a
    reader over it. A stage is keyed by (``name``, input file
    identities, ``params``) and reused only by the run that wrote it,
    so every run pays its own staging once; a frame with no file inputs
    gets a fresh stage per call. Evidence: a stage shared across runs
    hid the tokenize cost from every later consumer (NOTES.md,
    "Staging layer")."""
    spark = frame.sparkSession
    root = _run_root(spark)
    if not files:
        path = os.path.join(root, f"{name}-mem-{uuid.uuid4().hex}")
        frame.write.parquet(path)
        return spark.read.parquet(path)
    key = hashlib.md5(repr((files, params)).encode()).hexdigest()[:16]
    path = os.path.join(root, f"{name}-{key}")
    # Re-probe on every call: a stage removed under a live run is
    # rebuilt, never served dead.
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # a crashed writer's partial stage would fail the rename forever
        shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
        frame.write.parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # another thread published the identical stage first
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def _staged_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, stage: str | None
) -> DataFrame:
    """``shingles(df)``, staged under ``stage`` when one is named."""
    sh = shingles(df, text_col, id_col, n)
    if stage is None:
        return sh
    return stage_parquet(sh, stage, _files_fingerprint(df), (text_col, id_col, n))


def _md5_int60(c: Column, seed: int | None = None) -> Column:
    """First 60 bits of md5 as non-negative int64 (same in DuckDB via
    CAST('0x' || substr(md5(..),1,15) AS BIGINT))."""
    inp = c if seed is None else F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(inp), 1, 15), 16, 10).cast("long")


def _minhash_slices(c: Column) -> list[Column]:
    """k 32-bit hash values per input string from ceil(k/4) md5 calls."""
    out: list[Column] = []
    for seed in range((N_MINHASH + SLICES_PER_MD5 - 1) // SLICES_PER_MD5):
        digest = F.md5(F.concat(F.lit(f"{seed}|"), c))
        for s in range(SLICES_PER_MD5):
            if len(out) < N_MINHASH:
                out.append(
                    F.conv(F.substring(digest, 1 + 8 * s, 8), 16, 10).cast("long")
                )
    return out


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X1: exact duplicate groups — keep-first (min id) per content hash.
    Output: (keep_id, n_dups, fp_hex). Map-side hash, single shuffle."""
    fp = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fp_hex"))
        .groupBy("fp_hex")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (doc, shingle): the
    :func:`~.text.ngrams` kernel over ``split(text, ' ')`` (single-space
    split, the oracle's ``string_split(text, ' ')``), distinct within
    the array, then one explode."""
    toked = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__w"),
    )
    return toked.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams("__w", n))).alias("shingle"),
    )


def _df_capped(sh: DataFrame, max_df: int | None) -> DataFrame:
    """``sh`` minus the shingles more than ``max_df`` documents hold
    (skew and noise control, like CountVectorizer's maxDF); ``None``
    keeps every shingle."""
    if max_df is None:
        return sh
    heavy = (
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
    )
    return sh.join(F.broadcast(heavy), "shingle", "left_anti")


def overlap_counts(kept: DataFrame, cands: DataFrame | None = None) -> DataFrame:
    """The near-dup family's one verify step: ``(doc_a, doc_b,
    n_inter, n_a, n_b)`` over a kept ``(doc_id, shingle)`` frame, with
    ``n_inter`` = |S(a) ∩ S(b)| and ``n_a``, ``n_b`` the set sizes.

    With no ``cands`` it counts every pair ``doc_a < doc_b`` that
    shares a shingle: the full inverted index, Σ df² join slots. With
    ``cands`` it verifies exactly the distinct ``(doc_a, doc_b)`` rows
    given, in their orientation; a row that shares no shingle is
    dropped, which no candidate rule emits."""
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ka = kept.select(F.col("doc_id").alias("doc_a"), "shingle")
    kb = kept.select(F.col("doc_id").alias("doc_b"), "shingle")
    if cands is None:
        slots = ka.join(kb, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
    else:
        slots = cands.join(ka, "doc_a").join(kb, ["doc_b", "shingle"])
    # Every pair's docs have a size, so left joins change no row; but
    # a caller that never reads n_b (containment) lets the optimizer
    # drop that join, and joining the unrenamed size frame lets one
    # broadcast serve both sides and any candidate rule that joins the
    # same sizes (sf0.1: containment_pairs_capped runs 22 jobs, 26 with
    # inner joins on renamed size frames).
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        slots.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"), "left")
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"), "left")
        .select("doc_a", "doc_b", "n_inter",
                F.col("sa.n_sh").alias("n_a"), F.col("sb.n_sh").alias("n_b"))
    )


def _jaccard_at_least(counts: DataFrame, tau: Column | float) -> DataFrame:
    """``(doc_a, doc_b, jaccard)`` of the :func:`overlap_counts` rows
    with jaccard = n_inter / (n_a + n_b − n_inter) >= ``tau``, divided
    in doubles as the oracles spell it."""
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return counts.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= tau
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
    stage: str | None = None,
) -> DataFrame:
    """X2a: exact n-gram Jaccard pairs. Candidates: every pair sharing
    a shingle of the ``max_df``-capped space (the full inverted index).
    Metric: Jaccard >= ``threshold`` on that space.

    With a ``stage`` name the shingle frame is written once to parquet
    under the run's stage root, so tokenize runs once and the df cut,
    the sizes and both join sides scan the stage; no ``persist()``,
    which would pin executor storage for the session."""
    sh = _df_capped(_staged_shingles(df, text_col, id_col, n, stage), max_df)
    return _jaccard_at_least(overlap_counts(sh), threshold)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = N_MINHASH,
    stage: str | None = None,
) -> DataFrame:
    """X2b: k-permutation MinHash signature per document.

    One shuffle (groupBy doc) with k partial mins — each hash is
    min(md5(seed|shingle)) over the doc's shingle set.

    ``stage``: the shingle frame is the SAME derivation the
    ngram-Jaccard family stages, so naming the shared stage lets every
    minhash consumer in the run scan the one staged tokenize instead of
    re-running the explode chain. The stage holds exactly
    ``shingles(df)``.
    """
    sh = _staged_shingles(df, text_col, id_col, n, stage)
    slices = _minhash_slices(F.col("shingle"))
    aggs = [F.min(slices[i]).alias(f"mh_{i}") for i in range(k)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    stage: str | None = None,
) -> DataFrame:
    """(doc_id, band, band_key) rows — the LSH banding of each doc's
    MinHash signature, emitted with ONE explode (a union of
    k/band_size selects would recompute the signature aggregation per
    band). Shared by the self-join pair builder and the incremental
    batch-vs-history novelty probe."""
    sig = minhash_signatures(df, text_col, id_col, n, k, stage)
    band_structs = []
    for b in range(k // band_size):
        cols = [f"mh_{b * band_size + j}" for j in range(band_size)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(c).cast("string") for c in cols]).alias(
                    "band_key"
                ),
            )
        )
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bk"))
        .select(
            "doc_id",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    stage: str | None = None,
) -> DataFrame:
    """X2b: candidate pairs via LSH banding over MinHash signatures.

    Signature split into k/band_size bands; docs agreeing on any full
    band become candidates. The band value is the join key → shuffle is
    keyed by (band_idx, band_hash); no all-pairs comparison anywhere.
    Output: distinct candidate (doc_a < doc_b) pairs.
    """
    allb = lsh_bands(df, text_col, id_col, n, k, band_size, stage)
    a, b2 = allb.alias("a"), allb.alias("b")
    return (
        a.join(b2, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _simhash_frame(
    df: DataFrame, text_col: str, id_col: str, bits: int, tok_hash
) -> DataFrame:
    """(doc_id, simhash): a ``bits``-wide SimHash over whitespace tokens.
    Bit j is set when more of the doc's tokens have bit j set in
    ``tok_hash(token)`` than not. Each token is hashed once and the bit
    votes are ``bits`` conditional sums in ONE groupBy, so partial
    aggregation does the voting map-side."""
    tok = spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w")
    )
    th = tok.select("doc_id", tok_hash(F.col("w")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(bits)
    ]
    per_doc = th.groupBy("doc_id").agg(*votes)
    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(
            F.col(f"v_{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", acc.alias("simhash"))


def simhash_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash-identical groups (hamming distance 0 buckets): the
    constant-time near-dup bucketing pass. Output one row per doc with
    its 16-bit simhash (per-token hash: the first 4 md5 hex digits) and
    the bucket's size."""
    sh = _simhash_frame(
        df, text_col, id_col, 16,
        lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("int"),
    ).select("doc_id", F.col("simhash").cast("int").alias("simhash"))
    sizes = sh.groupBy("simhash").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sh.join(sizes, "simhash").select("doc_id", "simhash", "bucket_size")


SIMHASH60_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH60_BITS // SIMHASH_BANDS  # 15
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1  # pigeonhole-complete for ≤ 3


def simhash60_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash) with a 60-bit SimHash (per-token hash:
    ``_md5_int60``) — wide enough that 15-bit band values (32k
    distinct) block the corpus instead of pairing it (the 16-bit
    :func:`simhash_groups` is a hamming-0 bucketer; its 4-bit bands
    would collide every doc with 1/16 of the corpus)."""
    return _simhash_frame(df, text_col, id_col, SIMHASH60_BITS, _md5_int60)


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """X2 at-scale variant: near-dup PAIRS at hamming distance ≤ 3 on a
    60-bit SimHash, via banded bit-block collision (Manku/Jain/Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW'07). Split the
    fingerprint into 4 disjoint 15-bit bands; if hamming(a,b) ≤ 3 the
    pigeonhole principle forces at least one band to match EXACTLY, so
    an equi-join on (band_idx, band_value) is a lossless candidate
    generator — never an all-pairs product. Verification is one
    map-side ``bit_count(a XOR b)`` per candidate.

    Scale shape: 4× map-side fan-out into the band index, one
    hash-partitioned self-join on a 17-bit composite key, distinct on
    the (a<b) pair, then a broadcast-free verify via join-back on the
    tiny (doc, fingerprint) frame. Band-value skew is bounded by the
    hash uniformity of SimHash itself; at 100 TB widen the fingerprint
    (64/128 bits via more md5 slices) and keep bands ≥ 15 bits so
    bucket occupancy stays sub-quadratic. The DuckDB oracle is the
    NAIVE all-pairs hamming join, so the parity gate checks the
    banding's completeness, not just its plumbing (same discipline as
    prefix_jaccard)."""
    assert max_hamming < SIMHASH_BANDS, "pigeonhole needs bands > max_hamming"
    # Materialize the fingerprints ONCE: both self-join sides (and the
    # verify) otherwise re-run the tokenize+hash+60-vote aggregation —
    # measured 7.4 s vs 4.1 s at sf0.1. The frame is one int64 per doc
    # (8 B/doc ≈ 8 GB per billion docs), exactly the bounded-state
    # shape localCheckpoint is for (same discipline as minhash_ml's
    # featurized frame).
    sh = simhash60_frame(df, text_col, id_col).localCheckpoint()
    band_mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * SIMHASH_BAND_BITS)
                    .bitwiseAND(F.lit(band_mask))
                    .alias("bval"),
                )
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bval")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(b, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        cands.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


class ScaleGuard(RuntimeError):
    """Base of the typed refuse-to-run errors: an operator detected —
    by measurement, before doing the expensive work — that this input
    regime exceeds its documented scale contract, and names the scale
    path to use instead. Census runners record any ScaleGuard as an
    explicit ``skipped_scale_guard`` row instead of a silent budget
    death or an unhandled Py4JJavaError."""


class LibraryScaleLimit(ScaleGuard):
    """A library-backed operator refused to run: its JVM internals are
    measured to exceed a hard Spark limit past a known input size (not
    a semantics failure — the native twin is the scale path)."""


class AlgorithmScaleLimit(ScaleGuard):
    """An exact operator refused to run: its own cheap pre-probe
    measured the algorithm's cost driver (e.g. candidate-slot volume)
    past the size where the exact spelling can finish, and a capped
    sibling is the declared scale path. Distinct from LibraryScaleLimit
    because nothing is broken JVM-side — the REGIME is out of the
    exact algorithm's contract (saturated vocab ⇒ df stops
    discriminating ⇒ Σ df² blows up)."""


# approxSimilarityJoin materializes its exploded hash-join probe side
# as a broadcast once AQE sees it as "small"; at 500k docs (sf10 fixed
# vocab) that broadcast is 11.2 GiB — past Spark's hard 8 GiB
# broadcast ceiling — after already needing a >1 GiB maxResultSize
# bump (BENCH_LOCAL_sf10.json failed-row). 150k docs (3x the measured-
# green sf1 run, 10.7 s) is the documented guard; the native
# minhash_lsh_pairs is the at-scale path (22.9 s at sf10).
MINHASH_ML_MAX_DOCS = 150_000


def minhash_ml_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hash_tables: int = 8,
) -> DataFrame:
    """X2 library path: Spark ML's MinHashLSH.approxSimilarityJoin over
    a binary shingle vector (HashingTF on 3-gram shingles).

    Comparison point for the hand-rolled md5 MinHash above: the ML
    variant's hash family is JVM-internal (seeded random), so it is NOT
    cross-engine oracle-checkable — the driver records a rows-only
    check. Kept because approxSimilarityJoin is the battle-tested
    at-scale implementation (it does the same band-join internally).
    """
    try:
        from pyspark.ml.feature import HashingTF, MinHashLSH
    except ImportError:  # pragma: no cover - pyspark.ml always ships
        raise NotImplementedError("pyspark.ml unavailable")

    n_docs = df.count()
    if n_docs > MINHASH_ML_MAX_DOCS:
        raise LibraryScaleLimit(
            f"minhash_ml: {n_docs} docs > {MINHASH_ML_MAX_DOCS} guard — "
            "approxSimilarityJoin's internal broadcast exceeds Spark's "
            "8 GiB ceiling past this size (measured 11.2 GiB at 500k "
            "docs); use the native minhash_lsh_pairs at scale"
        )
    sh = (
        shingles(df, text_col, id_col)
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("sh"))
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    # Materialize the featurized frame ONCE: it feeds three scans (the
    # LSH fit plus BOTH approxSimilarityJoin sides), and without
    # truncation each rescan re-runs tokenize+explode+collect_list
    # (measured as a +20% bench drift without it). Bounded:
    # one sparse vector per doc.
    feats = tf.transform(sh).localCheckpoint()
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, threshold=1.0 - threshold, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1.0 - F.col("jaccard_dist")).alias("jaccard_est"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


# Local-finish bound of connected_components, on the symmetrized edge
# count (twice the undirected edges). Sized on random graphs (m edges
# over m nodes, 4 cores, one JVM, labels identical): driver finish vs
# distributed loop 3.3 vs 7.9 s at m = 10k, 2.0 vs 21.7 s at 100k and
# 5.9 vs 62.4 s at 524,288 (n = the bound), where the Python driver's
# peak RSS rose from 142 to 363 MB. Driver memory, not time, is what
# the bound caps; the co-order graph's n is 6,890 at sf0.01.
LOCAL_FINISH_EDGES = 1 << 20


def _min_root_labels(pairs) -> list[tuple]:
    """Union-find over ``pairs`` with the smaller root winning, so a
    root is its component's minimum node: ``(node, root)`` for every
    endpoint that is not its own root."""
    parent: dict = {}

    def find(x):
        while (p := parent.get(x, x)) != x:
            grand = parent.get(p, p)
            parent[x] = grand  # path halving
            x = grand
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in parent]


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 40
) -> DataFrame:
    """Connected components over ``nodes('node')`` / ``edges('src',
    'dst')``, the engine's one CC kernel. Returns (node, lbl) per node
    with lbl = the min node id of its component, under the node type's
    own ordering (int, long, or BINARY compared as unsigned bytes).
    ``nodes`` is distinct and covers every edge endpoint; edges are
    symmetrized here (pass each undirected edge once), and self-loops
    and edges with a null endpoint are dropped.

    Rule: the symmetrized edges are checkpointed with their count n
    observed on the same job. When n ≤ :data:`LOCAL_FINISH_EDGES` the
    kernel finishes on the driver: union-find over the collected
    ``src < dst`` edges, smaller root winning, then ``nodes`` LEFT JOIN
    the broadcast labels. Above it, min-label propagation: each round
    every node takes the min label over itself and its neighbors, one
    :func:`session.fixpoint` round (one action). The probe is the sum
    of a per-node count of label moves, so it needs no arithmetic on
    the node type: it only rises, and it repeats exactly in the round
    where no label moved. Rounds ≤ component diameter + 1, and only the
    loop has a round cap: a graph that has not converged by
    ``max_iter`` raises :class:`AlgorithmScaleLimit` rather than return
    half-propagated labels. Both branches give the same rows (pinned in
    tests/test_cluster_ops.py). Jobs run under the descriptions
    ``connected_components: edges``, then ``…: local-finish (n=…)`` or
    ``…: round k``.
    """
    spark = nodes.sparkSession
    n_edges = Observation()
    edges = edges.filter(F.col("src") != F.col("dst"))
    with job_description(spark, "connected_components: edges"):
        edges = (
            edges.unionByName(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .observe(n_edges, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
    n = n_edges.get["n"]

    if n <= LOCAL_FINISH_EDGES:
        with job_description(spark, f"connected_components: local-finish (n={n})"):
            pairs = edges.filter(F.col("src") < F.col("dst")).collect()
        node_type = nodes.schema["node"].dataType
        labels = spark.createDataFrame(
            _min_root_labels(pairs),
            StructType([StructField(c, node_type) for c in ("node", "root")]),
            verifySchema=False,
        )
        return nodes.join(F.broadcast(labels), "node", "left").select(
            "node", F.coalesce("root", "node").alias("lbl")
        )

    # Plain one-hop propagation, one step per round. Measured negatives:
    # pointer jumping's extra label-of-label join cost more than the
    # rounds it saved (8 → ~5 on the sf0.1 co-order graph), and two
    # steps per round recompute the unmaterialized label frame on both
    # of its uses.
    def step(labels: DataFrame) -> DataFrame:
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        lbl = F.min("lbl")
        return (
            labels.withColumn("own", F.col("lbl"))
            .unionByName(msgs, allowMissingColumns=True)
            .groupBy("node")
            .agg(
                lbl.alias("lbl"),
                (F.max("moves") + (lbl < F.max("own")).cast("long")).alias("moves"),
            )
        )

    labels, converged = fixpoint(
        nodes.select(
            "node", F.col("node").alias("lbl"), F.lit(0).cast("long").alias("moves")
        ),
        step,
        F.sum("moves"),
        max_iter,
        n,
        label="connected_components",
    )
    if not converged:
        raise AlgorithmScaleLimit(
            f"connected_components: labels still changing after "
            f"{max_iter} rounds of the distributed loop (n={n} "
            f"symmetrized edges > LOCAL_FINISH_EDGES; component diameter "
            f"> {max_iter - 1}); raise max_iter past the diameter"
        )
    return labels.select("node", "lbl")


def neardup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2: near-duplicate CLUSTER RESOLUTION — the step a real dedup
    pipeline runs after candidate generation: LSH band pairs form an
    undirected graph; each connected component is one duplicate cluster;
    the min doc id is the cluster's canonical representative (the row a
    keep-one-per-cluster filter would retain).

    Composition of two oracled pieces (minhash_lsh_pairs + connected
    components), so the whole thing stays exact-checkable via a DuckDB
    recursive CTE over the same band-pair SQL. Per-round cost is one
    keyed join + one agg over the pair graph — which is *tiny* relative
    to the corpus (only docs sharing a band appear) — so the iterative
    part never touches full-corpus data.

    Output: (doc_id, cluster_id, is_canonical) for every document;
    singletons are their own cluster.
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = spread(df).select(F.col(id_col).alias("node"))
    labels = connected_components(nodes, edges)
    return labels.select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


# --- X1c: Bloom-filter novelty check (incremental dedup) ---------------------
#
# The incremental-ingest problem: a new crawl batch must be deduplicated
# against a historical corpus that is orders of magnitude larger. Joining
# new-vs-history shuffles the history; the standard scale answer is a
# Bloom filter built once over the history's content fingerprints and
# BROADCAST to the probe side, so the historical corpus never moves and
# the probe is a map-only scan of the (small) new batch.
#
# Hashes are md5-derived like everything else in this module, and the
# bitmap test "bit p is set" is exactly "p ∈ {positions of history}" —
# so the whole filter, false positives included, is reproducible in
# DuckDB as a position-set membership check and the operator is
# oracle-checkable end to end.
#
# Sizing: BLOOM_M_BITS = 2^18 and k = 4 keep the broadcast at 32 KiB and
# the false-positive rate under 1e-4 at the test corpus size. At real
# scale, size m ≈ 12–15 bits per historical key (a 100 B-doc history →
# ~200 GiB is too big for one filter; shard the filter by pmod(hash, S)
# and probe the matching shard — same expressions, one extra join key).

BLOOM_M_BITS = 1 << 18
BLOOM_K = 4


def bloom_positions(c: Column, m: int = BLOOM_M_BITS, k: int = BLOOM_K) -> list[Column]:
    """k bit positions for one key from a single md5 call (k ≤ 4): the
    digest's four 32-bit slices, each mod m. Mirrors in DuckDB as
    CAST(('0x' || substr(md5(x), 1+8*s, 8)) AS BIGINT) % m."""
    digest = F.md5(c)
    return [
        (F.conv(F.substring(digest, 1 + 8 * s, 8), 16, 10).cast("long") % m)
        for s in range(k)
    ]


def bloom_build_bitmap(
    df: DataFrame,
    key_col: str = "text",
    m: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    cache_tag: str = "",
) -> list[int]:
    """Build the filter over the historical side: one distributed pass
    (explode k positions → per-word bit_or), then collect the ≤ m/64
    words to the driver. Memoized per run by :func:`run_memo`; a caller
    passing a DERIVED frame (anything but a bare scan) must supply a
    distinct ``cache_tag``, since a filter or union leaves the file
    fingerprint unchanged."""

    def build() -> list[int]:
        pos = df.select(
            F.explode(F.array(*bloom_positions(F.col(key_col), m, k))).alias("p")
        )
        words = (
            # shiftleft with a COLUMN shift count only exists in SQL form
            # (the Python DSL pins numBits to an int literal)
            pos.select(
                F.expr("p DIV 64").alias("w"),
                F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"),
            )
            .groupBy("w")
            .agg(F.bit_or("bit").alias("word"))
        )
        bitmap = [0] * (m // 64)
        for r in words.collect():
            bitmap[r["w"]] = r["word"]
        return bitmap

    return run_memo(df, ("bloom", key_col, m, k, cache_tag), build)


def bloom_novel(
    new_df: DataFrame,
    bitmap: list[int],
    key_col: str = "text",
    m: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe: keep rows whose key is NOT maybe-in-history (some bit
    unset). The bitmap rides into the plan as ONE array<bigint> literal
    (the broadcast), and the test is k element_at + bit-mask expressions
    — pure codegen, zero shuffle, the big side streams through.

    The literal is built as a SQL string parsed JVM-side, not
    ``F.lit(list)``: py4j marshals a Python list element-by-element, and
    at m=2^18 (4096 words) that costs ~3.4 s of DRIVER time per plan
    build vs ~0.6 s for one parse (measured; the probe itself executes
    in 0.6 s — the literal build was 5× the query)."""
    words = ",".join(f"{w}L" for w in bitmap)
    probed = new_df.withColumn(
        "__bm", F.expr(f"array({words})").cast("array<bigint>")
    )
    checks = []
    for s in range(k):
        p = (
            f"(CAST(conv(substring(md5(`{key_col}`), {1 + 8 * s}, 8), 16, 10)"
            f" AS BIGINT) % {m})"
        )
        checks.append(
            f"((shiftright(element_at(__bm, CAST({p} DIV 64 AS INT) + 1),"
            f" CAST({p} % 64 AS INT)) & 1L) = 1L)"
        )
    return probed.filter(~F.expr(" AND ".join(checks))).drop("__bm")


# prefix_jaccard_pairs' candidate join generates exactly Σ (prefix-df)²
# slots. Measured: sf0.01 6.0e3, sf0.1 3.0e5, sf1z (50 k
# Zipf docs) 5.6e5 — all green in seconds — vs the sf10 fixed-vocab
# axis where the full-index Σ df² ≈ 2e10 and the census row died at
# budget_exceeded(1800 s). 5e8 sits three decades above every measured
# green run and ~20× under the measured death; past it the exact
# operator cannot finish and ngram_jaccard_capped (rarest-R prefix,
# bounded slots) is the declared scale path.
PREFIX_JACCARD_MAX_SLOTS = 500_000_000


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_candidate_slots: int | None = PREFIX_JACCARD_MAX_SLOTS,
) -> DataFrame:
    """X2: PPJoin prefix-filtered Jaccard pairs. Candidates: pairs whose
    prefixes collide, a document's prefix being its |x| − ⌈τ|x|⌉ + 1
    rarest shingles in global (df, shingle) order. That is lossless for
    Jaccard >= τ, because J(x, y) >= τ implies |x ∩ y| >= τ|x|; the
    DuckDB oracle is the full inverted index. Metric: Jaccard >= τ =
    ``threshold_num`` / ``threshold_den`` over every shingle. τ is
    rational so ⌈τn⌉ is exact integer arithmetic: a float ceil(0.8·n)
    under-computes at n = 5k.

    ``max_candidate_slots`` bounds Σ (prefix-df)², the candidate join's
    slot count, measured by one linear probe; past it the query raises
    :class:`AlgorithmScaleLimit` naming ngram_jaccard_capped, the scale
    path. ``None`` skips the probe."""
    sh = shingles(df, text_col, id_col, n)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    keyed = sh.join(freq, "shingle").select(
        "doc_id", F.struct(F.col("df"), F.col("shingle")).alias("ks")
    )
    if max_candidate_slots is not None:
        # Checkpoint the narrow (doc_id, (df, shingle)) frame: it is the
        # highest array-free point that the eager slot probe, the prefix
        # index and the verify step all derive from, and OSS Spark never
        # reuses an exchange across jobs, so tokenize+df then runs once
        # per query (sf0.1 A/B: executor CPU 23.8 → 15.2 s, wall
        # 6.77 → 5.80 s). The sorted-array frame stays unmaterialized:
        # checkpointing it measured 5.0 s against 2.8 s at sf0.1.
        keyed = keyed.localCheckpoint()
    # prefix length n − ⌈τn⌉ + 1, ⌈τn⌉ in exact integers
    plen = F.expr(
        f"size(arr) - (size(arr) * {threshold_num} + {threshold_den} - 1)"
        f" div {threshold_den} + 1"
    ).cast("int")
    idx = (
        keyed.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("ks")).alias("arr"))
        .select(
            "doc_id",
            F.explode(F.slice("arr", 1, plen).getField("shingle")).alias("shingle"),
        )
    )
    if max_candidate_slots is not None:
        # The candidate join below generates exactly Σ (prefix-df)²
        # slots: measure that sum before running it.
        slots = (
            idx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("dfp"))
            .agg(F.sum(F.col("dfp") * F.col("dfp")).alias("s"))
            .collect()[0]["s"]
        ) or 0
        if slots > max_candidate_slots:
            raise AlgorithmScaleLimit(
                f"prefix_jaccard: candidate volume Σ(prefix-df)² = "
                f"{slots:.2e} slots > {max_candidate_slots:.0e} guard — "
                "saturated-vocab regime (df no longer discriminates; "
                "measured budget death at sf10 fixed-vocab with Σdf² "
                "≈ 2e10); use ngram_jaccard_capped (rarest-R prefix, "
                "bounded slots) at this scale"
            )
    cands = (
        idx.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(idx.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    kept = keyed.select("doc_id", F.col("ks.shingle").alias("shingle"))
    return _jaccard_at_least(
        overlap_counts(kept, cands), F.lit(threshold_num) / F.lit(threshold_den)
    )


# --- X2a': capped (rarest-R prefix) shingle set-similarity ------------------
# The doc_cosine_pairs_capped policy (plans/llmops.py) transplanted to
# the shingle family: the exact inverted-index operators above carry
# Σ df² candidate slots, which saturates on template-heavy / fixed-
# vocabulary strata where shingle df stops discriminating (measured:
# ngram_jaccard crashes and prefix_jaccard exceeds the 420 s budget at
# sf10 on the fixed 31-word axis — Σ df² ≈ 2e10). The capped variant
# bounds the index at exactly R rows per document — its RAREST R kept
# shingles under the global (df asc, shingle asc) total order — so
# candidate volume is Σ (prefix-df)² over the rare tail only, and every
# surviving pair is verified by overlap_counts on the full kept space:
# capped ⊆ exact structurally; the policy can only MISS pairs, never
# mis-score one. Both knobs are deterministic integer ranks, so the
# DuckDB twins apply the identical policy and the parity rows certify
# the whole pruned plan.
NGRAM_PREFIX_R = 10
NGRAM_MIN_SHARED = 2


def rarest_ranks(kept: DataFrame) -> DataFrame:
    """``(shingle, doc_id, df, rk)``: the ``kept`` rows whose shingle at
    least two documents hold, ranked per document by (df asc, shingle
    asc), the order both capped candidate rules draw prefixes from.

    A df-1 shingle can never witness a pair, and on corpora with
    injected or organic unique n-grams such shingles would monopolize
    the rarest ranks (containment recall 32/46 → 46/46 at sf0.1z once
    excluded), so dropping them is lossless and pays."""
    dfc = kept.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return kept.join(dfc.filter(F.col("df") >= 2), "shingle").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("df").asc(), F.col("shingle").asc()
            )
        ),
    )


def _capped_shingle_candidates(
    kept: DataFrame,
    length_num: int,
    length_den: int,
    prefix_r: int = NGRAM_PREFIX_R,
    min_shared: int = NGRAM_MIN_SHARED,
) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs from rarest-R prefix collisions.

    A pair must share >= min(min_shared, |prefix_a|, |prefix_b|)
    prefix shingles (the adaptive floor keeps single-kept-shingle docs
    reachable, as in doc_cosine_pairs_capped) and pass the PPJoin
    length filter ``den·min(n) >= num·max(n)``, lossless for Jaccard
    >= num/den, which drops candidates inside the join stage, before
    the pair aggregate."""
    # Deliberately NOT checkpointed: runtime exchange/broadcast reuse
    # already shares this chain's replicated subtrees, so checkpoints
    # only add serialization (pref + post-cut sh checkpoints measured
    # +33% executor CPU and +29% shuffle at sf0.1), whatever the
    # formatted plan's Exchange count suggests.
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pref = (
        rarest_ranks(kept)
        .filter(F.col("rk") <= prefix_r)
        .select("doc_id", "shingle")
        .join(sizes, "doc_id")
    )
    pn = pref.groupBy("doc_id").agg(F.count(F.lit(1)).alias("pn"))
    pa, pb = pref.alias("pa"), pref.alias("pb")
    joined = pa.join(pb, "shingle").filter(
        (F.col("pa.doc_id") < F.col("pb.doc_id"))
        & (
            (F.least("pa.n_sh", "pb.n_sh") * length_den)
            >= (F.greatest("pa.n_sh", "pb.n_sh") * length_num)
        )
    )
    # The pair aggregate stays HERE (unlike doc_cosine_pairs_capped,
    # which emits each pair exactly once from its smallest shared
    # prefix token with zero aggregation state): the shingle regime's
    # prefix dfs are small (3-gram shingles discriminate; this stage
    # never spilled at sf10z), so the aggregate's per-slot cost — one
    # (long,long) hash-map update — beats carrying both docs' prefix
    # arrays through the join and intersecting them per slot. Measured
    # A/B at sf10z (same box, same session, the O(len²) shingling fix
    # applied to both sides): aggregate spelling 134.0 s vs
    # array_intersect exactly-once emission 173.5 s for
    # ngram_jaccard_capped (neardup_eval_capped 36.8 vs 38.1) — the
    # stateless emission is a token-regime (high-df postings) tool,
    # not a universal win.
    return (
        joined.groupBy(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(
            pn.select(F.col("doc_id").alias("doc_a"),
                      F.col("pn").alias("pn_a")),
            "doc_a",
        )
        .join(
            pn.select(F.col("doc_id").alias("doc_b"),
                      F.col("pn").alias("pn_b")),
            "doc_b",
        )
        .filter(
            F.col("n_shared")
            >= F.least(F.lit(min_shared), F.col("pn_a"), F.col("pn_b"))
        )
        .select("doc_a", "doc_b")
    )


def ngram_jaccard_capped_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_df: int | None = 1000,
    prefix_r: int = NGRAM_PREFIX_R,
    min_shared: int = NGRAM_MIN_SHARED,
    stage: str | None = None,
) -> DataFrame:
    """X2a': scale-safe twin of :func:`ngram_jaccard_pairs`.
    Candidates: rarest-``prefix_r`` prefix collisions sharing
    >= ``min_shared`` prefix shingles, behind the PPJoin length filter
    (:func:`_capped_shingle_candidates`). Metric: the same exact
    Jaccard >= num/den over the ``max_df``-capped space, so the rows
    are a subset of the exact operator's; its recall is pinned in
    pytest."""
    sh = _df_capped(_staged_shingles(df, text_col, id_col, n, stage), max_df)
    cand = _capped_shingle_candidates(
        sh, threshold_num, threshold_den, prefix_r, min_shared
    )
    return _jaccard_at_least(
        overlap_counts(sh, cand), F.lit(threshold_num) / F.lit(threshold_den)
    )
