"""Training-data pipeline queries (extension ops, SURVEY §2.8) over the
``documents`` and ``embeddings`` tables, each with a DuckDB oracle.

The MinHash / SimHash / LSH oracles are *generated* from the same
constants the Spark operators use (md5-derived hashes, shared hyperplane
literals), so even the probabilistic-dedup paths are exact-checked —
the SQL text is long but mechanical.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import spread
from ..operators import dedup, similarity, text as textops
from . import pq_fixture
from .analytics import pair_stream, set_pairs

Tables = dict[str, DataFrame]

# DuckDB spelling of the 16-bit token hash
_D_INT16 = "CAST(('0x' || substr(md5({expr}), 1, 4)) AS INTEGER)"

# sh carries a MATERIALIZED hint: DuckDB inlines plain CTEs per
# reference, and most twins below reference sh (or a frame derived
# from it) 2-4x, re-running the whole shingle scan each time. At sf1
# the worst such inlining cascade measured >2400 s for a pipeline
# that runs in seconds materialized (round 10, containment twin).
# The hint changes execution only, never values.
_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
sh AS MATERIALIZED (
       SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM idx)
"""


# --- X4: text stats / quality ------------------------------------------------
def text_quality(t: Tables) -> DataFrame:
    """X4: token counts (whitespace + BPE-ish regex), stopword/alpha
    ratios, composite quality, fingerprints. Single narrow scan."""
    return textops.text_stats(t["documents"]).drop("pred_lang")


_STOPS = ", ".join(f"'{s}'" for s in textops.STOPWORDS)

TEXT_QUALITY_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id, text, toks,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9_]+|[^ \t\r\nA-Za-z0-9_]')) AS INTEGER)
           AS n_bpe_tokens,
         CAST(length(text) AS INTEGER) AS n_chars_measured,
         CAST(len(list_filter(toks, x -> lower(x) IN ({_STOPS}))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stop_ratio,
         CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_ratio,
         md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_hex
  FROM base
)
SELECT doc_id, n_tokens, n_bpe_tokens, n_chars_measured, stop_ratio,
       alpha_ratio,
       (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
         + stop_ratio + alpha_ratio AS quality,
       fp_hex,
       CAST(('0x' || substr(fp_hex, 1, 15)) AS BIGINT) AS fp_int
FROM m
"""


# --- X4b: language ID ----------------------------------------------------------
def lang_id(t: Tables) -> DataFrame:
    """Marker-word language ID vs. the labeled lang column; output the
    confusion counts so the oracle stays primitive."""
    df = spread(t["documents"]).select(
        "lang", textops.tokens("text").alias("__w")
    ).select(
        "lang", textops.predict_lang("text", F.col("__w")).alias("pred_lang")
    )
    return df.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _lang_case() -> str:
    # struct-max in Spark = max by (score, lang) lexicographic; mirror:
    # pick the (score, lang) max via ORDER BY in a lateral-free way
    score_exprs = []
    for lang, markers in sorted(textops.LANG_MARKERS.items()):
        marks = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"(CAST(len(list_filter(toks, x -> lower(x) IN ({marks}))) AS INTEGER),"
            f" '{lang}')"
        )
    return "[" + ", ".join(score_exprs) + "]"


LANG_ID_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang, list_max({_lang_case()}) AS best
  FROM base
)
SELECT lang,
       CASE WHEN best[1] > 0 THEN best[2] ELSE 'und' END AS pred_lang,
       COUNT(*) AS n_docs
FROM scored GROUP BY 1, 2
"""


# --- X1: exact dedup -------------------------------------------------------------
def exact_dedup(t: Tables) -> DataFrame:
    """X1: duplicate groups by content hash, keep-first (min id)."""
    return dedup.exact_dedup_groups(t["documents"])


EXACT_DEDUP_SQL = """
SELECT md5(text) AS fp_hex, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


# --- X2a: n-gram Jaccard similarity join ------------------------------------------
# The one shingle stage every consumer of ``shingles(documents)`` names —
# ngram Jaccard truth sides, minhash pred sides, the sig/pair queries —
# so tokenize+explode runs once per run and all of them scan the stage.
SHINGLE_STAGE = "ngram_shingles"


def ngram_jaccard(t: Tables) -> DataFrame:
    """X2a: exact 3-gram Jaccard pairs. Candidates: every pair sharing a
    shingle with df <= 1000 (the full inverted index). Metric: Jaccard
    >= 0.8 on that space. The shingle frame is staged, so tokenize runs
    once per run; a cache would pin executor storage for the session
    (a persisted shingle frame once leaked it)."""
    return dedup.ngram_jaccard_pairs(
        t["documents"], threshold=0.8, max_df=1000, stage=SHINGLE_STAGE
    )


NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
df_counts AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
shf AS (SELECT s.* FROM sh s JOIN df_counts d USING (shingle) WHERE d.df <= 1000),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
         AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
"""


# --- X2a': capped (rarest-R prefix) shingle Jaccard --------------------------
def ngram_jaccard_capped(t: Tables) -> DataFrame:
    """X2a': scale-safe twin of :func:`ngram_jaccard`. Candidates:
    rarest-10 prefix collisions sharing >= 2 prefix shingles (fewer for
    shorter prefixes) behind the lossless PPJoin length filter. Metric:
    the same Jaccard >= 0.8 over the df <= 1000 space, so capped ⊆
    exact. The exact operator crashes at sf10 fixed-vocab; this one is
    budget-pinned there."""
    return dedup.ngram_jaccard_capped_pairs(
        t["documents"], threshold_num=4, threshold_den=5, max_df=1000,
        stage=SHINGLE_STAGE,
    )


NGRAM_JACCARD_CAPPED_SQL = f"""
WITH {_SHINGLE_CTE},
df_counts AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
shf AS (SELECT s.* FROM sh s JOIN df_counts d USING (shingle)
        WHERE d.df <= 1000),
dfk AS (SELECT shingle, COUNT(*) AS df FROM shf GROUP BY 1),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY 1),
pref AS (
  SELECT doc_id, shingle FROM (
    SELECT s.doc_id, s.shingle,
           ROW_NUMBER() OVER (
             PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS rk
    FROM shf s JOIN dfk d USING (shingle)
    WHERE d.df >= 2
  ) WHERE rk <= {dedup.NGRAM_PREFIX_R}
),
pn AS (SELECT doc_id, COUNT(*) AS pn FROM pref GROUP BY 1),
cand AS (
  SELECT g.doc_a, g.doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM pref a
    JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN sizes sa2 ON a.doc_id = sa2.doc_id
    JOIN sizes sb2 ON b.doc_id = sb2.doc_id
    WHERE LEAST(sa2.n_sh, sb2.n_sh) * 5 >= GREATEST(sa2.n_sh, sb2.n_sh) * 4
    GROUP BY 1, 2
  ) g
  JOIN pn na ON g.doc_a = na.doc_id
  JOIN pn nb ON g.doc_b = nb.doc_id
  WHERE g.n_shared >= LEAST({dedup.NGRAM_MIN_SHARED}, na.pn, nb.pn)
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shf a ON a.doc_id = c.doc_a
  JOIN shf b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
         AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
      >= 0.8
"""


# --- X2b: MinHash signatures + LSH candidate pairs ---------------------------------
def minhash_sigs(t: Tables) -> DataFrame:
    """X2b: 8-permutation MinHash signature per document."""
    return dedup.minhash_signatures(t["documents"], stage=SHINGLE_STAGE)


def _mh_cols() -> str:
    # mirror of dedup._minhash_slices: 32-bit slices of md5(seed|shingle)
    cols = []
    for i in range(dedup.N_MINHASH):
        seed, sl = divmod(i, dedup.SLICES_PER_MD5)
        h = (
            f"CAST(('0x' || substr(md5('{seed}|' || shingle), "
            f"{1 + 8 * sl}, 8)) AS BIGINT)"
        )
        cols.append(f"MIN({h}) AS mh_{i}")
    return ",\n       ".join(cols)


MINHASH_SIGS_SQL = f"""
WITH {_SHINGLE_CTE}
SELECT doc_id,
       {_mh_cols()}
FROM sh GROUP BY doc_id
"""


def minhash_pairs(t: Tables) -> DataFrame:
    """X2b: LSH-banded candidate pairs (4 bands × 2 rows)."""
    return dedup.minhash_lsh_pairs(t["documents"], stage=SHINGLE_STAGE)


def _band_union() -> str:
    parts = []
    for b in range(dedup.N_MINHASH // dedup.BAND_SIZE):
        c0, c1 = f"mh_{b * dedup.BAND_SIZE}", f"mh_{b * dedup.BAND_SIZE + 1}"
        parts.append(
            f"SELECT doc_id, {b} AS band, CAST({c0} AS VARCHAR) || '_' || "
            f"CAST({c1} AS VARCHAR) AS band_key FROM sigs"
        )
    return "\nUNION ALL\n".join(parts)


MINHASH_PAIRS_SQL = f"""
WITH {_SHINGLE_CTE},
sigs AS (
  SELECT doc_id, {_mh_cols()}
  FROM sh GROUP BY doc_id
),
bands AS (
{_band_union()}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""


# --- X2c: SimHash buckets -------------------------------------------------------
def simhash_buckets(t: Tables) -> DataFrame:
    """X2c: 16-bit SimHash per doc + hamming-0 bucket sizes."""
    return dedup.simhash_groups(t["documents"])


def _simhash_sql_expr() -> str:
    bits = []
    for j in range(16):
        bits.append(
            f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(bits)


SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '),
                                    x -> x <> '')) AS w
  FROM documents
), th AS (
  SELECT doc_id, {_D_INT16.format(expr="w")} AS h FROM tok
), sh AS (
  SELECT doc_id, CAST({_simhash_sql_expr()} AS INTEGER) AS simhash
  FROM th GROUP BY doc_id
), sizes AS (SELECT simhash, COUNT(*) AS bucket_size FROM sh GROUP BY 1)
SELECT doc_id, sh.simhash, sizes.bucket_size
FROM sh JOIN sizes ON sh.simhash = sizes.simhash
"""


# --- X2c': banded SimHash near-dup pairs (hamming ≤ 3) ------------------------
def simhash_hamming_pairs(t: Tables) -> DataFrame:
    """X2c at-scale sibling of simhash_buckets: near-dup PAIRS at
    hamming distance ≤ 3 on a 60-bit SimHash via 4×15-bit band
    collision (pigeonhole-lossless, never all-pairs — Manku et al.
    WWW'07). The ORACLE is the naive all-pairs hamming join, so the
    parity gate proves the banding finds every qualifying pair."""
    return dedup.simhash_hamming_pairs(t["documents"])


def _simhash60_sql_expr() -> str:
    bits = [
        f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN (CAST(1 AS BIGINT) << {j}) ELSE CAST(0 AS BIGINT) END)"
        for j in range(dedup.SIMHASH60_BITS)
    ]
    return " + ".join(bits)


SIMHASH_HAMMING_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '),
                                    x -> x <> '')) AS w
  FROM documents
), th AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
  FROM tok
), sh AS (
  SELECT doc_id, {_simhash60_sql_expr()} AS simhash
  FROM th GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_MAX_HAMMING}
"""


# --- X3: cosine top-k (brute force + LSH) ------------------------------------------
def cosine_topk(t: Tables) -> DataFrame:
    """X3 baseline: exact cosine top-10 neighbors of vec_id=0."""
    return similarity.brute_force_topk(t["embeddings"], query_vec_id=0, k=10)


COSINE_TOPK_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST(qv AS DOUBLE[])), 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


def ann_lsh_topk(t: Tables) -> DataFrame:
    """X3 scale path: sign-random-projection buckets with multi-probe
    (exact bucket + hamming-1 neighbors), exact rerank inside the probed
    set. Recall 0.8 vs brute force on the fixture (pinned in pytest)."""
    return similarity.lsh_topk(t["embeddings"], query_vec_id=0, k=10)


def _proj_sql(weights: list[int]) -> str:
    terms = [
        f"CAST(embedding[{d + 1}] AS DOUBLE)"
        if w > 0
        else f"(-CAST(embedding[{d + 1}] AS DOUBLE))"
        for d, w in enumerate(weights)
    ]
    return " + ".join(terms)


def _bucket_sql() -> str:
    planes = similarity.hyperplanes()
    bits = [
        f"(CASE WHEN {_proj_sql(w)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(planes)
    ]
    return "CAST(" + " + ".join(bits) + " AS INTEGER)"


_PROBE_MASKS_SQL = ", ".join(f"({m})" for m in similarity.PROBE_MASKS)

ANN_LSH_SQL = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_bucket_sql()} AS bucket FROM embeddings
), q AS (
  SELECT embedding AS qv, bucket AS qbucket FROM bucketed WHERE vec_id = 0
), probes AS (
  SELECT qv, xor(qbucket, m.mask) AS bucket
  FROM q, (VALUES {_PROBE_MASKS_SQL}) m(mask)
)
SELECT vec_id,
       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST(qv AS DOUBLE[])), 6) AS cos_sim
FROM bucketed JOIN probes USING (bucket)
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


# --- multimodal: binary columns + mapInPandas, oracle-checked ---------------
def multimodal_features(t: Tables) -> DataFrame:
    """Media pipeline plumbing over documents-as-blobs: encode text to a
    binary column, extract features via Arrow-batched mapInPandas
    (fake decode — deterministic sha-derived), output primitives. The
    oracle recomputes the same sha256-derived values in SQL, so the
    whole Python batch path is exact-checked."""
    from ..operators import multimodal

    media = multimodal.documents_as_media(spread(t["documents"]))
    return multimodal.extract_features(media).select(
        "media_id", "n_bytes", "sha_hex", "width", "height"
    )


MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha_hex,
       CAST(16 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INTEGER) % 64
            AS INTEGER) AS width,
       CAST(16 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INTEGER) % 64
            AS INTEGER) AS height
FROM documents
"""


# --- X2d: embedding-cosine near-dup (blocked) --------------------------------
def embedding_neardup(t: Tables) -> DataFrame:
    """Blocked exact cosine pairs (label = blocking key) ≥ 0.40."""
    return similarity.blocked_cosine_pairs(t["embeddings"], threshold=0.40)


EMBEDDING_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.40
"""


# --- X1b: keep-first dedup materialization -----------------------------------
def dedup_keep_first(t: Tables) -> DataFrame:
    """X1 as a row-filter (the form a training pipeline actually ships):
    keep only each content-hash group's min-id row. Window row_number
    over the hash — one shuffle, no join-back."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        spread(t["documents"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


DEDUP_KEEP_FIRST_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
"""


# --- the composed curation pipeline (what a training-data job ships) --------
def curate_documents(t: Tables) -> DataFrame:
    """Full curation chain in one lineage: quality gates (token count,
    stopword floor, alpha floor) → exact dedup keep-first → per-language
    acceptance stats. Every stage is the oracle-checked operator above;
    this query checks their *composition*."""
    from pyspark.sql.window import Window

    docs = spread(t["documents"])
    scored = docs.select(
        "doc_id", "lang", "text", textops.tokens("text").alias("__w")
    ).select(
        "doc_id",
        "lang",
        "text",
        textops.token_count("text", F.col("__w")).alias("n_tokens"),
        textops.stopword_ratio("text", F.col("__w")).alias("stop_ratio"),
        textops.alpha_ratio("text").alias("alpha_ratio"),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("stop_ratio") >= 0.01)
        & (F.col("alpha_ratio") >= 0.9)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("total_tokens"),
    )


_CUR_STOPS = ", ".join(f"'{s}'" for s in textops.STOPWORDS)

CURATE_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
              AS INTEGER) AS n_tokens,
         CAST(len(list_filter(list_filter(string_split(trim(text), ' '),
                                          x -> x <> ''),
                              x -> lower(x) IN ({_CUR_STOPS}))) AS DOUBLE)
           / CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
                  AS DOUBLE) AS stop_ratio,
         CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_ratio
  FROM documents
), gated AS (
  SELECT * FROM scored
  WHERE n_tokens >= 20 AND stop_ratio >= 0.01 AND alpha_ratio >= 0.9
), deduped AS (
  SELECT * FROM gated
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
)
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM deduped GROUP BY 1
"""


# --- X2 library path: Spark ML MinHashLSH (rows-only; JVM hash family) ------
def minhash_ml(t: Tables) -> DataFrame:
    """approxSimilarityJoin at jaccard >= 0.5 over 3-gram shingles."""
    return dedup.minhash_ml_pairs(t["documents"], threshold=0.5)


# --- X3c: IVF (k-means) approximate search — rows-only -----------------------
def pq_codes_query(t: Tables) -> DataFrame:
    """X3e: PQ compression codes (8 subspaces × 4-bit) per vector,
    joined to a csv string (array<int> is unhashable in the driver
    canonicalizer). Training is bit-deterministic (exact nano-unit
    mean sums), so the sf0.01 codebook is pinned as a constant in
    :mod:`.pq_fixture` and the DuckDB oracle replicates the encode with
    the identical fold order — the full train+encode path is
    value-checked, not just row-counted."""
    codes = similarity.pq_codes(t["embeddings"])
    return codes.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("string"))
        ).alias("codes_csv"),
    )


PQ_CODES_SQL = pq_fixture.pq_codes_oracle_sql()


def pq_topk_query(t: Tables) -> DataFrame:
    """X3e: ADC search over PQ codes + exact rerank — oracled: the
    pinned codebook reproduces codes, the query ADC table, the
    j-ordered ADC fold, shortlist AND rerank bit-for-bit in DuckDB
    (plans/pq_fixture.pq_topk_oracle_sql); recall vs brute force
    stays pinned in pytest."""
    return similarity.pq_topk(t["embeddings"], query_vec_id=0, topk=10)


def ivf_topk_query(t: Tables) -> DataFrame:
    """IVF coarse-quantizer search: deterministic k-means (fixed init +
    iterations), probe 2 cells, exact rerank. Bit-deterministic training
    (exact nano-unit mean sums) lets the sf0.01 centroids be pinned as a
    constant and the WHOLE search — assignment argmin, probe selection,
    cosine rerank — be value-checked against a DuckDB twin
    (plans/ivf_fixture.py), graduating this from rows-only to oracled;
    recall vs brute force stays pinned in pytest."""
    return similarity.ivf_topk(t["embeddings"], query_vec_id=0, k=10)


# --- reproducible sampling & splits (training-data staples) -----------------
def hash_sample_orders(t: Tables) -> DataFrame:
    """Deterministic 10% sample by key hash — the reproducible-sampling
    pattern for pipelines (df.sample(seed=) depends on partitioning;
    hash-mod does not, and re-runs/backfills select the same rows).
    Map-side filter → pushes work to the scan."""
    bucket = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10) % 100
    return (
        t["orders"]
        .filter(bucket < 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .alias("sampled_value"),
        )
    )


HASH_SAMPLE_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_sampled,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sampled_value
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
      % 100 < 10
GROUP BY 1
"""


def train_test_split(t: Tables) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content-key
    hash — stable across runs, re-shards, and engine versions (md5, not
    engine-internal hash). Output: split × lang counts."""
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    return (
        t["documents"]
        .select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


TRAIN_TEST_SPLIT_SQL = """
WITH assigned AS (
  SELECT CASE
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 10 < 8 THEN 'train'
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 10 < 9 THEN 'val'
           ELSE 'test'
         END AS split,
         lang
  FROM documents
)
SELECT split, lang, COUNT(*) AS n_docs FROM assigned GROUP BY 1, 2
"""


# --- declarative data-quality checks -----------------------------------------
def dq_documents(t: Tables) -> DataFrame:
    """All document intake gates in ONE scan (operators/quality.py):
    violation counts per rule."""
    from ..operators.quality import document_checks, run_checks

    return run_checks(t["documents"], document_checks())


DQ_DOCUMENTS_SQL = """
WITH totals AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v1,
         SUM(CASE WHEN COALESCE(length(text) < 5, TRUE) THEN 1 ELSE 0 END) AS v2,
         SUM(CASE WHEN COALESCE(NOT lang IN ('en','de','fr','es','zh'), TRUE)
             THEN 1 ELSE 0 END) AS v3,
         SUM(CASE WHEN COALESCE(n_chars <> length(text), TRUE)
             THEN 1 ELSE 0 END) AS v4,
         SUM(CASE WHEN COALESCE(trim(source) = '', TRUE)
             THEN 1 ELSE 0 END) AS v5
  FROM documents
)
SELECT u."check", n AS n_evaluated, CAST(u.v AS BIGINT) AS n_violations,
       CAST(u.v AS DOUBLE) / CAST(n AS DOUBLE) AS violation_rate
FROM totals,
LATERAL (
  VALUES ('doc_id_not_null', v1), ('text_min_length', v2),
         ('lang_in_domain', v3), ('n_chars_consistent', v4),
         ('source_not_blank', v5)
) AS u("check", v)
"""


# --- token-budget sequence packing ------------------------------------------
def pack_documents(t: Tables) -> DataFrame:
    """Training-pipeline sequence packing: assign every document to a
    fixed-capacity pack (2048 tokens) by cumulative token count, so a
    downstream loader can concatenate each pack into one training
    sequence. A document's pack is decided by its STARTING offset
    (cumsum minus own length), so boundary-spanning docs land in the
    pack where they begin.

    Packing is inherently sequential, so it runs independently inside
    8 hash buckets (doc_id % 8): each bucket's cumsum is a
    partition-local window sort, never a global one — bucket count
    scales with the cluster, and 2048 is a power of two so the
    float division is exact in both engines."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        spread(t["documents"])
        .select(
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(8)).alias("bucket"),
            textops.token_count("text").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "pack_no",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(2048.0)
            ),
        )
        .select("doc_id", "bucket", "n_tokens", "pack_no")
    )


PACK_DOCUMENTS_SQL = """
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS bucket,
         CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, bucket, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
                   - n_tokens) / 2048.0) AS BIGINT) AS pack_no
FROM toks
"""


# --- exact heavy-hitter tokens ----------------------------------------------
def heavy_hitter_tokens(t: Tables) -> DataFrame:
    """Exact heavy hitters over the corpus token stream: tokens covering
    more than 1/200th of all tokens (vocabulary pruning / stopword
    discovery). Two aggregations over one exploded scan; the global
    total is a one-row scalar broadcast, and the threshold is
    multiplied out (n * 200 > total) to stay in exact integers."""
    toks = (
        spread(t["documents"])
        .select(F.explode(textops.tokens("text")).alias("tok"))
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * 200 > F.col("total"))
        .select("tok", "n")
    )


HEAVY_HITTER_SQL = """
WITH toks AS (
  SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
total AS (SELECT COUNT(*) AS total FROM toks)
SELECT tok, n FROM counts CROSS JOIN total WHERE n * 200 > total
"""


# --- benchmark decontamination ----------------------------------------------
def decontaminate_docs(t: Tables) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    8-gram with the held-out eval slice (source 'src0' stands in for
    the benchmark set), reporting how many distinct 8-grams leak.

    The eval side is benchmark-sized (tiny next to a training corpus),
    so its distinct shingle set is broadcast; the training corpus is
    streamed through one shingle explode + broadcast hash join — no
    shuffle of the big side at any scale."""
    docs = t["documents"]
    eval_sh = (
        dedup.shingles(docs.filter(F.col("source") == "src0"), n=8)
        .select("shingle")
        .distinct()
    )
    train_sh = dedup.shingles(docs.filter(F.col("source") != "src0"), n=8)
    return (
        train_sh
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


DECONTAMINATE_SQL = """
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents),
idx AS (SELECT doc_id, source, w, unnest(range(1, len(w) - 6)) AS i
        FROM toks WHERE len(w) >= 8),
sh AS (SELECT DISTINCT doc_id, source,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
              || ' ' || w[i+7] AS shingle
       FROM idx),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
train_sh AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0')
SELECT doc_id, COUNT(*) AS n_shared_shingles
FROM train_sh JOIN eval_sh USING (shingle)
GROUP BY 1
"""


# --- training-mixture resampling --------------------------------------------
# Per-language mixture weights: >1 oversamples (integer copies plus a
# hash-decided fractional copy), <1 downsamples. Deterministic by
# content key — identical output across runs, re-shards, engines.
MIXTURE_RATES = {"en": 0.5, "de": 2.0, "fr": 1.5, "es": 1.0, "zh": 0.25}


def mixture_resample_docs(t: Tables) -> DataFrame:
    """Training-data mixture resampling: emit floor(rate) copies of each
    doc plus one more when its hash fraction falls under the fractional
    remainder — the standard epoch-weighting trick (e.g. 1.5 epochs of
    French). Map-side only: no shuffle, no UDF; the explode fans out
    inside the scan stage. The hash fraction is an int/int division so
    the double compares identically in both engines.

    Langs outside MIXTURE_RATES (and NULL lang) get the explicit default
    rate 0.25 — mirroring the oracle's CASE ... ELSE 0.25; the r1 chain
    left them NULL, silently dropping such docs while the oracle copied
    them (latent divergence masked by the all-mapped fixture)."""
    rate = F.lit(0.25)
    for lang, r in MIXTURE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(float(r))).otherwise(rate)
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 1000000
    ) / F.lit(1000000.0)
    n_copies = (
        F.floor(rate)
        + F.when(frac < rate - F.floor(rate), F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    # sequence(1, 0) would count DOWN — guard the zero-copy case
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array().cast("array<int>"))
    return (
        spread(t["documents"])
        .select("doc_id", "lang", F.explode(copies).alias("copy_no"))
    )


MIXTURE_RESAMPLE_SQL = """
WITH r AS (
  SELECT doc_id, lang,
         CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 2.0
                        WHEN 'fr' THEN 1.5 WHEN 'es' THEN 1.0
                        ELSE 0.25 END AS DOUBLE) AS rate,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000000) / 1000000.0 AS frac
  FROM documents
), n AS (
  SELECT doc_id, lang,
         CAST(FLOOR(rate)
              + CASE WHEN frac < rate - FLOOR(rate) THEN 1 ELSE 0 END
              AS INTEGER) AS n_copies
  FROM r
)
SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS INTEGER)
         AS copy_no
FROM n WHERE n_copies >= 1
"""


# --- X4c: rolling-hash document fingerprints -----------------------------
def doc_fingerprints(t: Tables) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document (the
    incremental complement to the whole-doc md5 in ``text_quality``),
    plus a 64-way shard id — the partition key a 100 TB dedup/join would
    bucket on. Pure Column expressions at scan speed; the DuckDB twin
    folds the identical polynomial with list_reduce."""
    fp = textops.rolling_fingerprint("text")
    return (
        spread(t["documents"])
        .select(
            "doc_id",
            textops.token_count("text").cast("bigint").alias("n_tokens"),
            fp.alias("fp"),
            (fp % 64).alias("shard"),
        )
    )


DOC_FINGERPRINTS_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), hashed AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(toks,
               x -> CAST(('0x' || substr(md5(x), 1, 7)) AS BIGINT))),
           (a, b) -> (a * 1000003 + b) % 2147483647) AS fp
  FROM base
)
SELECT doc_id, n_tokens, fp, fp % 64 AS shard
FROM hashed
"""


# --- X4d: within-document repetition (dup-trigram ratio) -----------------
def doc_repetition(t: Tables) -> DataFrame:
    """Repetition quality signal per document: total vs distinct word
    trigrams and the duplicate fraction (the Gopher/C4-family gate for
    boilerplate and looped text). All array expressions — no explode, no
    shuffle; at scale this is a pure map over the scan. The token and
    trigram arrays are each materialized once (CSE skips HOF subtrees)
    and the trigram array is shared by all three outputs."""
    tri = F.col("__tri")
    return (
        spread(t["documents"])
        .select("doc_id", textops.tokens("text").alias("__w"))
        .select("doc_id", textops.ngrams("__w", 3).alias("__tri"))
        .select(
            "doc_id",
            F.size(tri).cast("bigint").alias("n_trigrams"),
            F.size(F.array_distinct(tri)).cast("bigint").alias("n_distinct"),
            textops.dup_trigram_ratio(tri).alias("dup_ratio"),
        )
    )


DOC_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), tri AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tgs
  FROM base
)
SELECT doc_id,
       len(tgs) AS n_trigrams,
       len(list_distinct(tgs)) AS n_distinct,
       CASE WHEN len(tgs) > 0
            THEN CAST(len(tgs) - len(list_distinct(tgs)) AS DOUBLE)
                 / CAST(len(tgs) AS DOUBLE)
            ELSE 0.0 END AS dup_ratio
FROM tri
"""


# --- X3d: int8 embedding quantization ------------------------------------
def embedding_quantize(t: Tables) -> DataFrame:
    """Scalar int8 quantization of the embedding column: per-dimension
    global [min, max] → codes in [-128, 127]. The 4× compression that
    makes billion-vector ANN fit in executor memory; IVF/LSH probe over
    codes, exact rerank over the float column.

    Two aggregation passes, both cheap at scale: the stats frame is
    dimension-cardinality (tiny → broadcast back onto the exploded
    elements as an equi-join on pos, never a cross join); reassembly
    groups by vec_id with an order-pinned collect. All code math is
    floor over identical doubles (float→double widening is exact), so
    the integer codes match DuckDB bit-for-bit — no rounding-mode trap
    (round() HALF_UP vs half-even WOULD flip codes; floor cannot)."""
    ex = (
        spread(t["embeddings"])
        .select("vec_id", F.posexplode("embedding").alias("pos", "xf"))
        .select("vec_id", "pos", F.col("xf").cast("double").alias("x"))
    )
    stats = ex.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    code = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn"))
                    / (F.col("mx") - F.col("mn")) * 256
                ).cast("int"),
                F.lit(255),
            )
        )
        - 128
    )
    return (
        ex.join(F.broadcast(stats), "pos")
        .select("vec_id", "pos", code.alias("code"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "code"))),
                lambda s: s.code,
            ).alias("codes")
        )
        # Flattened to a CSV string: the driver's pandas canonicalizer
        # hashes every output column and array<int> is unhashable there
        # (r2 driver-err); a joined string carries the identical
        # information and round-trips through both harnesses.
        .select(
            "vec_id",
            F.size("codes").alias("n_dims"),
            F.concat_ws(
                ",", F.transform("codes", lambda c: c.cast("string"))
            ).alias("codes_csv"),
        )
    )


EMBEDDING_QUANTIZE_SQL = """
WITH ex AS (
  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS x
  FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
), stats AS (
  SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY 1
), coded AS (
  SELECT vec_id, pos,
         (CASE WHEN mx = mn THEN 0
               ELSE LEAST(CAST(FLOOR((x - mn) / (mx - mn) * 256) AS INTEGER),
                          255) END) - 128 AS code
  FROM ex JOIN stats USING (pos)
)
SELECT vec_id,
       CAST(COUNT(*) AS INTEGER) AS n_dims,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY pos) AS codes_csv
FROM coded
GROUP BY vec_id
"""


# --- X2e: chunk-level exact-substring dedup ------------------------------
CHUNK_TOKENS = 32


def chunk_dedup_spans(t: Tables) -> DataFrame:
    """Cross-document duplicated spans at 32-token-chunk granularity —
    the shuffle-friendly stand-in for suffix-array exact-substring dedup
    (a chunk shared verbatim by two corpora IS a ≥32-token repeated
    substring; boundary-straddling repeats need a second stride, same
    plan shape). Chunks build as array slices (no explode until chunk
    level, so fan-out is n_tokens/32 not n_tokens), hash with md5, and
    one groupBy on the hash finds every cross-doc repeat. At 100 TB the
    group key is a 128-bit hash — uniform, no skew — and the output is
    only the duplicated tail of the distribution.

    The token array is materialized into a column before the chunking
    transform (the shingles() lesson: no CSE across a lambda boundary,
    so an inline tokens(text) re-tokenizes per chunk slice)."""
    base = spread(t["documents"]).select(
        "doc_id", textops.tokens("text").alias("__w")
    )
    tk = F.col("__w")
    n_chunks = F.ceil(F.size(tk) / F.lit(CHUNK_TOKENS)).cast("int")
    chunks = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(tk, i * CHUNK_TOKENS + 1, CHUNK_TOKENS)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select("doc_id", F.explode(chunks).alias("chunk_txt"))
        .select("doc_id", F.md5("chunk_txt").alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


CHUNK_DEDUP_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), ch AS (
  SELECT doc_id, md5(c) AS chunk_hash
  FROM base,
       unnest(list_transform(
         range(0, CAST(ceil(len(toks) / 32) AS INTEGER)),
         i -> array_to_string(toks[i*32+1 : (i+1)*32], ' '))) AS t(c)
)
SELECT chunk_hash,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS first_doc
FROM ch
GROUP BY 1
HAVING COUNT(DISTINCT doc_id) >= 2
"""


# --- X2f: paragraph-granular dedup ----------------------------------------
def _paragraphs(text_col: str = "text"):
    """Trimmed, whitespace-normalized, non-empty paragraphs: blocks
    separated by one-or-more newlines. Normalization uses the same
    (?U)\\s class as clean_text so the hash is layout-insensitive
    within a paragraph but order/content-sensitive across them."""
    raw = F.split(F.col(text_col), r"\n+")
    norm = F.transform(raw, lambda p: F.trim(F.regexp_replace(p, r"(?U)\s+", " ")))
    return F.filter(norm, lambda p: p != "")


def paragraph_dedup(t: Tables) -> DataFrame:
    """Cross-document duplicated PARAGRAPHS — the natural-boundary
    refinement of the fixed 32-token ``chunk_dedup_spans`` (north-star
    granularity for web/doc corpora where boilerplate repeats at
    paragraph level: headers, licenses, nav text). Explode to one row
    per paragraph, hash the normalized text map-side, and a single
    groupBy on the 128-bit hash finds every cross-doc repeat — same
    uniform-key, no-skew shuffle shape as the chunk variant, so the
    plan survives 100 TB unchanged."""
    return (
        spread(t["documents"])
        .select("doc_id", F.explode(_paragraphs()).alias("para"))
        .select("doc_id", F.md5("para").alias("para_hash"))
        .groupBy("para_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# DuckDB's \s is ASCII-only; the class below mirrors Java's (?U)\s
# (see functions/expr.clean_text and the unicode parity test).
_WS_CLASS = r"[\s\p{Z}\x{85}\x{0B}]+"

PARAGRAPH_DEDUP_SQL = f"""
WITH p AS (
  SELECT doc_id,
         trim(regexp_replace(x, '{_WS_CLASS}', ' ', 'g')) AS para
  FROM documents, unnest(string_split_regex(text, '\\n+')) AS t(x)
), h AS (
  SELECT doc_id, md5(para) AS para_hash FROM p WHERE para <> ''
)
SELECT para_hash, COUNT(*) AS n_copies,
       COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
FROM h GROUP BY 1
HAVING COUNT(DISTINCT doc_id) >= 2
"""


def paragraph_profile(t: Tables) -> DataFrame:
    """Per-document paragraph profile: paragraph count, distinct count,
    and the within-doc duplicate-paragraph ratio (a repetition quality
    signal at paragraph granularity, complementing dup_trigram_ratio).
    One explode + one groupBy back onto doc_id."""
    per_para = (
        spread(t["documents"])
        .select("doc_id", F.explode(_paragraphs()).alias("para"))
        .select("doc_id", F.md5("para").alias("para_hash"))
    )
    n = F.count(F.lit(1))
    nd = F.countDistinct("para_hash")
    return per_para.groupBy("doc_id").agg(
        n.cast("int").alias("n_paras"),
        nd.cast("int").alias("n_distinct_paras"),
        ((n - nd).cast("double") / n.cast("double")).alias("dup_para_ratio"),
    )


PARAGRAPH_PROFILE_SQL = f"""
WITH p AS (
  SELECT doc_id,
         trim(regexp_replace(x, '{_WS_CLASS}', ' ', 'g')) AS para
  FROM documents, unnest(string_split_regex(text, '\\n+')) AS t(x)
), h AS (
  SELECT doc_id, md5(para) AS para_hash FROM p WHERE para <> ''
)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_paras,
       CAST(COUNT(DISTINCT para_hash) AS INTEGER) AS n_distinct_paras,
       CAST(COUNT(*) - COUNT(DISTINCT para_hash) AS DOUBLE) / COUNT(*)
         AS dup_para_ratio
FROM h GROUP BY 1
"""


# --- exact-substring decontamination --------------------------------------
def decontaminate_exact_substring(t: Tables) -> DataFrame:
    """Exact-substring decontamination: flag training docs that contain
    a VERBATIM run of eval text, the stricter complement of the 8-gram
    overlap count in ``decontaminate_docs``.

    Asymmetric chunking keeps it scalable: the small eval side (src0)
    explodes to stride-1 32-token windows (O(m) rows — eval sets are
    tiny by construction) and is broadcast; the 100 TB training side
    only materializes ALIGNED 32-token chunks (O(n/32) rows) and never
    shuffles. Any verbatim copy of >= 63 tokens (2k-1) must contain a
    fully-aligned training chunk, which then equi-joins an eval window
    hash exactly. Same guarantee shape as suffix-array dedup's
    minimum-match-length, at a fraction of the cost.

    The eval windows are ``ngrams(__w, CHUNK_TOKENS)``. The token array
    is materialized into a column on each side before the window/chunk
    transforms (no CSE across a lambda boundary)."""
    docs = spread(t["documents"])
    k = CHUNK_TOKENS
    tk = F.col("__w")
    eval_wins = (
        docs.filter(F.col("source") == "src0")
        .select(textops.tokens("text").alias("__w"))
        .select(F.explode(textops.ngrams("__w", k)).alias("w"))
        .select(F.md5("w").alias("chunk_hash"))
        .distinct()
    )
    n_chunks = F.floor(F.size(tk) / F.lit(k)).cast("int")
    aligned = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i * k + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    train = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", textops.tokens("text").alias("__w"))
        .select("doc_id", F.explode(aligned).alias("c"))
        .select("doc_id", F.md5("c").alias("chunk_hash"))
    )
    return (
        train.join(F.broadcast(eval_wins), "chunk_hash")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_verbatim_chunks"))
    )


DECONTAMINATE_EXACT_SQL = """
WITH base AS (
  SELECT doc_id, source,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), ev AS (
  SELECT DISTINCT
         md5(array_to_string(toks[i+1 : i+32], ' ')) AS chunk_hash
  FROM base, unnest(range(0, len(toks) - 31)) AS t(i)
  WHERE source = 'src0' AND len(toks) >= 32
), tr AS (
  SELECT doc_id,
         md5(array_to_string(toks[i*32+1 : (i+1)*32], ' ')) AS chunk_hash
  FROM base,
       unnest(range(0, CAST(floor(len(toks) / 32) AS INTEGER))) AS t(i)
  WHERE source <> 'src0'
)
SELECT doc_id, COUNT(*) AS n_verbatim_chunks
FROM tr JOIN ev USING (chunk_hash)
GROUP BY 1
"""


# --- X2g: near-dup cluster resolution (LSH pairs → connected components) ----
def neardup_clusters_query(t: Tables) -> DataFrame:
    """X2: duplicate-cluster resolution over the MinHash band-pair graph
    — min-reachable-id per component = cluster id; min member =
    canonical keep row. Oracle: recursive CTE over the same band-pair
    SQL, so the composed iterative path stays exact-checked."""
    return dedup.neardup_clusters(t["documents"])


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLE_CTE},
sigs AS (
  SELECT doc_id, {_mh_cols()}
  FROM sh GROUP BY doc_id
),
bands AS (
{_band_union()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand
),
walk(node, lbl) AS (
  SELECT doc_id AS node, doc_id AS lbl FROM documents
  UNION
  SELECT e.dst AS node, w.lbl
  FROM walk w JOIN edges e ON w.node = e.src
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id,
       (node = MIN(lbl)) AS is_canonical
FROM walk GROUP BY 1
"""


# --- X4b: TF-IDF top terms (keyword extraction) ------------------------------
def tfidf_top_terms(t: Tables) -> DataFrame:
    """X4: per-document top-3 TF-IDF terms (keyword extraction /
    topic signals for curation). tf from one exploded scan; document
    frequency re-aggregated from the SAME (doc, term) frame (no second
    scan); N attached as a one-row scalar broadcast. Ranking uses the
    ROUNDED score + term tiebreak so engine and oracle agree exactly."""
    from pyspark.sql.window import Window

    docs = spread(t["documents"])
    toks = docs.select("doc_id", F.explode(textops.tokens("text")).alias("term"))
    # tf feeds both the df aggregate and the scored join; checkpoint so
    # the tokenize+count subtree runs once, not per consumer (3
    # `documents` scans in plans/r11/tfidf_top_terms_before.txt).
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         ROUND(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
           AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, term) <= 3
"""


# --- X3f: blocked kNN graph ---------------------------------------------------
def knn_graph_query(t: Tables) -> DataFrame:
    """X3: 3-nearest-neighbor graph within label blocks."""
    return similarity.knn_graph(t["embeddings"], k=3)


KNN_GRAPH_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT vec_id, neighbor_id, cos_sim FROM p
QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cos_sim DESC, neighbor_id) <= 3
"""


# --- X2h: semantic dedup keep-filter -----------------------------------------
def semdedup_keep_query(t: Tables) -> DataFrame:
    """X2: SemDeDup-style keep-filter — drop vectors ≥0.40 cosine to a
    lower-id same-block vector; first-seen wins."""
    return similarity.semdedup_keep(t["embeddings"], threshold=0.40)


SEMDEDUP_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.40
)
SELECT emb.vec_id, emb.label
FROM embeddings emb ANTI JOIN dup ON emb.vec_id = dup.vec_id
"""


# --- X4g: RAG chunking --------------------------------------------------------
CHUNK_STRIDE = 24


def chunk_for_rag(t: Tables) -> DataFrame:
    """X4: overlapping token-window chunking for retrieval indexing —
    each document becomes ceil(n/stride) chunks of up to CHUNK_TOKENS
    whitespace tokens, starts every CHUNK_STRIDE tokens (8-token
    overlap). Pure map-side expression work (split → sequence →
    posexplode → slice): zero shuffles, so at 100 TB this is an
    embarrassingly parallel scan whose output feeds the embedding
    stage. `sequence` end is guarded with greatest(n-1, 0) — Spark 4
    sequences count DOWN for negative ranges."""
    docs = spread(t["documents"])
    toked = docs.select("doc_id", textops.tokens("text").alias("toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    exploded = toked.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.slice("toks", F.col("start") + 1, CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


CHUNK_FOR_RAG_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
), st AS (
  SELECT doc_id, w,
         unnest(range(0, greatest(len(w), 1), {CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       COALESCE(array_to_string(
         list_slice(w, start + 1, start + {CHUNK_TOKENS}), ' '), '')
         AS chunk_text,
       CAST(len(list_slice(w, start + 1, start + {CHUNK_TOKENS}))
            AS INTEGER) AS n_chunk_tokens
FROM st
"""


# --- X4h: Gopher-style quality rules ------------------------------------------
def gopher_quality(t: Tables) -> DataFrame:
    """X4: rule-based document filter in the style of the Gopher/
    MassiveText quality heuristics (word-count bounds, mean word
    length bounds, stopword floor, distinct-word floor), adapted to
    this corpus's scale. Every ratio is an int/int division (exact
    cross-engine doubles) computed from array expressions — a single
    zero-shuffle codegen'd scan; at 100 TB this runs entirely map-side
    with no state.

    Tokenization is materialized into a column first: CSE skips
    higher-order-function subtrees, so the inline spelling re-tokenized
    per derived feature (the shingles() lesson, constant-factor form)."""
    docs = t["documents"].select(
        "doc_id", textops.tokens("text").alias("__w")
    )
    toks = F.col("__w")
    n_words = F.size(toks)
    # total token chars via join-with-empty — avoids a reduce and is
    # exact on both engines
    sum_len = F.length(F.array_join(toks, ""))
    n_stop = F.size(F.filter(toks, lambda x: F.lower(x).isin(*textops.STOPWORDS)))
    n_uniq = F.size(F.array_distinct(toks))
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        (sum_len.cast("double") / n_words.cast("double")).alias("mean_word_len"),
        (n_stop.cast("double") / n_words.cast("double")).alias("stop_ratio"),
        (n_uniq.cast("double") / n_words.cast("double")).alias("unique_ratio"),
    )
    flags = base.select(
        "*",
        ((F.col("n_words") >= 20) & (F.col("n_words") <= 100000)).alias("flag_n_words"),
        ((F.col("mean_word_len") >= 2.0) & (F.col("mean_word_len") <= 10.0)).alias(
            "flag_mean_len"
        ),
        (F.col("stop_ratio") >= 0.02).alias("flag_stop"),
        (F.col("unique_ratio") >= 0.30).alias("flag_unique"),
    )
    return flags.select(
        "*",
        (
            F.col("flag_n_words")
            & F.col("flag_mean_len")
            & F.col("flag_stop")
            & F.col("flag_unique")
        ).alias("keep"),
    )


GOPHER_QUALITY_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(w) AS INTEGER) AS n_words,
         CAST(length(COALESCE(array_to_string(w, ''), '')) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS mean_word_len,
         CAST(len(list_filter(w, x -> lower(x) IN ({_STOPS}))) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS stop_ratio,
         CAST(len(list_distinct(w)) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS unique_ratio
  FROM toks
), f AS (
  SELECT *,
         (n_words >= 20 AND n_words <= 100000) AS flag_n_words,
         (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS flag_mean_len,
         (stop_ratio >= 0.02) AS flag_stop,
         (unique_ratio >= 0.30) AS flag_unique
  FROM m
)
SELECT *,
       (flag_n_words AND flag_mean_len AND flag_stop AND flag_unique) AS keep
FROM f
"""


# --- X4i: vocabulary fit + id-encoding ----------------------------------------
VOCAB_SIZE = 24


def vocab_encode(t: Tables) -> DataFrame:
    """X4: tokenizer-style vocab fit + transform — build the top-V
    term vocabulary (freq desc, term asc tiebreak; ids 1..V, 0 = OOV)
    and encode every document as its token-id array in token order.
    The vocab is dimension-sized (even at 100 TB a vocabulary is
    ~100k rows), so the global rank runs on the tiny term-frequency
    aggregate and the encode join broadcasts the vocab — the corpus
    shuffles once, on doc_id, to re-assemble the arrays."""
    from pyspark.sql.window import Window

    docs = spread(t["documents"])
    toks = docs.select(
        "doc_id", F.posexplode(textops.tokens("text")).alias("pos", "term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    vocab = (
        freq.withColumn("id", F.row_number().over(w))
        .filter(F.col("id") <= VOCAB_SIZE)
        .select("term", F.col("id").cast("int").alias("id"))
    )
    enc = (
        toks.join(F.broadcast(vocab), "term", "left")
        .withColumn("id", F.coalesce(F.col("id"), F.lit(0)))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s["id"],
            ).alias("token_ids"),
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
            .cast("int")
            .alias("n_oov"),
        )
        # CSV string, not array<int>: the driver canonicalizer cannot
        # hash list cells (r2 driver-err) and the joined form is
        # information-identical.
        .select(
            "doc_id",
            F.concat_ws(
                ",", F.transform("token_ids", lambda i: i.cast("string"))
            ).alias("token_ids_csv"),
            "n_tokens",
            "n_oov",
        )
    )
    return enc


VOCAB_ENCODE_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
), tt AS (
  SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, w AS w FROM base
), toks AS (
  SELECT doc_id, pos, w[pos] AS term FROM tt
), freq AS (
  SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1
), vocab AS (
  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS INTEGER)
           AS id
  FROM freq
  QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, term) <= {VOCAB_SIZE}
)
SELECT doc_id,
       string_agg(CAST(COALESCE(v.id, 0) AS VARCHAR), ',' ORDER BY pos)
         AS token_ids_csv,
       CAST(COUNT(*) AS INTEGER) AS n_tokens,
       CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS INTEGER)
         AS n_oov
FROM toks LEFT JOIN vocab v USING (term)
GROUP BY doc_id
"""


# --- X4j: per-stratum quality percentile filter -------------------------------
def quality_top_half(t: Tables) -> DataFrame:
    """X4: keep each language's top-half documents by quality score —
    the stratified version of percentile curation (a global cut would
    let a high-resource language crowd out the rest of the mixture).
    percent_rank = (rank-1)/(n-1) is int/int, bit-identical across
    engines; ties keep doc_id as the deterministic tiebreak. One
    shuffle on lang (the window), then a filter — no join."""
    from pyspark.sql.window import Window

    docs = t["documents"]
    scored = docs.select(
        "doc_id", "lang", "text", textops.tokens("text").alias("__w")
    ).select(
        "doc_id",
        "lang",
        textops.quality_score("text", F.col("__w")).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy(F.asc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .select("doc_id", "lang", "quality", "pr")
    )


QUALITY_TOP_HALF_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, text,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> lower(x) IN ({_STOPS}))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stop_ratio,
         CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_ratio
  FROM base
), scored AS (
  SELECT doc_id, lang,
         (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
           + stop_ratio + alpha_ratio AS quality
  FROM m
)
SELECT doc_id, lang, quality,
       PERCENT_RANK() OVER (PARTITION BY lang
                            ORDER BY quality ASC, doc_id ASC) AS pr
FROM scored
QUALIFY PERCENT_RANK() OVER (PARTITION BY lang
                             ORDER BY quality ASC, doc_id ASC) >= 0.5
"""


# --- X3g: IVF + PQ composite search -------------------------------------------
def ivfpq_topk_query(t: Tables) -> DataFrame:
    """X3g: IVFADC — coarse probe + residual-PQ ADC shortlist + exact
    rerank. Oracled end-to-end: BOTH trained codebooks are pinned
    constants (bit-deterministic nano-unit training; re-train equality
    in pytest) and the DuckDB twin replicates assignment, residuals,
    per-cell ADC tables, fold order, shortlist tiebreaks and the
    rerank (plans/ivf_fixture.ivfpq_topk_oracle_sql); recall vs brute
    force and determinism stay pinned in pytest."""
    return similarity.ivfpq_topk(t["embeddings"])


# --- X4h: bigram collocation PMI ----------------------------------------------
def token_pmi(t: Tables) -> DataFrame:
    """X4h: collocation extraction — pointwise mutual information of
    adjacent token pairs, ln(n_ab·N / (n_a·n_b)), the classic phrase /
    multi-word-expression detector a tokenizer-training pipeline runs
    before vocab fit. Bigrams come from a map-side ``transform`` over
    the token array (linear, never a token self-join); the three count
    frames are token-keyed aggs and the unigram attach joins are
    broadcast (vocab-sized). N rides along as the standard one-row
    scalar broadcast. Filter n_ab >= 5 bounds the output; ranking uses
    the ROUNDED score + pair tiebreak so engine and oracle agree."""
    docs = spread(t["documents"]).select(
        "doc_id", textops.tokens("text").alias("toks")
    )
    big = docs.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                "(x, i) -> struct(x AS a, element_at(toks, i + 2) AS b))"
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    uni = docs.select(F.explode("toks").alias("tok"))
    # Deliberately NOT checkpointed (round 11): the formatted plan
    # shows 4 `documents` scans, but task input metrics prove runtime
    # exchange reuse already collapses them to ONE (10k records read);
    # a ucnt checkpoint + n_tot-from-Σn_tok rewrite measured +8%
    # executor CPU for nothing. Counter-example to the multi-consumer
    # checkpoint rule: when every consumer hangs off the SAME exchange,
    # Spark's ReuseExchange beats an explicit materialization.
    n_tot = uni.agg(F.count(F.lit(1)).alias("n_tokens"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    pairs = (
        big.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    return (
        pairs.join(F.broadcast(ucnt.withColumnRenamed("tok", "a")), "a")
        .withColumnRenamed("n_tok", "n_a")
        .join(F.broadcast(ucnt.withColumnRenamed("tok", "b")), "b")
        .withColumnRenamed("n_tok", "n_b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.col("a").alias("tok_a"),
            F.col("b").alias("tok_b"),
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n_tokens")).cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(50)
    )


TOKEN_PMI_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
), uni AS (
  SELECT unnest(w) AS tok FROM toks
), ucnt AS (
  SELECT tok, COUNT(*) AS n_tok FROM uni GROUP BY 1
), ntot AS (
  SELECT COUNT(*) AS n_tokens FROM uni
), big AS (
  SELECT w[i] AS a, w[i + 1] AS b
  FROM toks, unnest(range(1, len(w))) AS t(i)
), pairs AS (
  SELECT a, b, COUNT(*) AS n_ab FROM big GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT p.a AS tok_a, p.b AS tok_b, p.n_ab,
       ROUND(ln(CAST(p.n_ab * n_tokens AS DOUBLE)
                / CAST(ua.n_tok * ub.n_tok AS DOUBLE)), 6) AS pmi
FROM pairs p
JOIN ucnt ua ON ua.tok = p.a
JOIN ucnt ub ON ub.tok = p.b
CROSS JOIN ntot
ORDER BY pmi DESC, tok_a, tok_b
LIMIT 50
"""


# --- X3h: per-label centroid pooling ------------------------------------------
def label_centroids(t: Tables) -> DataFrame:
    """X3h: mean-pool embeddings per label — the class-centroid /
    prototype computation under k-NN classification and SemDeDup-style
    cluster seeding. Per-dimension sums go through exact micro-unit
    integers (floor(x·1e6) on the float-exact double), so the mean is
    partition-order independent and bit-identical cross-engine; the
    single shuffle keys (label, pos) — dims fan out map-side via
    posexplode, no vector ever collects to the driver."""
    ex = spread(t["embeddings"]).select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.sum(F.floor(F.col("x") * 1000000).cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid_micro"),
        )
    )


LABEL_CENTROIDS_SQL = """
SELECT label, i AS pos, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
                     AS BIGINT)) AS DOUBLE) / COUNT(*) AS centroid_micro
FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
GROUP BY 1, 2
"""


# --- X1c: incremental novelty vs a historical corpus --------------------------
#
# Deterministic id-hash split stands in for "historical corpus" (80%) vs
# "new crawl batch" (20%): pmod(md5(doc_id), 10) < 8 — the same
# reproducible-sampling idiom as hash_sample_orders, so the split is
# partition-order independent and identical in both engines.

def _split_expr() -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        % 10
    )
_SPLIT_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10"
)


def novel_docs(t: Tables) -> DataFrame:
    """X1c baseline: EXACT novelty — new-batch docs whose content
    fingerprint never occurs in the historical split. Left-anti hash
    join on md5(text); at 100 TB this is the expensive path the Bloom
    variant below replaces (it shuffles the history's fingerprints)."""
    d = spread(t["documents"])
    hist = d.filter(_split_expr() < 8).select(F.md5("text").alias("fp"))
    new = d.filter(_split_expr() >= 8).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    return new.join(hist, "fp", "left_anti").select("doc_id", "source")


NOVEL_DOCS_SQL = f"""
WITH h AS (SELECT DISTINCT md5(text) AS fp FROM documents
           WHERE {_SPLIT_SQL} < 8),
n AS (SELECT doc_id, source, md5(text) AS fp FROM documents
      WHERE {_SPLIT_SQL} >= 8)
SELECT doc_id, source FROM n
WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.fp = n.fp)
"""


def novel_docs_bloom(t: Tables) -> DataFrame:
    """X1c scale path: the same novelty check through a Bloom filter
    built once over the history and broadcast as a bitmap literal — the
    history never re-shuffles and the probe is map-only. False positives
    (novel docs misreported as seen) are inherent to the filter and
    REPRODUCED by the oracle, which models bit-set membership exactly
    (ref semantics: the dedup step of any incremental crawl ingest)."""
    d = spread(t["documents"])
    bitmap = dedup.bloom_build_bitmap(
        d.filter(_split_expr() < 8), "text", cache_tag="hist80"
    )
    new = d.filter(_split_expr() >= 8)
    return dedup.bloom_novel(new, bitmap, "text").select("doc_id", "source")


def _bloom_pos_sql(expr: str, s: int) -> str:
    return (
        f"CAST(('0x' || substr(md5({expr}), {1 + 8 * s}, 8)) AS BIGINT) "
        f"% {dedup.BLOOM_M_BITS}"
    )


NOVEL_DOCS_BLOOM_SQL = f"""
WITH hp AS (
  SELECT DISTINCT p FROM (
    SELECT unnest([{", ".join(_bloom_pos_sql("text", s) for s in range(dedup.BLOOM_K))}]) AS p
    FROM documents WHERE {_SPLIT_SQL} < 8
  )
),
np AS (
  SELECT doc_id, source,
         unnest([{", ".join(_bloom_pos_sql("text", s) for s in range(dedup.BLOOM_K))}]) AS p
  FROM documents WHERE {_SPLIT_SQL} >= 8
),
hits AS (
  SELECT doc_id, source,
         SUM(CASE WHEN p IN (SELECT p FROM hp) THEN 1 ELSE 0 END) AS nh
  FROM np GROUP BY 1, 2
)
SELECT doc_id, source FROM hits WHERE nh < {dedup.BLOOM_K}
"""


# --- X2f: source-overlap governance report ------------------------------------
def source_overlap(t: Tables) -> DataFrame:
    """X2f: estimated pairwise Jaccard BETWEEN SOURCES via per-source
    union-MinHash — the corpus-governance report that catches one feed
    mirroring another before both are ingested at full weight.

    min(md5(shingle)) over a source's shingle UNION is the source-level
    MinHash (same slices as the per-doc signatures), so the per-source
    signature costs one agg over the shingle frame. Pair candidates come
    from the pair kernel (``analytics.pair_stream``) keyed on (component
    index, component value) — sources sharing no component never pair,
    so there is no all-pairs cross join even at thousands of sources.
    est_jaccard = matching components / k."""
    d = spread(t["documents"])
    sh = dedup.shingles(d, "text", "source")  # (doc_id=source, shingle)
    slices = dedup._minhash_slices(F.col("shingle"))
    sig = sh.groupBy("doc_id").agg(
        *[F.min(slices[i]).alias(f"mh_{i}") for i in range(dedup.N_MINHASH)]
    )
    comp = sig.select(
        F.col("doc_id").alias("source"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), F.col(f"mh_{i}").alias("mh")
                    )
                    for i in range(dedup.N_MINHASH)
                ]
            )
        ).alias("c"),
    ).select("source", F.col("c.i").alias("i"), F.col("c.mh").alias("mh"))
    return (
        pair_stream(comp, ["i", "mh"], "source", "source_a", "source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .withColumn(
            "est_jaccard", F.col("n_match").cast("double") / dedup.N_MINHASH
        )
    )


def _source_sig_components() -> str:
    parts = []
    for i in range(dedup.N_MINHASH):
        parts.append(f"SELECT source, {i} AS i, mh_{i} AS mh FROM sigs")
    return "\nUNION ALL\n".join(parts)


SOURCE_OVERLAP_SQL = f"""
WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT source, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM idx),
sigs AS (
  SELECT source AS source,
         {_mh_cols()}
  FROM (SELECT source AS doc_id, source, shingle FROM sh) GROUP BY source
),
comp AS (
{_source_sig_components()}
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_match,
       CAST(COUNT(*) AS DOUBLE) / {dedup.N_MINHASH} AS est_jaccard
FROM comp a
JOIN comp b ON a.i = b.i AND a.mh = b.mh AND a.source < b.source
GROUP BY 1, 2
"""


# --- X4f: per-source document cap ---------------------------------------------
def source_cap(t: Tables) -> DataFrame:
    """X4f: cap documents per source at a fixed budget, selected by
    content-stable hash order — the domain-capping step every crawl
    curation applies so one megasite can't dominate the mixture. Hash
    order (not "first N scanned") makes the kept set reproducible across
    re-runs and partitionings. One window per source; a pathologically
    hot source would switch to the hash-threshold spelling (keep where
    pmod(h, source_n) < cap·source_n/n) which needs no sort at all."""
    from pyspark.sql import Window

    d = spread(t["documents"])
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 15)
        .select("source", "doc_id", "rk")
    )


SOURCE_CAP_SQL = """
SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 15
"""


# --- X4g: duplicate-rate governance report ------------------------------------
def dup_ratio_by_source(t: Tables) -> DataFrame:
    """X4g: per-source exact-duplicate rate — n_docs, distinct
    fingerprints, and the dup ratio. The governance scoreboard that
    decides which feeds earn a near-dup pass. COUNT(DISTINCT md5) is one
    two-phase agg (partial distinct map-side); no joins."""
    d = spread(t["documents"])
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_unique"),
        )
        .withColumn(
            "dup_ratio",
            F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"),
        )
    )


DUP_RATIO_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_ratio
FROM documents GROUP BY 1
"""


# --- X3i: exact embedding covariance (PCA prep) --------------------------------
def embedding_covariance(t: Tables) -> DataFrame:
    """X3i: the d×d covariance accumulation that feeds PCA/whitening —
    the classic "driver-side numpy" step re-expressed as one distributed
    aggregation. Per row, the upper-triangle (i,j,x·y) terms fan out
    MAP-SIDE from an array expression (no self-join of the exploded
    frame, which would shuffle N·d rows); the single groupBy keys
    (i,j) = d(d+1)/2 cells. Values go through floor(x·1e6) micro-ints so
    every sum is an exact BIGINT and the final double covariance is the
    same IEEE expression in both engines — bit-identical under any
    partitioning."""
    d = spread(t["embeddings"])
    q = F.expr(
        "transform(CAST(embedding AS ARRAY<DOUBLE>),"
        " x -> CAST(floor(x * 1000000) AS BIGINT))"
    )
    terms = F.expr(
        "flatten(transform(__q, (xi, i) ->"
        " transform(slice(__q, i + 1, size(__q) - i),"
        "  (xj, j2) -> struct(i AS i, i + j2 AS j, xi AS x, xj AS y))))"
    )
    ex = (
        d.withColumn("__q", q)
        .select(F.explode(terms).alias("t"))
        .select("t.i", "t.j", "t.x", "t.y")
    )
    n = F.count(F.lit(1))
    sx, sy, sxy = F.sum("x"), F.sum("y"), F.sum(F.col("x") * F.col("y"))
    return ex.groupBy("i", "j").agg(
        n.alias("n_vecs"),
        sx.alias("sum_x"),
        sy.alias("sum_y"),
        sxy.alias("sum_xy"),
    ).withColumn(
        "cov_micro2",
        (F.col("sum_xy").cast("double") / F.col("n_vecs"))
        - (F.col("sum_x").cast("double") / F.col("n_vecs"))
        * (F.col("sum_y").cast("double") / F.col("n_vecs")),
    )


EMBEDDING_COVARIANCE_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
           AS qv
  FROM embeddings
),
pairs AS (
  SELECT i, j, qv[i + 1] AS x, qv[j + 1] AS y
  FROM q,
       unnest(range(0, len(qv))) AS t(i),
       unnest(range(0, len(qv))) AS u(j)
  WHERE j >= i
)
SELECT i, j, COUNT(*) AS n_vecs,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM(y) AS BIGINT) AS sum_y,
       CAST(SUM(x * y) AS BIGINT) AS sum_xy,
       (CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) / COUNT(*))
         - (CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) / COUNT(*))
           * (CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) / COUNT(*)) AS cov_micro2
FROM pairs GROUP BY 1, 2
"""


# --- X4h: corpus snapshot diff ------------------------------------------------
def snapshot_diff(t: Tables) -> DataFrame:
    """X4h: content diff between two corpus versions — the CDC-style
    report a dataset release pipeline publishes with every refresh
    (what entered, what left, what was edited in place).

    Versions are simulated deterministically from the one documents
    table: v1 = id-hash buckets 0-8, v2 = buckets 1-9, and bucket-5 text
    carries a marker edit in v2 — so the diff exercises all four
    statuses. One full-outer hash join on doc_id comparing content
    fingerprints; at 100 TB both sides shuffle once on the join key and
    the fingerprint comparison is constant-width regardless of doc size."""
    d = spread(t["documents"])
    b = _split_expr()
    v1 = d.filter(b < 9).select("doc_id", F.md5("text").alias("fp1"))
    v2 = d.filter(b >= 1).select(
        "doc_id",
        F.md5(
            F.when(b == 5, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
                F.col("text")
            )
        ).alias("fp2"),
    )
    joined = v1.join(v2, "doc_id", "full_outer")
    return joined.select(
        "doc_id",
        F.when(F.col("fp1").isNull(), F.lit("added"))
        .when(F.col("fp2").isNull(), F.lit("removed"))
        .when(F.col("fp1") == F.col("fp2"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


SNAPSHOT_DIFF_SQL = f"""
WITH v1 AS (
  SELECT doc_id, md5(text) AS fp1 FROM documents WHERE {_SPLIT_SQL} < 9
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN {_SPLIT_SQL} = 5 THEN text || ' v2' ELSE text END) AS fp2
  FROM documents WHERE {_SPLIT_SQL} >= 1
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN fp1 IS NULL THEN 'added'
            WHEN fp2 IS NULL THEN 'removed'
            WHEN fp1 = fp2 THEN 'unchanged'
            ELSE 'changed' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
"""


# --- X4i: BPE merge-pair counting ---------------------------------------------
def bpe_merge_pairs(t: Tables) -> DataFrame:
    """X4i: the distributed inner loop of BPE tokenizer training — count
    adjacent symbol pairs across the corpus, weighted by word frequency
    (round 0: symbols are characters). The full trainer repeats this
    count → merge-best-pair cycle; each round is exactly this job with a
    longer symbol alphabet, so the one-round count is the scale-critical
    primitive.

    Shape: one groupBy(word) collapses the corpus to its vocabulary
    (frequencies ride along), then pairs fan out MAP-SIDE from an array
    expression over the (tiny) vocab — the corpus is never exploded to
    character granularity, which is the difference between shuffling
    |vocab|·avg_len rows and |corpus|·avg_len rows at 100 TB. Top-50 by
    weighted count with a deterministic (pair) tiebreak."""
    d = spread(t["documents"])
    words = d.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    pairs = wf.filter(F.length("word") >= 2).select(
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> struct(substring(word, i, 1) AS a,"
                "             substring(word, i + 1, 1) AS b))"
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b"))
        .agg(F.sum("n").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "sym_a", "sym_b")
        .limit(50)
    )


BPE_MERGE_PAIRS_SQL = r"""
WITH words AS (
  SELECT w AS word FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                              x -> x <> '')) AS w
    FROM documents
  )
),
wf AS (SELECT word, COUNT(*) AS n FROM words GROUP BY 1),
pairs AS (
  SELECT substr(word, i, 1) AS sym_a, substr(word, i + 1, 1) AS sym_b, n
  FROM wf, unnest(range(1, len(word))) AS t(i)
  WHERE len(word) >= 2
)
SELECT sym_a, sym_b, CAST(SUM(n) AS BIGINT) AS pair_count
FROM pairs GROUP BY 1, 2
ORDER BY pair_count DESC, sym_a, sym_b
LIMIT 50
"""


# --- X4i': the FULL iterative BPE trainer (VERDICT_r5 #2) --------------------
BPE_ROUNDS = 8


def bpe_train_merges(t: Tables) -> DataFrame:
    """X4i': N sequential BPE merges with the merged-symbol corpus
    re-derived per round — the complete trainer whose inner loop is
    :func:`bpe_merge_pairs`. Output is the learned merge table
    (merge_rank, sym_a, sym_b, pair_count): the artifact that IS a BPE
    tokenizer.

    Per round: (1) adjacent-pair counts fan out MAP-SIDE from the
    vocab's symbol arrays (the corpus collapsed to word→freq ONCE, up
    front — the only corpus-sized shuffle in the whole job); (2) the
    winning pair is a TakeOrdered over the tiny pair-count frame,
    tiebroken (count desc, a, b); (3) the merge applies as a broadcast
    1-row attach + an ``aggregate()`` left-fold over each word's
    symbol array — replace-last is exactly greedy leftmost-first,
    non-overlapping merging (for a run "aaa" with pair (a,a) the fold
    yields [aa, a], because the merged token a||b can never re-match
    the left symbol a). Rounds follow the pagerank_trade unrolled
    discipline: per-round localCheckpoint bounds lineage, no driver
    state beyond the k 1-row winners. At 100 TB the vocab frame is
    millions of rows, not corpus-sized — every round's work is
    O(vocab), and the merge table broadcast is k rows.

    The DuckDB twin (generated below) unrolls the same N rounds; its
    merge step spells greedy non-overlap relationally — match
    positions, gaps-and-islands run detection, keep every other match
    in a run (equivalent to the fold: overlapping matches only occur
    for a == b, where greedy takes even offsets within each run).
    """
    return _bpe_train(t)[1]


def _bpe_train(t: Tables):
    """Shared trainer core: returns (fully-merged vocab frame
    [word, n, syms], merge-table frame) — bpe_train_merges emits the
    merge table, bpe_encode_stats applies the trained vocab. Memoized
    per run by ``dedup.run_memo``, so the train/encode registry pair
    shares one training pass."""
    docs = t["documents"]

    def train():
        d = spread(docs)
        words = d.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("word")
        ).filter(F.col("word") != "")
        vocab = (
            words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn(
                "syms",
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " i -> substring(word, i, 1))"
                ),
            )
            .localCheckpoint()
        )
        merges = []
        for r in range(1, BPE_ROUNDS + 1):
            pairs = vocab.filter(F.size("syms") >= 2).select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS a,"
                        "             element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            best = (
                pairs.groupBy(F.col("p.a").alias("ba"), F.col("p.b").alias("bb"))
                .agg(F.sum("n").alias("c"))
                .orderBy(F.col("c").desc(), "ba", "bb")
                .limit(1)
                .localCheckpoint()
            )
            merges.append(
                best.select(
                    F.lit(r).alias("merge_rank"),
                    F.col("ba").alias("sym_a"),
                    F.col("bb").alias("sym_b"),
                    F.col("c").cast("long").alias("pair_count"),
                )
            )
            vocab = (
                vocab.crossJoin(F.broadcast(best))
                .withColumn(
                    "syms",
                    F.expr(
                        "aggregate(syms, CAST(array() AS ARRAY<STRING>),"
                        " (acc, s) -> IF(size(acc) > 0"
                        "   AND element_at(acc, -1) = ba AND s = bb,"
                        "   concat(slice(acc, 1, size(acc) - 1),"
                        "          array(concat(ba, bb))),"
                        "   concat(acc, array(s))))"
                    ),
                )
                .drop("ba", "bb", "c")
                .localCheckpoint()
            )
        out = merges[0]
        for m in merges[1:]:
            out = out.unionByName(m)
        return vocab, out.orderBy("merge_rank")

    return dedup.run_memo(docs, ("bpe_train", BPE_ROUNDS), train)


def bpe_encode_stats(t: Tables) -> DataFrame:
    """X4i'': the tokenizer INFERENCE path — encode every document
    with the merges just trained and report per-doc token economics
    (word/char/BPE-token counts + chars-per-token compression).

    Scale shape: the trained segmentation lives on the VOCAB (word →
    final symbol array from the same 8 rounds — one shared build with
    bpe_train_merges); documents explode to (doc_id, word) and
    hash-join the vocab dimension, so the corpus text is never folded
    per merge round — tokenization is a dimension join, the way a
    100 TB encode job actually runs. chars_per_token is int/int in
    IEEE double (both < 2^53 → correctly rounded, bit-equal
    cross-engine)."""
    vocab, _ = _bpe_train(t)
    seg = vocab.select(
        "word",
        F.length("word").alias("wchars"),
        F.size("syms").alias("wtoks"),
    )
    d = spread(t["documents"])
    dwords = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        dwords.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wchars").alias("n_chars"),
            F.sum("wtoks").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_tokens",
            (
                F.col("n_chars").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


def _bpe_round_sql(r: int) -> str:
    """One unrolled DuckDB training round over v{r-1} → best{r}, v{r}.
    AS MATERIALIZED on the vocab CTEs — chained CTEs referencing the
    previous round inline exponentially otherwise (the kcore lesson)."""
    return f"""
pc{r} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(n) AS c
  FROM v{r - 1}, unnest(range(1, len(syms))) AS t(i)
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT a AS ba, b AS bb, c FROM pc{r} ORDER BY c DESC, a, b LIMIT 1
),
pos{r} AS (
  SELECT word, n, i, syms[i] AS s,
         COALESCE(syms[i] = (SELECT ba FROM best{r})
                  AND syms[i + 1] = (SELECT bb FROM best{r}),
                  FALSE) AS m
  FROM v{r - 1}, unnest(range(1, len(syms) + 1)) AS t(i)
),
isl{r} AS (
  SELECT word, n, i, s, m,
         CASE WHEN m THEN
           i - ROW_NUMBER() OVER (PARTITION BY word, m ORDER BY i)
         END AS grp
  FROM pos{r}
),
tk{r} AS (
  SELECT word, n, i, s,
         m AND ((i - MIN(i) OVER (PARTITION BY word, grp)) % 2 = 0) AS taken
  FROM isl{r}
),
rb{r} AS (
  SELECT word, n, i, s, taken,
         COALESCE(LAG(taken) OVER (PARTITION BY word ORDER BY i), FALSE)
           AS consumed
  FROM tk{r}
),
v{r} AS MATERIALIZED (
  SELECT word, n,
         list(CASE WHEN taken THEN ba || bb ELSE s END ORDER BY i) AS syms
  FROM rb{r}, best{r}
  WHERE NOT consumed
  GROUP BY word, n
)"""


_BPE_SQL_PREFIX = (
    r"""
WITH words AS (
  SELECT w AS word FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                              x -> x <> '')) AS w
    FROM documents
  )
),
wf AS (SELECT word, COUNT(*) AS n FROM words GROUP BY 1),
v0 AS MATERIALIZED (
  SELECT word, n, list(substr(word, i, 1) ORDER BY i) AS syms
  FROM wf, unnest(range(1, len(word) + 1)) AS t(i)
  GROUP BY word, n
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, BPE_ROUNDS + 1))
)

BPE_TRAIN_MERGES_SQL = (
    _BPE_SQL_PREFIX
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, ba AS sym_a, bb AS sym_b,"
        f" CAST(c AS BIGINT) AS pair_count FROM best{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    + "\nORDER BY merge_rank\n"
)

BPE_ENCODE_STATS_SQL = (
    _BPE_SQL_PREFIX
    + r""",
dwords AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS word
  FROM documents
)
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(len(syms)) AS BIGINT) AS n_tokens,
       CAST(SUM(length(word)) AS DOUBLE) / CAST(SUM(len(syms)) AS DOUBLE)
         AS chars_per_token
FROM dwords JOIN v"""
    + str(BPE_ROUNDS)
    + """ USING (word)
GROUP BY doc_id
"""
)


# --- X4j: one-row corpus card --------------------------------------------------
def corpus_stats(t: Tables) -> DataFrame:
    """X4j: the dataset-card summary row every corpus release ships —
    global counts plus the exact-duplicate rate, in ONE aggregation pass
    (two-phase count-distincts, no joins, no window)."""
    d = spread(t["documents"])
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("total_chars"),
        (F.sum(F.length("text")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        (
            F.lit(1.0)
            - F.countDistinct(F.md5("text")).cast("double") / F.count(F.lit(1))
        ).alias("dup_ratio"),
    )


CORPUS_STATS_SQL = """
SELECT COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
       1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_ratio
FROM documents
"""


# --- X4k: end-to-end curation funnel -------------------------------------------
def curation_funnel(t: Tables) -> DataFrame:
    """X4k: the whole curation pipeline — quality filter → exact dedup
    (keep-first) → benchmark decontamination — composed as ONE lazy
    plan, reporting the survivor count after each stage. This is the
    query a data lead actually runs before a training launch ("where
    did my documents go?"), and it demonstrates the engine's real
    product shape: stages are DataFrame→DataFrame functions, so the
    composition is a single Catalyst plan with pushdown/broadcast
    across stage boundaries, not three materialized intermediate
    tables. Counts reuse the oracled stage semantics (gopher_quality
    rules, md5 keep-first, 8-gram eval overlap vs broadcast src0)."""
    from pyspark.sql import Window

    docs = spread(t["documents"])
    pool = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    flags = gopher_quality(
        {"documents": docs.filter(F.col("source") != "src0")}
    ).select("doc_id", "keep")
    # q feeds the stage-1 count and the dedup window; d feeds the
    # stage-2 count, the 8-gram shingle probe and the anti-join — the
    # lazy composition re-derived the tokenize-heavy gopher chain per
    # consumer (10 `documents` scans in plans/r11/
    # curation_funnel_before.txt). Materialize each funnel stage once
    # (the staged-survivor discipline curation_funnel_neardup measured
    # 8.2→4.6 s with in round 10).
    q = (
        pool.join(flags.filter(F.col("keep")), "doc_id")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    d = (
        q.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
        .localCheckpoint()
    )
    eval_sh = (
        dedup.shingles(docs.filter(F.col("source") == "src0"), n=8)
        .select("shingle")
        .distinct()
    )
    contaminated = (
        dedup.shingles(d, n=8)
        .join(F.broadcast(eval_sh), "shingle")
        .select("doc_id")
        .distinct()
    )
    c = d.join(contaminated, "doc_id", "left_anti")
    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    return (
        stage(0, "pool", pool)
        .unionByName(stage(1, "quality", q))
        .unionByName(stage(2, "dedup", d))
        .unionByName(stage(3, "decontaminated", c))
    )


CURATION_FUNNEL_SQL = f"""
WITH pool AS (
  SELECT doc_id, text FROM documents WHERE source <> 'src0'
),
ptoks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM pool
),
pm AS (
  SELECT doc_id,
         CAST(len(w) AS INTEGER) AS n_words,
         CAST(length(COALESCE(array_to_string(w, ''), '')) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS mean_word_len,
         CAST(len(list_filter(w, x -> lower(x) IN ({_STOPS}))) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS stop_ratio,
         CAST(len(list_distinct(w)) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS unique_ratio
  FROM ptoks
),
q AS (
  SELECT p.doc_id, p.text
  FROM pool p JOIN pm ON p.doc_id = pm.doc_id
  WHERE pm.n_words >= 20 AND pm.n_words <= 100000
    AND pm.mean_word_len >= 2.0 AND pm.mean_word_len <= 10.0
    AND pm.stop_ratio >= 0.02 AND pm.unique_ratio >= 0.30
),
d AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
ev AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE source = 'src0'
),
evidx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM ev),
evsh AS (
  SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
         || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
           AS shingle
  FROM evidx
),
dt AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
dtidx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM dt),
dsh AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
         || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
           AS shingle
  FROM dtidx
),
contaminated AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN evsh USING (shingle)),
c AS (
  SELECT d.doc_id FROM d
  WHERE NOT EXISTS (SELECT 1 FROM contaminated x WHERE x.doc_id = d.doc_id)
)
SELECT 0 AS stage_idx, 'pool' AS stage, COUNT(*) AS n_docs FROM pool
UNION ALL SELECT 1, 'quality', COUNT(*) FROM q
UNION ALL SELECT 2, 'dedup', COUNT(*) FROM d
UNION ALL SELECT 3, 'decontaminated', COUNT(*) FROM c
"""


# --- X2/X3: lexical TF-cosine near-dup pairs ---------------------------------
# Heavy-token cut is RELATIVE: tokens present in more than 1/COSINE_DF_DIV
# of all documents are dropped (df·DIV > n_docs — exact integer compare, no
# float fraction). An absolute cut like ngram's max_df=1000 breaks under SF
# scaling: at sf0.1 every token shared by near-dup pairs also rides in >100
# template docs, so absolute-100 emptied the candidate set entirely.
#
# MEASURED LIMIT (round-7 sf1z stress census): the relative cut alone has
# a distribution-dependent cost wall in the other direction — on a Zipf
# corpus (tools/gen_sf --vocab zipf, n = 50k, V = 3073) the mid-frequency
# band df ∈ (133, n/5] carries Σdf² ≈ 1.97e9 candidate slots: 525 s for
# 248 output pairs, and the naive DuckDB oracle needs spill. This
# query's contract is therefore EXACTNESS on corpora where the relative
# cut leaves Σdf² tractable; the scale-safe sibling shipped in round 8
# is :func:`doc_cosine_pairs_capped` (per-doc rarest-R prefix blocking,
# measured recall 0.980 at sf1z with a 48× slot cut — see its block
# comment), and compositions use THAT variant. SCALE.md carries the
# numbers for both.
COSINE_DF_DIV = 5


def doc_cosine_pairs(t: Tables) -> DataFrame:
    """Lexical cosine similarity pairs over raw term-frequency vectors
    via an inverted index — the sparse-vector sibling of ngram_jaccard
    (set overlap) and embedding_neardup (dense cosine): candidate pairs
    come ONLY from shared non-ubiquitous tokens, never from an
    all-pairs product.

    Exactness: dot products and squared norms are exact BIGINT sums of
    term-frequency products; the final cosine = dot/sqrt(na2*nb2) uses
    only IEEE-correctly-rounded ops (sqrt, /), so the double — and the
    0.5 threshold filter — is bit-identical cross-engine (ln/exp/pow
    would not be; they never appear).

    Scale shape: tokens present in more than a fifth of all documents
    are dropped before the self-join (stopwords pair everything with
    everything — the skew/noise cut, like CountVectorizer's relative
    maxDF); norms are computed from the SAME pruned token set so the
    metric is self-consistent. The inverted-index join is
    hash-partitioned on token; per-token fan-out is bounded by
    (n_docs/5)² per token but the CANDIDATE set only contains pairs
    sharing sub-ubiquitous tokens, which is what keeps it far from
    all-pairs on real text. The doc total is a 1-row scalar broadcast.

    The tf frame feeds FOUR consumers (df counts, norms, both join
    sides), so it is materialized once and every consumer re-reads it.
    """
    tf = (
        spread(t["documents"])
        .select("doc_id", F.explode(textops.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Without the checkpoint every consumer re-derived
    # scan→tokenize→count (12 `documents` scans in plans/r11/
    # doc_cosine_pairs_before.txt — AQE exchange reuse does NOT cover
    # it: the shared subtree ends before any exchange).
    tf = tf.localCheckpoint()
    n_docs = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    heavy = (
        dfc.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * COSINE_DF_DIV > F.col("n_docs"))
        .select("tok")
    )
    kept = tf.join(F.broadcast(heavy), "tok", "left_anti")
    norms = kept.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a, b = kept.alias("a"), kept.alias("b")
    dots = (
        a.join(b, "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos = F.col("dot").cast("double") / F.sqrt(
        (F.col("na2") * F.col("nb2")).cast("double")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "dot", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.5)
    )


DOC_COSINE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
kept AS (
  SELECT tf.doc_id, tf.tok, tf.tf FROM tf
  JOIN dfc USING (tok) CROSS JOIN tot
  WHERE dfc.df * {COSINE_DF_DIV} <= tot.n_docs
),
norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM kept GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.tf * b.tf) AS dot
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       -- BIGINT cast: SUM(BIGINT) is HUGEINT in DuckDB → float64 in
       -- pandas, a dtype mismatch vs Spark's bigint dot even though
       -- every value is equal (tools/driver_sim.py dtype probe)
       CAST(dot AS BIGINT) AS dot,
       CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) AS cosine
FROM dots
JOIN norms na ON dots.doc_a = na.doc_id
JOIN norms nb ON dots.doc_b = nb.doc_id
WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) >= 0.5
"""


# Candidate policy for the scale-safe cosine variant (VERDICT_r7 #1).
# The r7 sf1z census measured the exact operator's wall: the
# mid-frequency df band (133, n/5] carries Σdf² ≈ 1.97e9 candidate
# slots → 525 s for 248 pairs on the 50k-doc Zipf corpus. Three
# policies were MEASURED against the exact sf1z ground truth (248
# pairs) this round before shipping:
#   global df cap 500, ≥1 shared seed:   P = 70.8M, recall 229/248
#   global df cap 1000, ≥2 shared:       P = 15.2M, recall 229/248
#   per-doc rarest-R prefix (PPJoin style), R=10, ≥2 shared:
#                                         P = 0.67M, recall 243/248
# The per-doc prefix dominates both cap policies on BOTH axes at once:
# near-dup pairs share their rarest tokens almost surely (what makes
# them near-dups on a Heaps'-law vocabulary), while a global cap either
# admits the whole mid-band (huge P) or misses docs whose rarest tokens
# sit above the cap. The residual 5 misses are low-cosine pairs of
# common tokens only (max missed cosine 0.943 occurs under every
# policy; the other 4 are ≤ 0.53) — reachable only by the exact
# quadratic operator. Both knobs are deterministic integer ranks, so
# the DuckDB twin applies the IDENTICAL policy and the parity row
# certifies the whole pruned plan, not a lucky sample.
COSINE_PREFIX_R = 10
COSINE_MIN_SHARED = 2


def doc_cosine_pairs_capped(t: Tables) -> DataFrame:
    """Scale-safe lexical TF-cosine near-dup pairs: identical metric to
    :func:`doc_cosine_pairs` (exact BIGINT dot / sqrt-norm cosine over
    the relative-df-pruned token space, threshold 0.5) but candidate
    pairs must share >= COSINE_MIN_SHARED tokens from BOTH docs'
    rarest-COSINE_PREFIX_R prefixes (per-doc df-ascending rank — the
    PPJoin prefix idea applied to TF-cosine blocking). Every emitted
    pair's cosine is the EXACT full-vector value — candidates are
    re-joined against the complete kept tf frame for scoring — so the
    policy can only MISS pairs, never mis-score one. Measured recall vs
    the exact operator: 1.0 at sf0.1z, 243/248 = 0.980 at sf1z (pytest
    pin in tests/test_text_ops.py; slow sf1z pin env-gated), with the
    misses all being accidental common-token pairs, not injected
    near-dups.

    This is the variant a curation pipeline should compose: the exact
    operator's Σdf² is quadratic in the mid-frequency band of a Zipf
    corpus (525 s/248 pairs at sf1z), while the prefix index holds
    exactly R rows per doc and candidate generation joins on TOKEN-PAIR
    keys (round 11): the min-shared=2 rule is folded into the join key
    itself, so the slot stream is Σ(pair-co-occurrence)² — measured
    3.6e6 at sf1z vs 8.3e7 for the round-10 single-token join and
    1.97e9 for the exact operator (see the candidate-block comment;
    the candidate SET is unchanged, only the enumeration is) — and
    scoring touches only |candidates| packed-vector rows. Shuffle
    shape: tf hash-partitioned by token for df counts, pair keys
    hash-partitioned for candidate generation, by doc_id for scoring —
    keyed end-to-end, never all-pairs, no aggregation state
    proportional to Σ(prefix-df)² anywhere.
    """
    from pyspark.sql.window import Window

    tf = (
        spread(t["documents"])
        .select("doc_id", F.explode(textops.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Same multi-consumer materialization as doc_cosine_pairs (22
    # `documents` scans in plans/r11/doc_cosine_pairs_capped_before.txt
    # without it).
    tf = tf.localCheckpoint()
    n_docs = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    heavy = (
        dfc.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * COSINE_DF_DIV > F.col("n_docs"))
        .select("tok")
    )
    kept = tf.join(F.broadcast(heavy), "tok", "left_anti")
    # per-doc prefix: each doc's R rarest kept tokens (df asc, tok asc —
    # a total order, so the prefix is deterministic cross-engine)
    pref = (
        kept.join(dfc, "tok")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("tok").asc()
                )
            ),
        )
        .filter(F.col("rk") <= COSINE_PREFIX_R)
        .select("doc_id", "tok")
    )
    # Candidate generation WITHOUT the pair aggregate (round 10, the
    # SCALE.md round-9 "direction" made real): the r9 spelling joined
    # prefix×prefix on tok then groupBy(doc_a, doc_b) counted shared
    # tokens — a partial hash aggregate over Σ(prefix-df)² slots, which
    # is the stage task metrics localized 218 GB of spill into at sf10z
    # and the stage whose sort exhausted the box's scratch at sf30z.
    # Instead each index row now CARRIES its doc's whole sorted prefix
    # array (≤ COSINE_PREFIX_R short strings), so at join time
    # array_intersect computes |Pa ∩ Pb| in-expression and the pair is
    # emitted ONLY from its lexically-smallest shared token
    # (tok == inter[0]) — exactly-once structurally, zero aggregation
    # state, the whole Σ(prefix-df)² stream stays inside one
    # whole-stage-codegen filter. The candidate SET is mathematically
    # identical to the counted spelling (shared >= least(MIN_SHARED,
    # |Pa|, |Pb|), adaptive floor included — a doc whose whole prefix
    # is shorter than COSINE_MIN_SHARED can still collide on everything
    # it has; measured: the strict >=2 rule returned 0 rows on the
    # driver's own sf0.01 drop), so the DuckDB twin and the recall pins
    # are untouched.
    # Candidate generation on TOKEN-PAIR keys (round 11): the round-10
    # single-token join streamed Σ(prefix-df)² slots — measured 2.24e9
    # at sf10z → 11.21e9 at sf30z (exponent 1.47, the repo's one
    # remaining structural superlinearity; 1236 s at sf30z). Round 11's
    # A/B of the r10 VERDICT's df-banded admission REJECTED it with
    # numbers (DuckDB replay, sf1z): true-pair witness tokens are
    # TYPICAL prefix tokens on this axis (prefix-df cap 100 keeps
    # 8/243 recall; full recall needs the cap above the median, which
    # saves nothing), and a bucket-capped MinHash blocker trades
    # recall (238/243 at cap 500). The structural fix instead folds
    # COSINE_MIN_SHARED = 2 INTO THE JOIN KEY: each doc emits its
    # C(|prefix|,2) ordered token pairs, and a qualifying pair of docs
    # must collide on the pair key of two shared prefix tokens — the
    # candidate set is MATHEMATICALLY IDENTICAL to "share ≥ 2 prefix
    # tokens" (both spellings' sets equal, so the DuckDB twin and the
    # recall pins are untouched), but the slot stream is
    # Σ(pair-co-occurrence)², which collapses because two specific
    # mid-band tokens rarely sit in the SAME doc's prefix: measured
    # 3.6e6 slots vs 8.3e7 at sf1z (23×, max bucket 14 vs 7695).
    # With slots this small the exactly-once emission machinery is
    # unnecessary — a distinct() over the collided pairs is cheap and
    # spill-safe (the r9 aggregate death was at 2e9+ slots, three
    # decades above this stream).
    #
    # The least(MIN_SHARED, |Pa|, |Pb|) floor (docs whose whole prefix
    # is a single token can still collide on everything they have —
    # the driver's own sf0.01 drop needs it) becomes a separate FLOOR
    # CHANNEL: single-prefix-token docs join the single-token index;
    # the two channels are disjoint except 1-vs-1 docs, which the
    # channel's own distinct() de-duplicates. Measured floor
    # population: 0 docs on every Zipf axis, a handful at sf0.01.
    # pgrp feeds three consumers (pair-key index, floor channel, floor
    # probe side); it is prefix-sized (≤ R tokens/doc) so one
    # materialization beats three re-derivations of the kept⋈dfc window.
    pgrp = pref.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("tok")).alias("parr")
    ).localCheckpoint()
    idx2 = set_pairs(pgrp, ["doc_id"], "parr", "t1", "t2")
    # The doc-pair candidates stay an equi-join on the token-pair key:
    # the pair kernel over (t1, t2) → doc_id gives the same rows but
    # measured slower here (sf0.1, 4 cores, warm medians of 5:
    # 2.79 / 2.28 s join vs 3.23 / 2.56 s kernel).
    c2a, c2b = idx2.alias("c2a"), idx2.alias("c2b")
    cand_pairs = (
        c2a.join(c2b, ["t1", "t2"])
        .filter(F.col("c2a.doc_id") < F.col("c2b.doc_id"))
        .select(
            F.col("c2a.doc_id").alias("doc_a"),
            F.col("c2b.doc_id").alias("doc_b"),
        )
    )
    floor_single = pgrp.filter(F.size("parr") == 1).select(
        "doc_id", F.element_at("parr", 1).alias("tok")
    )
    pidx = pgrp.select("doc_id", F.explode("parr").alias("tok"))
    fa, fb = floor_single.alias("fa"), pidx.alias("fb")
    cand_floor = (
        fa.join(fb, "tok")
        .filter(F.col("fa.doc_id") != F.col("fb.doc_id"))
        .select(
            F.least("fa.doc_id", "fb.doc_id").alias("doc_a"),
            F.greatest("fa.doc_id", "fb.doc_id").alias("doc_b"),
        )
    )
    cand = cand_pairs.unionByName(cand_floor).distinct()
    # exact scoring over PACKED per-doc vectors (round 10): the r9
    # spelling re-joined candidates against the row-per-token kept
    # frame, expanding every candidate by its doc length before the
    # (doc_b, tok) join — task metrics at sf10z showed 212 GB memory /
    # 13 GB disk spill in that expansion's sort, and at sf30z the
    # shuffle exhausted the box's disk outright. Packing each doc's
    # kept vector into ONE map row (map_from_entries — tok unique per
    # doc by construction) turns scoring into |cand| rows × two
    # map-zip dot products computed inside whole-stage codegen: the
    # same exact BIGINT tf products (map_zip_with unions keys; a
    # missing side is null → coalesce 0), no expansion shuffle at all.
    # Re-measured sf10z: see NOTES round-10 (spill eliminated).
    vecs = kept.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "tf"))
        ).alias("vec"),
        F.sum(F.col("tf") * F.col("tf")).alias("n2"),
    )
    va = vecs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("vec").alias("va"), F.col("n2").alias("na2"),
    )
    vb = vecs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("vec").alias("vb"), F.col("n2").alias("nb2"),
    )
    dot = F.aggregate(
        F.map_values(
            F.map_zip_with(
                "va", "vb",
                lambda _k, x, y: F.coalesce(x, F.lit(0))
                * F.coalesce(y, F.lit(0)),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        (F.col("na2") * F.col("nb2")).cast("double")
    )
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select("doc_a", "doc_b", dot.alias("dot"), "na2", "nb2")
        .select("doc_a", "doc_b", "dot", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.5)
    )


DOC_COSINE_PAIRS_CAPPED_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
kept AS (
  SELECT tf.doc_id, tf.tok, tf.tf FROM tf
  JOIN dfc USING (tok) CROSS JOIN tot
  WHERE dfc.df * {COSINE_DF_DIV} <= tot.n_docs
),
pref AS (
  SELECT doc_id, tok FROM (
    SELECT k.doc_id, k.tok,
           ROW_NUMBER() OVER (
             PARTITION BY k.doc_id ORDER BY d.df, k.tok) AS rk
    FROM kept k JOIN dfc d USING (tok)
  ) WHERE rk <= {COSINE_PREFIX_R}
),
pn AS (SELECT doc_id, COUNT(*) AS pn FROM pref GROUP BY 1),
cand AS (
  SELECT g.doc_a, g.doc_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) g
  JOIN pn na ON g.doc_a = na.doc_id
  JOIN pn nb ON g.doc_b = nb.doc_id
  WHERE g.n_shared >= LEAST({COSINE_MIN_SHARED}, na.pn, nb.pn)
),
dots AS (
  SELECT c.doc_a, c.doc_b, SUM(a.tf * b.tf) AS dot
  FROM cand c
  JOIN kept a ON a.doc_id = c.doc_a
  JOIN kept b ON b.doc_id = c.doc_b AND b.tok = a.tok
  GROUP BY 1, 2
),
norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM kept GROUP BY 1)
SELECT doc_a, doc_b,
       CAST(dot AS BIGINT) AS dot,
       CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) AS cosine
FROM dots
JOIN norms na ON dots.doc_a = na.doc_id
JOIN norms nb ON dots.doc_b = nb.doc_id
WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) >= 0.5
"""


# --- X4k': the funnel with a NEAR-dup stage (VERDICT_r7 #1 composition) ------
def curation_funnel_neardup(t: Tables) -> DataFrame:
    """X4k': curation_funnel extended with a near-duplicate removal
    stage — quality filter → exact dedup (keep-first) → NEAR-dup
    removal (the scale-safe :func:`doc_cosine_pairs_capped` prefix
    policy applied to the deduped pool; keep-first survivorship drops
    every pair's higher doc_id) → benchmark decontamination, all one
    lazy plan with per-stage survivor counts. This is the composition
    the verdict asked to route through the CAPPED variant: the exact
    quadratic operator would wall at scale exactly here, inside the
    widest frame of the pipeline."""
    from pyspark.sql import Window

    docs = spread(t["documents"])
    pool = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    flags = gopher_quality(
        {"documents": docs.filter(F.col("source") != "src0")}
    ).select("doc_id", "keep")
    # q feeds the stage-1 count and the dedup window (same round-11
    # materialization as curation_funnel's q).
    q = (
        pool.join(flags.filter(F.col("keep")), "doc_id")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    d = (
        q.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
        # stage the dedup survivors once: the near-dup stage fans d out
        # to five consumers (tf -> dfc/heavy/kept x2/prefix) and each
        # would replan the quality+dedup subtree (measured 8.2 s -> 4.6 s
        # at sf0.1); at 100 TB this is the inter-stage parquet stage a
        # real pipeline writes anyway
        .localCheckpoint()
    )
    neardup_b = (
        doc_cosine_pairs_capped({"documents": d})
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # nd feeds THREE consumers (stage-3 count, the 8-gram decontam
    # probe, the final anti-join) — unmaterialized, each re-derived the
    # ENTIRE capped-cosine subtree (the 496-Exchange / 281 kB plan in
    # plans/r11/curation_funnel_neardup_before.txt). One more
    # stage boundary collapses it (round 11).
    nd = d.join(neardup_b, "doc_id", "left_anti").localCheckpoint()
    eval_sh = (
        dedup.shingles(docs.filter(F.col("source") == "src0"), n=8)
        .select("shingle")
        .distinct()
    )
    contaminated = (
        dedup.shingles(nd, n=8)
        .join(F.broadcast(eval_sh), "shingle")
        .select("doc_id")
        .distinct()
    )
    c = nd.join(contaminated, "doc_id", "left_anti")

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    return (
        stage(0, "pool", pool)
        .unionByName(stage(1, "quality", q))
        .unionByName(stage(2, "dedup", d))
        .unionByName(stage(3, "neardup", nd))
        .unionByName(stage(4, "decontaminated", c))
    )


# the twin reuses CURATION_FUNNEL_SQL's CTE chain up to d, replays the
# doc_cosine_pairs_capped policy ON d (df counts, heavy cut, prefix
# ranks, adaptive min-shared, exact dots, 0.5 threshold), then runs the
# decontamination leg on the near-dup survivors.
_FUNNEL_HEAD_SQL = CURATION_FUNNEL_SQL.split("\nev AS (")[0]
_FUNNEL_PREFIX_R = COSINE_PREFIX_R
CURATION_FUNNEL_NEARDUP_SQL = f"""{_FUNNEL_HEAD_SQL.rstrip().rstrip(',')},
ntoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM d
),
ntf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ntoks GROUP BY 1, 2),
ndfc AS (SELECT tok, COUNT(*) AS df FROM ntf GROUP BY 1),
ntot AS (SELECT COUNT(*) AS n_docs FROM d),
nkept AS (
  SELECT ntf.doc_id, ntf.tok, ntf.tf FROM ntf
  JOIN ndfc USING (tok) CROSS JOIN ntot
  WHERE ndfc.df * {COSINE_DF_DIV} <= ntot.n_docs
),
npref AS (
  SELECT doc_id, tok FROM (
    SELECT k.doc_id, k.tok,
           ROW_NUMBER() OVER (
             PARTITION BY k.doc_id ORDER BY dd.df, k.tok) AS rk
    FROM nkept k JOIN ndfc dd USING (tok)
  ) WHERE rk <= {_FUNNEL_PREFIX_R}
),
npn AS (SELECT doc_id, COUNT(*) AS pn FROM npref GROUP BY 1),
ncand AS (
  SELECT g.doc_a, g.doc_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM npref a JOIN npref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) g
  JOIN npn na ON g.doc_a = na.doc_id
  JOIN npn nb ON g.doc_b = nb.doc_id
  WHERE g.n_shared >= LEAST({COSINE_MIN_SHARED}, na.pn, nb.pn)
),
ndots AS (
  SELECT cnd.doc_a, cnd.doc_b, SUM(a.tf * b.tf) AS dot
  FROM ncand cnd
  JOIN nkept a ON a.doc_id = cnd.doc_a
  JOIN nkept b ON b.doc_id = cnd.doc_b AND b.tok = a.tok
  GROUP BY 1, 2
),
nnorms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM nkept GROUP BY 1),
npairs AS (
  SELECT doc_b FROM ndots
  JOIN nnorms na ON ndots.doc_a = na.doc_id
  JOIN nnorms nb ON ndots.doc_b = nb.doc_id
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) >= 0.5
),
nd AS (
  SELECT doc_id, text FROM d
  WHERE doc_id NOT IN (SELECT doc_b FROM npairs)
),
ev AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE source = 'src0'
),
evidx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM ev),
evsh AS (
  SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
         || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
           AS shingle
  FROM evidx
),
dt AS (SELECT doc_id, string_split(text, ' ') AS w FROM nd),
dtidx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM dt),
dsh AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
         || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
           AS shingle
  FROM dtidx
),
contaminated AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN evsh USING (shingle)),
c AS (
  SELECT nd.doc_id FROM nd
  WHERE NOT EXISTS (SELECT 1 FROM contaminated x WHERE x.doc_id = nd.doc_id)
)
SELECT 0 AS stage_idx, 'pool' AS stage, COUNT(*) AS n_docs FROM pool
UNION ALL SELECT 1, 'quality', COUNT(*) FROM q
UNION ALL SELECT 2, 'dedup', COUNT(*) FROM d
UNION ALL SELECT 3, 'neardup', COUNT(*) FROM nd
UNION ALL SELECT 4, 'decontaminated', COUNT(*) FROM c
"""


# --- X4: out-of-vocabulary rate (tokenizer / vocab governance) ---------------
OOV_VOCAB_SIZE = 100


def oov_rate(t: Tables) -> DataFrame:
    """Vocabulary-coverage governance: build the top-V corpus vocabulary
    (count desc, token asc — a total order, so the V boundary is
    deterministic cross-engine) and score every document's
    out-of-vocab token rate — the signal that decides whether a
    tokenizer's vocab fits a new corpus before a training run.

    Scale shape: the vocabulary is V rows — broadcast to the token
    stream (map-side membership test, no shuffle of the corpus by
    token); per-doc aggregation is one keyed agg. The rank window runs
    over the token-count frame (vocabulary-sized), not the corpus.
    oov = exact int counts; rate = int/int division (correctly
    rounded).
    """
    from pyspark.sql.window import Window

    toks = (
        spread(t["documents"])
        .select("doc_id", F.explode(textops.tokens("text")).alias("tok"))
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("tok").asc())
            ),
        )
        .filter(F.col("rk") <= OOV_VOCAB_SIZE)
        .select("tok")
    )
    scored = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        )
    )


OOV_RATE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
vocab AS (
  SELECT tok FROM counts
  QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) <= {OOV_VOCAB_SIZE}
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (v.tok IS NULL) AS BIGINT) AS n_oov,
       CAST(COUNT(*) FILTER (v.tok IS NULL) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY 1
"""


# --- X4: deterministic epoch shuffle → training batch assembly ---------------
EPOCH_SEED = 1
BATCH_SIZE_DOCS = 64


def epoch_batches(t: Tables) -> DataFrame:
    """Per-epoch deterministic shuffle + fixed-size batch assembly —
    the data-ordering step of a training pipeline: every doc gets a
    pseudo-random but reproducible position (md5 of doc_id × epoch
    seed), then positions are cut into BATCH_SIZE_DOCS batches.

    The global rank is computed the DISTRIBUTED way, not with a naive
    un-partitioned window (``row_number() over (order by …)`` collapses
    the whole table onto one task — the classic window scale-killer):
    rows hash into 256 ORDERED buckets (first md5 byte, so bucket
    order == key order); ranks are per-bucket windows; bucket offsets
    are a 256-row cumulative sum broadcast back. Wall-clock is two
    keyed shuffles + a dim-table window, identical at 100 TB with more
    buckets. The DuckDB oracle uses the plain ROW_NUMBER spelling —
    same answer, which is exactly the point of the contract.
    """
    from pyspark.sql.window import Window

    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{EPOCH_SEED}"))
    )
    docs = t["documents"].select(
        "doc_id",
        key.alias("okey"),
        F.conv(F.substring(key, 1, 2), 16, 10).cast("int").alias("bucket"),
    )
    local = docs.withColumn(
        "lrn",
        F.row_number().over(
            Window.partitionBy("bucket").orderBy("okey", "doc_id")
        ),
    )
    # 256-row frame: cumulative count of all STRICTLY EARLIER buckets
    offsets = (
        docs.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    ranked = local.join(F.broadcast(offsets), "bucket").withColumn(
        "rn", (F.col("offset") + F.col("lrn")).cast("long")
    )
    return ranked.select(
        "doc_id",
        "rn",
        F.expr(f"(rn - 1) div {BATCH_SIZE_DOCS}").alias("batch_id"),
        ((F.col("rn") - 1) % BATCH_SIZE_DOCS).cast("long").alias("pos_in_batch"),
    )


EPOCH_BATCHES_SQL = f"""
WITH ranked AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':{EPOCH_SEED}'), doc_id
         ) AS BIGINT) AS rn
  FROM documents
)
SELECT doc_id, rn,
       CAST((rn - 1) // {BATCH_SIZE_DOCS} AS BIGINT) AS batch_id,
       CAST((rn - 1) % {BATCH_SIZE_DOCS} AS BIGINT) AS pos_in_batch
FROM ranked
"""


# --- X4: quality-weighted deterministic sampling -----------------------------
WEIGHT_DENOM = 4


def weighted_doc_sample(t: Tables) -> DataFrame:
    """Quality-weighted reproducible subsampling: longer documents get
    a higher integer keep-weight w ∈ {1,2,3} (length as the quality
    proxy), and a doc survives iff md5(doc_id) mod 4 < w — per-doc
    Bernoulli with p = w/4, the integer-exact spelling of importance
    sampling (the float Efraimidis–Spirakis exp/pow form is NOT
    cross-engine exact; this is — and :func:`es_weighted_sample` below
    recovers ES's fixed-size guarantee via the micro-nat freeze).
    Map-side filter only — the sample never shuffles."""
    w = F.least(
        F.lit(3), 1 + (F.col("n_chars") / 500).cast("long")
    ).alias("w")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                       F.lit(":ws"))), 1, 8),
            16, 10,
        )
        % WEIGHT_DENOM
    )
    return (
        t["documents"]
        .select("doc_id", "source", "n_chars", w)
        .filter(bucket < F.col("w"))
    )


WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, source, n_chars,
       LEAST(3, 1 + n_chars // 500) AS w
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 8))
           AS BIGINT) % {WEIGHT_DENOM}
      < LEAST(3, 1 + n_chars // 500)
"""


# --- X4: fixed-size weighted sample (Efraimidis–Spirakis, frozen) ------------
ES_K = 10  # sample size per source stratum (< the 25-doc
# sf0.01 strata, so the weighted selection is exercised at the
# correctness-gate SF, not just at sf0.1)
_TWO60_F = float(1 << 60)


def es_weighted_sample(t: Tables) -> DataFrame:
    """X4: EXACT-SIZE weighted sampling without replacement — the
    Efraimidis–Spirakis A-ES scheme (keep the k docs minimizing
    -ln(u)/w per source), which weighted_doc_sample's Bernoulli spelling
    cannot give: that yields a random-SIZE sample, this yields exactly
    ES_K per stratum (fewer only if the stratum is smaller) with
    inclusion probability increasing in w. The training-mixture use is
    per-source quotas under quality weighting.

    Cross-engine exactness (why the classic u^(1/w) float form became
    checkable): u derives from md5 (identical both engines; +1 keeps
    u in (0,1], since ln 0 = -inf), the exponential variate -ln(u) is
    frozen ONCE per doc to integer micro-nats, and the sort key is the
    exact-integer / integer IEEE quotient e_micro/w with a doc_id
    tie-break — a deterministic total order, same discipline as
    dsir_importance_weights / adamic_adar.

    Scale shape: hash, freeze, and weight are map-side; selection is
    one per-source window over (source)-hash-partitioned rows — the
    bottom-k-per-group shape every top-k query here already uses,
    never a global sort. At 100 TB a pre-filter on e_micro/w against a
    per-source k-th-key sketch would cut the window input; the window
    spelling is the semantics."""
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":es"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    w = F.least(F.lit(3), 1 + (F.col("n_chars") / 500).cast("long"))
    keyed = t["documents"].select(
        "doc_id",
        "source",
        w.alias("w"),
        F.round(-F.log((h + 1) / F.lit(_TWO60_F)) * 1e6)
        .cast("bigint")
        .alias("e_micro"),
    )
    key = F.col("e_micro").cast("double") / F.col("w")
    return (
        keyed.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    key.asc(), F.col("doc_id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= ES_K)
        .select("source", "doc_id", "w", "e_micro", "rk")
    )


ES_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         LEAST(3, 1 + n_chars // 500) AS w,
         CAST(round(-ln(CAST(CAST(('0x' ||
                substr(md5(CAST(doc_id AS VARCHAR) || ':es'), 1, 15))
                AS BIGINT) + 1 AS DOUBLE) / {_TWO60_F!r}) * 1e6)
              AS BIGINT) AS e_micro
  FROM documents
),
ranked AS (
  SELECT source, doc_id, w, e_micro,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(e_micro AS DOUBLE) / w, doc_id
         ) AS rk
  FROM keyed
)
SELECT source, doc_id, w, e_micro, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {ES_K}
"""


# --- X4: data repair — group-mode imputation with held-out eval --------------
IMPUTE_MASK_MOD = 10  # mask 1/10th of labels deterministically


def impute_lang_eval(t: Tables) -> DataFrame:
    """Imputation-quality evaluation for categorical repair: 10% of
    lang labels are MASKED by the reproducible-sampling hash
    (md5(doc_id) mod 10 == 0), the per-source majority lang (count
    desc, lang asc — total-order tie-break) is learned from the
    UNMASKED rows only, and masked rows are scored against their true
    label — the evaluate-before-you-repair discipline for pipeline
    backfills. Per source: masked count, correct count, exact-division
    accuracy.

    Scale shape: the mode table is one keyed agg + a vocabulary-sized
    window, broadcast back to the masked rows; nothing shuffles twice.
    """
    from pyspark.sql.window import Window

    masked_flag = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10) % IMPUTE_MASK_MOD == 0
    )
    docs = t["documents"].select("doc_id", "source", "lang",
                                 masked_flag.alias("is_masked"))
    modes = (
        docs.filter(~F.col("is_masked"))
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("n").desc(), F.col("lang").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("mode_lang"))
    )
    return (
        docs.filter(F.col("is_masked"))
        .join(F.broadcast(modes), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_masked"),
            F.sum(
                F.when(F.col("lang") == F.col("mode_lang"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.col("n_correct").cast("double") / F.col("n_masked").cast("double"),
        )
    )


IMPUTE_LANG_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {IMPUTE_MASK_MOD} = 0 AS is_masked
  FROM documents
),
modes AS (
  SELECT source, lang AS mode_lang FROM (
    SELECT source, lang, COUNT(*) AS n,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY COUNT(*) DESC, lang ASC) AS rk
    FROM docs WHERE NOT is_masked GROUP BY source, lang
  ) WHERE rk = 1
)
SELECT d.source,
       COUNT(*) AS n_masked,
       CAST(SUM(CASE WHEN d.lang = m.mode_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN d.lang = m.mode_lang THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS accuracy
FROM docs d JOIN modes m USING (source)
WHERE d.is_masked
GROUP BY 1
"""


# --- X4: classifier-based quality filtering ----------------------------------
# Pinned linear-model weights (a stand-in for a trained fastText/logreg
# quality classifier — the standard classifier-filtering stage in data
# curation). Integer features × double weights: every product is one
# correctly-rounded IEEE op and the sum is an explicit left fold, so
# the score — and the keep decision at score >= 0 — is bit-identical
# cross-engine. Only the LINEAR score is emitted (sigmoid would drag in
# libm exp, which is not correctly rounded and may differ per engine;
# the sigmoid is monotone, so thresholding the linear score is the
# same classifier).
QUALITY_LOGIT_WEIGHTS = [
    ("bias", -2.0),
    ("n_tokens", 0.035),
    ("n_stop", 0.25),
    ("n_distinct", 0.015),
    ("n_nonalpha", -0.08),
]


def quality_classifier(t: Tables) -> DataFrame:
    """Classifier-based quality filter: integer per-doc features feed a
    pinned linear model; keep = score >= 0. Map-side only — model
    inference as a codegen'd column expression, no UDF, no ML runtime.

    Features (all exact ints): whitespace token count, stopword count,
    distinct-token count, non-[A-Za-z space] char count. Tokenization
    materialized once (CSE skips HOF subtrees — the shingles() lesson)."""
    toks = F.col("__w")
    feats = [
        F.lit(1).alias("bias"),
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda x: F.lower(x).isin(*textops.STOPWORDS))
        ).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[^A-Za-z ]", ""))
        ).alias("n_nonalpha"),
    ]
    base = (
        spread(t["documents"])
        .select("doc_id", "text", textops.tokens("text").alias("__w"))
        .select("doc_id", *feats)
    )
    score = None
    for name, w in QUALITY_LOGIT_WEIGHTS:
        term = F.col(name).cast("double") * F.lit(float(w))
        score = term if score is None else score + term
    return base.select(
        "doc_id",
        "n_tokens",
        "n_stop",
        "n_distinct",
        "n_nonalpha",
        score.alias("score"),
        (score >= 0.0).alias("keep"),
    )


def _logit_terms_sql() -> str:
    parts = []
    for name, w in QUALITY_LOGIT_WEIGHTS:
        parts.append(f"(CAST({name} AS DOUBLE) * ({float(w)!r}))")
    return " + ".join(parts)


QUALITY_CLASSIFIER_SQL = f"""
WITH f AS (
  SELECT doc_id,
         1 AS bias,
         CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
              AS INTEGER) AS n_tokens,
         CAST(len(list_filter(string_split(trim(text), ' '),
                              x -> x <> '' AND lower(x) IN ({_STOPS})))
              AS INTEGER) AS n_stop,
         CAST(len(list_distinct(list_filter(string_split(trim(text), ' '),
                                            x -> x <> '')))
              AS INTEGER) AS n_distinct,
         CAST(length(text)
              - length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
              AS INTEGER) AS n_nonalpha
  FROM documents
)
SELECT doc_id, n_tokens, n_stop, n_distinct, n_nonalpha,
       {_logit_terms_sql()} AS score,
       ({_logit_terms_sql()}) >= 0.0 AS keep
FROM f
"""


# --- X2: prefix-filtered (PPJoin-style) similarity join ----------------------
def prefix_jaccard(t: Tables) -> DataFrame:
    """X2: PPJoin prefix-filtered Jaccard pairs. Candidates: collisions
    of each doc's rarest |x| − ⌈0.8|x|⌉ + 1 shingles, lossless for the
    threshold. Metric: Jaccard >= 0.8 over every shingle (no df cap).
    The oracle is the full inverted index, so parity checks the
    prefix's completeness."""
    return dedup.prefix_jaccard_pairs(t["documents"])


PREFIX_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
         AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
      >= 0.8
"""


# --- X3: embedding outliers (distance to label centroid) ---------------------
OUTLIERS_PER_LABEL = 3


def embedding_outliers(t: Tables) -> DataFrame:
    """X3: per-label embedding OUTLIERS — the farthest vectors from
    their class centroid, the curation signal for mislabeled /
    off-distribution vectors before training a classifier head.

    Exactness discipline: centroids come from the label_centroids
    micro-unit integer sums (order-independent), the per-vector
    squared distance is an ARRAY FOLD over the dims in index order
    (zip_with + aggregate — NOT a SUM over exploded rows, whose
    accumulation order is partition-dependent), and every op on the
    path (int→double casts, /n, /1e6, subtract, multiply, add) is
    correctly rounded — so distances, and the (dist DESC, vec_id)
    top-3 ranking, are bit-identical cross-engine.

    Scale shape: centroids are a (labels × dims) dim table built with
    one keyed shuffle and broadcast back; the distance is map-side; the
    only other shuffle is the per-label top-k window over ranked rows.
    """
    from pyspark.sql.window import Window

    ex = spread(t["embeddings"]).select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.floor(F.col("x") * 1000000).cast("bigint"))
                .cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("c")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c"),
            ).alias("carr")
        )
    )
    v = t["embeddings"].select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("va")
    )
    dist = F.expr(
        "aggregate(zip_with(va, carr, (a, b) -> (a-b)*(a-b)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    ranked = (
        v.join(F.broadcast(cent), "label")
        .select("label", "vec_id", dist.alias("dist"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.col("dist").desc(), F.col("vec_id").asc()
                )
            ),
        )
    )
    return ranked.filter(F.col("rk") <= OUTLIERS_PER_LABEL).select(
        "label", "vec_id", "dist"
    )


EMBEDDING_OUTLIERS_SQL = f"""
WITH cent AS (
  SELECT label, i AS pos,
         CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
                       AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0 AS c
  FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
  GROUP BY 1, 2
),
carr AS (SELECT label, list(c ORDER BY pos) AS carr FROM cent GROUP BY 1),
v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS va
      FROM embeddings),
d AS (
  SELECT label, vec_id,
         list_reduce(
           list_transform(range(1, len(va) + 1),
                          i -> (va[i] - carr[i]) * (va[i] - carr[i])),
           (a, b) -> a + b) AS dist
  FROM v JOIN carr USING (label)
)
SELECT label, vec_id, dist FROM d
QUALIFY ROW_NUMBER() OVER (PARTITION BY label
                           ORDER BY dist DESC, vec_id ASC)
        <= {OUTLIERS_PER_LABEL}
"""


# --- X4: n-gram diversity (generative-data health metric) --------------------
def ngram_diversity(t: Tables) -> DataFrame:
    """X4: distinct-n-gram ratio for n ∈ {1,2,3} per source — the
    corpus diversity metric (low ratios = templated/repetitive data,
    the degenerate-generation signal self-BLEU approximates). All
    exact integer counts from one tokenized scan; ratio is a single
    correctly-rounded division."""
    toks = t["documents"].select(
        "source", F.col("doc_id"), textops.tokens("text").alias("w")
    )
    rows = [
        toks.select(
            "source", F.lit(n).alias("n"),
            F.explode(textops.ngrams("w", n)).alias("g"),
        )
        for n in (1, 2, 3)
    ]
    allg = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return (
        allg.groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.count_distinct("g").alias("distinct_ngrams"),
        )
        .withColumn(
            "diversity",
            F.col("distinct_ngrams").cast("double")
            / F.col("total_ngrams").cast("double"),
        )
    )


NGRAM_DIVERSITY_SQL = """
WITH toks AS (
  SELECT source, doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT source, 1 AS n, unnest(w) AS g FROM toks
  UNION ALL
  SELECT source, 2 AS n, w[i] || ' ' || w[i+1] AS g
  FROM toks, unnest(range(1, len(w))) AS t(i)
  UNION ALL
  SELECT source, 3 AS n, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
)
SELECT source, n, COUNT(*) AS total_ngrams,
       COUNT(DISTINCT g) AS distinct_ngrams,
       CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS diversity
FROM g GROUP BY 1, 2
"""


# --- X4: exact cross-source duplication matrix -------------------------------
def source_dup_matrix(t: Tables) -> DataFrame:
    """X4: exact shared-content matrix between sources — for each
    source pair, how many distinct fingerprints appear in BOTH (the
    exact companion to source_overlap's MinHash estimate). The pair
    kernel (``analytics.pair_stream``) collects each fingerprint's
    distinct sources, so the pairs come from governance-sized sets,
    not from the corpus."""
    fp = t["documents"].select("source", F.md5("text").alias("fp"))
    return (
        pair_stream(fp, ["fp"], "source", "source_a", "source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


SOURCE_DUP_MATRIX_SQL = """
WITH fp AS (SELECT DISTINCT source, md5(text) AS fp FROM documents)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
"""


# --- X4: corpus distribution drift (integer-exact TVD) -----------------------
DRIFT_BUCKET_WIDTH = 200


def corpus_drift(t: Tables) -> DataFrame:
    """X4: length-distribution DRIFT between the historical corpus and
    the new batch (the same hash split as novel_docs): per-bucket doc
    shares plus the total-variation distance. TVD's float spelling
    (Σ|p−q|/2) sums doubles in partition order; here the numerator is
    the exact integer Σ_b |n1_b·N2 − n2_b·N1| (order-free), and the
    single division by 2·N1·N2 happens once at the end — drift is
    bit-exact, scale-independent, and mergeable."""
    buck = (F.col("n_chars") / DRIFT_BUCKET_WIDTH).cast("long").alias("bucket")
    side = F.when(_split_expr() < 8, F.lit("hist")).otherwise(F.lit("new"))
    counts = (
        t["documents"]
        .select(buck, side.alias("side"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("side") == "hist", 1).otherwise(0)).alias("n_hist"),
            F.sum(F.when(F.col("side") == "new", 1).otherwise(0)).alias("n_new"),
        )
    )
    totals = counts.agg(
        F.sum("n_hist").alias("N1"), F.sum("n_new").alias("N2")
    )
    j = counts.crossJoin(F.broadcast(totals))
    term = F.abs(F.col("n_hist") * F.col("N2") - F.col("n_new") * F.col("N1"))
    return (
        j.groupBy("N1", "N2")
        .agg(F.sum(term).alias("tvd_num"))
        .select(
            F.col("N1").alias("n_hist_total"),
            F.col("N2").alias("n_new_total"),
            "tvd_num",
            (
                F.col("tvd_num").cast("double")
                / (2.0 * F.col("N1") * F.col("N2")).cast("double")
            ).alias("tvd"),
        )
    )


CORPUS_DRIFT_SQL = f"""
WITH sides AS (
  SELECT n_chars // {DRIFT_BUCKET_WIDTH} AS bucket,
         CASE WHEN {_SPLIT_SQL} < 8 THEN 'hist' ELSE 'new' END AS side
  FROM documents
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN side = 'hist' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hist,
         CAST(SUM(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new
  FROM sides GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(n_hist) AS BIGINT) AS N1,
         CAST(SUM(n_new) AS BIGINT) AS N2
  FROM counts
)
SELECT N1 AS n_hist_total, N2 AS n_new_total,
       CAST(SUM(abs(n_hist * N2 - n_new * N1)) AS BIGINT) AS tvd_num,
       CAST(SUM(abs(n_hist * N2 - n_new * N1)) AS DOUBLE)
         / CAST(2.0 * N1 * N2 AS DOUBLE) AS tvd
FROM counts CROSS JOIN totals
GROUP BY N1, N2
"""


# --- X2: asymmetric containment pairs ----------------------------------------
CONTAIN_DF_DIV = 5  # shingles in more than 1/5 of docs are cut (skew/noise)
# Postings-side cap for the DIRECTED containment block: the contained
# side's rarest-10 prefix joins b's rarest-CONTAIN_POST_R postings
# instead of b's FULL posting list. Restricting postings to df>=2 first
# is LOSSLESS (a prefix shingle has df>=2, so a df=1 posting can never
# collide), and the rank cap is recall-measured: 50/50 (sf0.01 fixed)
# and 46/46 (sf0.1z Zipf) at every R in {16,24,32,48,64} — 24 carries
# 50% margin over the smallest full-recall cap. Without it the blocking
# join enumerates prefix x full-postings slots, which saturates at
# fixed vocab (sf10: budget_exceeded at 420 s).
#
# A fixed absolute rank cap alone is blind to the large-superset shape
# the query exists to find: a big doc b with more than R df>=2 shingles
# globally rarer than a contained doc a's prefix pushes every witness
# out of b's kept postings. The cap therefore has a SIZE-AWARE RESCUE
# BAND: b also keeps ranks up to ceil(n_df2_b / CONTAIN_POST_DIV), but
# ONLY for shingles with df <= CONTAIN_RESCUE_DF. The df bound is what
# makes the band scale-safe: every rescue posting's list is <= RESCUE_DF
# long, so the added block cost is <= PREFIX_R·RESCUE_DF per rescue
# shingle — LINEAR in corpus size, never df-quadratic. On realistic
# (Zipf/Heaps) corpora a contained doc's rarest-10 prefix has df≈2–3,
# squarely inside the band (pinned fixture:
# tests/test_text_ops.py::test_containment_capped_large_superset). On
# the saturated fixed-vocab axis no shingle has df<=8, so the band is
# empty and the cost is the fixed cap's. Without the df bound the band
# blew a 1300 s budget with 27 GB of block-join spill at sf10: rank-only
# size-awareness adds high-df postings exactly where df stops
# discriminating.
# The residual out-of-contract shape — b's noise shingles ALL strictly
# rarer than every one of a's, pushing a's witnesses into the last
# (1-1/DIV) tail — is demonstrated by the companion adversarial pin;
# no o(|b|) postings cap can cover it (the pigeonhole-lossless prefix
# for containment needs b's FULL postings, which is the exact operator
# that crashes at saturated vocab).
CONTAIN_POST_R = 24
CONTAIN_POST_DIV = 4
CONTAIN_RESCUE_DF = 8


def _containment_kept(t: Tables) -> DataFrame:
    """(doc_id, shingle): each doc's distinct word 3-gram shingles minus
    the ubiquitous ones (df · CONTAIN_DF_DIV > n_docs), the shingle
    space both containment queries score on. Checkpointed, so every
    consumer (sizes, df, ranks, both join sides) rereads it instead of
    Catalyst re-deriving scan→tokenize→shingle→distinct→df-prune per
    consumer."""
    sh = (
        spread(t["documents"])
        .select("doc_id", textops.tokens("text").alias("w"))
        .select("doc_id", F.explode(textops.ngrams("w", 3)).alias("shingle"))
        .distinct()
    )
    n_docs = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    heavy = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * CONTAIN_DF_DIV > F.col("n_docs"))
        .select("shingle")
    )
    return sh.join(F.broadcast(heavy), "shingle", "left_anti").localCheckpoint()


def _contained(counts: DataFrame) -> DataFrame:
    """``(doc_a, doc_b, n_common, n_a, containment)`` of the
    :func:`dedup.overlap_counts` rows where doc_a lies at least half
    inside doc_b: the exact integer test 2·n_inter >= n_a."""
    return counts.filter(F.col("n_inter") * 2 >= F.col("n_a")).select(
        "doc_a", "doc_b", F.col("n_inter").alias("n_common"), "n_a",
        (F.col("n_inter").cast("double")
         / F.col("n_a").cast("double")).alias("containment"),
    )


def containment_pairs(t: Tables) -> DataFrame:
    """X2: directed shingle-containment pairs. Candidates: every pair
    sharing a shingle of the relative-df-cut space (the full inverted
    index). Metric: containment |S(a) ∩ S(b)| / |S(a)| >= 0.5 as the
    integer test 2·n_inter >= n_a; (a in b) and (b in a) are separate
    rows. Containment finds a short doc wholly inside a long one, which
    Jaccard's union term hides."""
    counts = dedup.overlap_counts(_containment_kept(t))
    # each doc_a < doc_b row tests both directions: one pass, no union
    directed = F.inline(F.array(
        F.struct("doc_a", "doc_b", "n_a"),
        F.struct(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"),
                 F.col("n_b").alias("n_a")),
    ))
    return _contained(counts.select("n_inter", directed))


CONTAINMENT_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       FROM idx),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
dfc AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
kept AS (
  SELECT sh.doc_id, sh.s FROM sh
  JOIN dfc USING (s) CROSS JOIN tot
  WHERE dfc.df * {CONTAIN_DF_DIV} <= tot.n_docs
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, sizes.n_sh AS n_a,
       CAST(n_common AS DOUBLE) / CAST(sizes.n_sh AS DOUBLE) AS containment
FROM inter JOIN sizes ON inter.doc_a = sizes.doc_id
WHERE n_common * 2 >= sizes.n_sh
"""


def containment_pairs_capped(t: Tables) -> DataFrame:
    """X2': scale-safe twin of :func:`containment_pairs`. Candidates:
    directed blocks (a in b) sharing >= min(2, |prefix_a|) shingles
    between a's rarest-NGRAM_PREFIX_R prefix and b's df>=2 postings
    capped at CONTAIN_POST_R ranks plus the rescue band, behind the
    lossless length filter 2·n_b >= n_a. The block is directed because
    containment's witness lives on the contained side (a symmetric
    prefix×prefix block measured 32/46 recall at sf0.1z, the directed
    one 46/46). Metric: the same integer test 2·n_inter >= n_a on the
    same space, so capped ⊆ exact; recall is pinned in pytest."""
    kept = _containment_kept(t)
    ranked = dedup.rarest_ranks(kept).localCheckpoint()
    pref = ranked.filter(
        F.col("rk") <= dedup.NGRAM_PREFIX_R
    ).select("doc_id", "shingle")
    # b's side of the block: df>=2 postings, rarest-CONTAIN_POST_R
    # ranks, PLUS the df-bounded size-aware rescue band (ranks up to
    # n_rk/CONTAIN_POST_DIV for df<=CONTAIN_RESCUE_DF shingles — see
    # the constants' comment for the recall argument, the linear cost
    # bound, and the out-of-contract adversarial residue).
    nrk = ranked.groupBy("doc_id").agg(F.max("rk").alias("n_rk"))
    post = (
        ranked.join(nrk, "doc_id")
        .filter(
            (F.col("rk") <= CONTAIN_POST_R)
            | (
                (F.col("df") <= CONTAIN_RESCUE_DF)
                & (
                    F.col("rk")
                    <= F.ceil(
                        F.col("n_rk") / CONTAIN_POST_DIV
                    ).cast("int")
                )
            )
        )
        .select("doc_id", "shingle")
    )
    pn = pref.groupBy("doc_id").agg(F.count(F.lit(1)).alias("pn"))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Lossless length filter INSIDE the block join: containment >= 0.5
    # forces n_common >= n_a/2 and n_common <= n_b, so 2·n_b >= n_a —
    # a candidate violating it can never pass the verify step.
    # Applied at shingle level so the pair aggregate never sees it.
    cand = (
        pref.join(sizes, "doc_id")
        .select(F.col("doc_id").alias("doc_a"), "shingle",
                F.col("n_sh").alias("lf_a"))
        .join(
            post.join(sizes, "doc_id").select(
                F.col("doc_id").alias("doc_b"), "shingle",
                F.col("n_sh").alias("lf_b"),
            ),
            "shingle",
        )
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("lf_b") * 2 >= F.col("lf_a"))
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(
            pn.select(F.col("doc_id").alias("doc_a"),
                      F.col("pn").alias("pn_a")),
            "doc_a",
        )
        .filter(
            F.col("n_shared")
            >= F.least(F.lit(dedup.NGRAM_MIN_SHARED), F.col("pn_a"))
        )
        .select("doc_a", "doc_b")
    )
    return _contained(dedup.overlap_counts(kept, cand))


# The twin's multi-referenced CTEs carry MATERIALIZED hints: DuckDB
# inlines plain CTEs per reference, and with kept referenced 4x (each
# re-running the shingle pipeline) the monolithic query re-executed the
# scan tree combinatorially - measured >2400 s at sf1 where the same
# pipeline through temp tables (or with the hints) runs in ~5 s for the
# identical 162 rows. Hints change execution, not semantics.
CONTAINMENT_PAIRS_CAPPED_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
sh AS MATERIALIZED (
       SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       FROM idx),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
dfc AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
kept AS MATERIALIZED (
  SELECT sh.doc_id, sh.s FROM sh
  JOIN dfc USING (s) CROSS JOIN tot
  WHERE dfc.df * {CONTAIN_DF_DIV} <= tot.n_docs
),
dfk AS (SELECT s, COUNT(*) AS df FROM kept GROUP BY 1),
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
ranked AS MATERIALIZED (
  SELECT k.doc_id, k.s, d.df,
         ROW_NUMBER() OVER (
           PARTITION BY k.doc_id ORDER BY d.df, k.s) AS rk
  FROM kept k JOIN dfk d USING (s)
  WHERE d.df >= 2
),
pref AS (SELECT doc_id, s FROM ranked WHERE rk <= {dedup.NGRAM_PREFIX_R}),
nrk AS (SELECT doc_id, MAX(rk) AS n_rk FROM ranked GROUP BY 1),
post AS (
  SELECT r.doc_id, r.s FROM ranked r JOIN nrk USING (doc_id)
  WHERE r.rk <= {CONTAIN_POST_R}
     OR (r.df <= {CONTAIN_RESCUE_DF}
         AND r.rk <= CAST(CEIL(n_rk / {CONTAIN_POST_DIV}.0) AS BIGINT))
),
pn AS (SELECT doc_id, COUNT(*) AS pn FROM pref GROUP BY 1),
cand AS (
  SELECT g.doc_a, g.doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM pref a
    JOIN sizes sa ON sa.doc_id = a.doc_id
    JOIN post b ON a.s = b.s AND a.doc_id <> b.doc_id
    JOIN sizes sb ON sb.doc_id = b.doc_id
    WHERE sb.n_sh * 2 >= sa.n_sh
    GROUP BY 1, 2
  ) g
  JOIN pn na ON g.doc_a = na.doc_id
  WHERE g.n_shared >= LEAST({dedup.NGRAM_MIN_SHARED}, na.pn)
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN kept a ON a.doc_id = c.doc_a
  JOIN kept b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, sizes.n_sh AS n_a,
       CAST(n_common AS DOUBLE) / CAST(sizes.n_sh AS DOUBLE) AS containment
FROM inter JOIN sizes ON inter.doc_a = sizes.doc_id
WHERE n_common * 2 >= sizes.n_sh
"""


# --- X2: affix (tail→head) stitching pairs -----------------------------------
AFFIX_K = 4


def affix_overlap(t: Tables) -> DataFrame:
    """X2: document-stitching detection — doc_a's LAST 4 tokens equal
    doc_b's FIRST 4 tokens, the signature of one source text split
    across records (crawler pagination, chunked exports). Neither
    Jaccard nor containment sees a 4-token seam; this is the targeted
    probe.

    Scale shape: one narrow map pass computes a head and a tail
    fingerprint per document; candidates come from an equi-join of
    tail-fp to head-fp (hash-partitioned on the fingerprint, fan-out
    bounded by affix-value frequency). Docs shorter than 2k tokens are
    excluded so head and tail never overlap within one document."""
    toks = spread(t["documents"]).select(
        "doc_id", textops.tokens("text").alias("w")
    ).filter(F.size("w") >= 2 * AFFIX_K)
    hx = toks.select(
        "doc_id",
        F.concat_ws(" ", F.slice("w", 1, AFFIX_K)).alias("head"),
        F.concat_ws(
            " ", F.slice("w", -AFFIX_K, AFFIX_K)
        ).alias("tail"),
    )
    a = hx.select(F.col("doc_id").alias("doc_a"), F.col("tail").alias("affix"))
    b = hx.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("affix"))
    return (
        a.join(b, "affix")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "affix")
    )


AFFIX_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
),
hx AS (
  SELECT doc_id,
         array_to_string(w[1:{AFFIX_K}], ' ') AS head,
         array_to_string(w[-{AFFIX_K}:], ' ') AS tail
  FROM toks WHERE len(w) >= {2 * AFFIX_K}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail AS affix
FROM hx a JOIN hx b ON a.tail = b.head AND a.doc_id <> b.doc_id
"""


# --- X4: unigram surprisal (perplexity-proxy quality score) ------------------
def unigram_surprisal(t: Tables) -> DataFrame:
    """X4: per-document mean unigram surprisal −ln p(tok) under the
    corpus's own unigram distribution — the cheapest member of the
    perplexity-filter family (docs of nothing but ubiquitous tokens
    score near 0; rare-token soup scores high). A real LM filter swaps
    the probability table; the pipeline shape is identical.

    Cross-engine exactness: ln is transcendental (last-ulp libm
    differences between JVM and C are real), so each token's surprisal
    is frozen to an INTEGER micro-nat value — round(ln(N/cnt)·1e6) —
    once per VOCAB entry; per-doc sums are then exact integer sums
    (order-free under any partitioning) and the final mean is a single
    identically-spelled double division rounded to 6 dp.

    Scale shape: the surprisal table is vocabulary-sized and joins the
    token stream on tok (hash join; Spark broadcasts while the vocab
    fits and AQE falls back to shuffle when it doesn't — nothing here
    pins a strategy); the corpus total is a 1-row scalar broadcast."""
    toks = spread(t["documents"]).select(
        "doc_id", F.explode(textops.tokens("text")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    table = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(
            F.log(F.col("n_total").cast("double")
                  / F.col("cnt").cast("double")) * 1e6
        ).cast("bigint").alias("micro_nats"),
    )
    return (
        toks.join(table, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("micro_nats").alias("sum_micro"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("sum_micro").cast("double")
                / (F.col("n_tokens").cast("double") * 1e6),
                6,
            ).alias("mean_surprisal"),
        )
    )


UNIGRAM_SURPRISAL_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT SUM(cnt) AS n_total FROM vocab),
tbl AS (
  SELECT tok,
         CAST(round(ln(CAST(n_total AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1e6)
              AS BIGINT) AS micro_nats
  FROM vocab CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(micro_nats) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS mean_surprisal
FROM toks JOIN tbl USING (tok)
GROUP BY 1
"""


# --- X4: Zipf slope per source (corpus-shape governance) ---------------------
ZIPF_TOP = 100


def zipf_slope(t: Tables) -> DataFrame:
    """X4: least-squares slope of ln(freq) on ln(rank) over each
    source's top-100 tokens — natural text sits near −1; templated or
    machine-generated sources drift toward 0 (flat head) or below −1.5
    (degenerate repetition). A one-number corpus-shape alarm per
    source.

    Cross-engine exactness: both regression coordinates are frozen to
    integer micro-nats (round(ln·1e6)) per (source, rank) row, the
    four moment sums accumulate as exact BIGINTs (worst case n·x·y ≈
    100·4.6e6·2e7 ≈ 1e16 — far inside BIGINT), and the closed-form
    slope is one identically-spelled double expression rounded to
    6 dp. Rank order is total (count desc, token asc).

    Scale shape: token counting is the only corpus-sized shuffle; the
    rank window and moment aggregation run on the top-100-per-source
    frame (governance-sized)."""
    from pyspark.sql.window import Window

    cnts = (
        spread(t["documents"])
        .select("source", F.explode(textops.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    )
    top = (
        cnts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_TOP)
        .select(
            "source",
            F.round(F.log(F.col("rank").cast("double")) * 1e6)
            .cast("bigint").alias("x"),
            F.round(F.log(F.col("cnt").cast("double")) * 1e6)
            .cast("bigint").alias("y"),
        )
    )
    n = F.count(F.lit(1))
    slope = (
        (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("double")
        / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("double")
    )
    return top.groupBy("source").agg(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
    )


ZIPF_SLOPE_SQL = f"""
WITH cnts AS (
  SELECT source, tok, COUNT(*) AS cnt
  FROM (
    SELECT source,
           unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
             AS tok
    FROM documents
  )
  GROUP BY 1, 2
),
ranked AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tok ASC) AS rank,
         cnt
  FROM cnts
),
pts AS (
  SELECT source,
         CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM ranked WHERE rank <= {ZIPF_TOP}
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
       round(
         CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
         / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE),
         6) AS zipf_slope
FROM pts GROUP BY 1
"""


# --- X4: k-anonymity audit (privacy governance) ------------------------------
KANON_K = 5
KANON_BUCKET = 100


def k_anonymity_audit(t: Tables) -> DataFrame:
    """X4: k-anonymity over the quasi-identifier (lang, source,
    length-bucket): every combination carried by fewer than k=5
    documents is a re-identification risk the release checklist must
    see. Output is the violating groups with their sizes (the
    suppression worklist).

    Scale shape: one keyed aggregation over the corpus — the group-by
    IS the audit; no joins, no windows. At 100 TB the violating-group
    output is tiny by construction (every row has count < k)."""
    return (
        t["documents"]
        .groupBy(
            "lang",
            "source",
            (F.floor(F.col("n_chars") / KANON_BUCKET))
            .cast("bigint")
            .alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < KANON_K)
    )


K_ANONYMITY_SQL = f"""
SELECT lang, source,
       CAST(floor(n_chars / {KANON_BUCKET}) AS BIGINT) AS len_bucket,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1, 2, 3
HAVING COUNT(*) < {KANON_K}
"""


# --- X4: temperature-scaled mixture weights ----------------------------------
def mixture_temperature_weights(t: Tables) -> DataFrame:
    """X4: per-source sampling weights under temperature α = 0.5 —
    w_i = √n_i / Σ_j √n_j — the standard multilingual/multi-source
    rebalancing rule (upweights small sources, tempers large ones).
    mixture_resample_docs consumes rates like these; this query is the
    stage that PRODUCES them from corpus counts.

    Cross-engine exactness: sqrt is IEEE-correctly-rounded (unlike
    ln/exp/pow), but a float SUM over sources is order-dependent — so
    each √n_i is frozen to an integer micro-unit and the denominator
    accumulates as an exact BIGINT; each weight is then one
    identically-spelled double division. Also emits boost = w_i/p_i
    (relative up/down-sampling factor vs the natural proportion p_i)
    as a product of two such divisions — no big-int cross product, so
    no overflow ceiling at any corpus size.

    Scale shape: one keyed agg over the corpus; everything after runs
    on the source-cardinality frame with a 1-row denominator
    broadcast."""
    counts = t["documents"].groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    s = F.round(F.sqrt(F.col("n_docs").cast("double")) * 1e6).cast("bigint")
    scaled = counts.select("source", "n_docs", s.alias("s_micro"))
    denom = scaled.agg(
        F.sum("s_micro").alias("s_total"), F.sum("n_docs").alias("n_total")
    )
    return (
        scaled.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("s_micro").cast("double")
                / F.col("s_total").cast("double"),
                6,
            ).alias("weight"),
            F.round(
                (F.col("s_micro").cast("double")
                 / F.col("s_total").cast("double"))
                * (F.col("n_total").cast("double")
                   / F.col("n_docs").cast("double")),
                6,
            ).alias("boost"),
        )
    )


MIXTURE_TEMPERATURE_SQL = """
WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
scaled AS (
  SELECT source, n_docs,
         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS s_micro
  FROM counts
),
denom AS (SELECT SUM(s_micro) AS s_total, SUM(n_docs) AS n_total FROM scaled)
SELECT source, n_docs,
       round(CAST(s_micro AS DOUBLE) / CAST(s_total AS DOUBLE), 6) AS weight,
       round((CAST(s_micro AS DOUBLE) / CAST(s_total AS DOUBLE))
             * (CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
         AS boost
FROM scaled CROSS JOIN denom
"""


# --- X3: per-dimension embedding statistics ----------------------------------
def embedding_dim_stats(t: Tables) -> DataFrame:
    """X3: per-dimension mean / variance / extremes over the embedding
    matrix — the vector-QA card that catches dead dimensions (zero
    variance), mis-scaled encoders, and train/serve skew before any
    ANN index is built on the column.

    Cross-engine exactness: each float component is frozen to an
    integer micro-unit once (float→double widening is exact; one
    identically-rounded multiply+round); the first moment sums as an
    exact BIGINT and the second as an exact DECIMAL(38,0) (DuckDB's
    BIGINT sum widens to HUGEINT — both 100%-exact, order-free, and
    the Σm² ceiling moves from ~9e18 to 1e38, i.e. no practical vector
    count hits it). mean/variance are then identically-spelled double
    expressions (var = E[m²] − mean², same op order both engines);
    min/max are exact on the raw doubles (no arithmetic).

    Scale shape: posexplode fans out inside the scan stage (no
    pre-shuffle); the single aggregation is keyed on the 64-value
    dimension index — each reducer sees one dimension's stream, the
    classic column-profile shape."""
    comp = t["embeddings"].select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim",
        F.col("v").cast("double").alias("v"),
        F.round(F.col("v").cast("double") * 1e6).cast("bigint").alias("m"),
    )
    n = F.count(F.lit(1))
    mean = F.sum("m").cast("double") / (n.cast("double") * 1e6)
    sum_sq = F.sum((F.col("m") * F.col("m")).cast("decimal(38,0)"))
    var = (
        sum_sq.cast("double") / n.cast("double") / 1e12
        - mean * mean
    )
    return comp.groupBy("dim").agg(
        n.cast("bigint").alias("n_vecs"),
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


EMBEDDING_DIM_STATS_SQL = """
WITH raw AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         unnest(embedding) AS val
  FROM embeddings
),
comp AS (
  SELECT dim, CAST(val AS DOUBLE) AS v,
         CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT) AS m
  FROM raw
)
SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(CAST(SUM(m) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6)
         AS mean,
       round(CAST(SUM(m * m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e12
             - (CAST(SUM(m) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6))
               * (CAST(SUM(m) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6)),
             6) AS variance,
       MIN(v) AS min_v, MAX(v) AS max_v
FROM comp GROUP BY 1
"""


# --- X3/X4: BM25 ranking (classic lexical retrieval) -------------------------
# The registered queries derive their terms from the corpus (see
# corpus_query_terms): fixed literals return 0 rows on any corpus whose
# vocabulary lacks them (a Zipf corpus, sf1z census).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_TERMS = 3


def corpus_query_terms(docs: DataFrame, n: int = BM25_N_TERMS) -> list[str]:
    """Deterministic corpus-derived retrieval terms: the n tokens whose
    document frequency is closest to 10% of the corpus (ties broken by
    md5(tok) then tok — a total order), in that selection order. The
    rule is pure integer/hash arithmetic, so the DuckDB twins spell the
    IDENTICAL selection in SQL and the parity row certifies it.

    Scale shape: df counts are one keyed agg over the token stream; the
    pick is TakeOrdered(n) (per-partition heads merged on the driver —
    no global sort shuffle); the n strings then feed a map-side literal
    scoring plan exactly like a user-typed query would. The pick is
    memoized per run (``dedup.run_memo``)."""

    def pick() -> list[str]:
        n_docs = docs.count()
        dfc = (
            docs.select("doc_id", F.explode(textops.tokens("text")).alias("tok"))
            .groupBy("tok")
            .agg(F.count_distinct("doc_id").alias("df"))
        )
        rows = (
            dfc.orderBy(
                F.abs(F.col("df") * 10 - F.lit(n_docs)).asc(),
                F.md5("tok").asc(),
                F.col("tok").asc(),
            )
            .limit(n)
            .collect()
        )
        return [r["tok"] for r in rows]

    return dedup.run_memo(docs, ("query_terms", n), pick)


def hash_picked_ids(df: DataFrame, id_col: str, n: int) -> list[int]:
    """Deterministic corpus-derived anchor ids: the n ids ranked by
    (md5(id-as-string), id) — a content-independent but data-derived
    sample, so anchor sets exist and are non-degenerate on ANY corpus
    axis (the old `id < n` spelling silently assumed dense ids from 0).
    TakeOrdered(n) + an n-int driver collect, memoized per run."""

    def pick() -> list[int]:
        rows = (
            df.select(id_col)
            .orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
            .limit(n)
            .collect()
        )
        return [r[0] for r in rows]

    return dedup.run_memo(df, ("hash_pick", id_col, n), pick)


# SQL spelling of the two pickers (shared by every retrieval twin)
def _qterms_cte(n: int = BM25_N_TERMS) -> str:
    return f"""
qtoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
qtot AS (SELECT COUNT(*) AS n_docs FROM documents),
qdfc AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qtoks GROUP BY 1),
qterms AS (
  SELECT tok, qi FROM (
    SELECT tok,
           CAST(row_number() OVER (
             ORDER BY ABS(df * 10 - n_docs), md5(tok), tok
           ) AS INTEGER) AS qi
    FROM qdfc CROSS JOIN qtot
  ) WHERE qi <= {n}
)"""


def _anchors_cte(table: str, id_col: str, n: int, name: str = "anch") -> str:
    return (
        f"{name} AS (SELECT {id_col} FROM {table} "
        f"ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {n})"
    )


def _bm25_scored(t: Tables, query: tuple[str, ...] | None = None):
    """Shared scorer for bm25_topk / hybrid_rrf: per-doc raw BM25 over
    the 3-term query (corpus-derived by default), computed entirely
    MAP-SIDE — per-term tf
    and doc length come from array ops on the token array (no explode,
    no inverted index, no join); the only non-map work is the 1-row
    corpus-stats aggregate broadcast back for idf/avgdl. At 100 TB the
    stats row comes from catalog statistics instead and the scan is
    unchanged — scoring stays embarrassingly parallel.

    Cross-engine exactness: idf is transcendental (ln) so it is frozen
    to integer micro-nats per term; every other factor is a division /
    multiply chain spelled identically in both engines, and the three
    term scores are added in FIXED textual order — no aggregation-order
    ambiguity anywhere. The twin computes per-term tf by JOINING the
    token stream against its qterms CTE (it cannot hold literals it
    hasn't derived); count-of-equal-elements and join-group-count are
    the same integer, so the spellings agree exactly."""
    if query is None:
        query = tuple(corpus_query_terms(t["documents"]))
    w = F.col("__w")

    def _matches(term: str):
        # single-arg lambda factory: a default-arg closure would give the
        # lambda arity 2, which F.filter interprets as (element, index)
        return lambda x: x == F.lit(term)

    # no spread(): the per-row work is three array filters — cheap even
    # single-partition locally, and at scale the scan is already wide.
    # Keeping the scan un-repartitioned is what makes "map-side" true.
    # Tokenization materialized once instead of once per term filter
    # (CSE skips HOF subtrees — the shingles() lesson).
    base = t["documents"].select(
        "doc_id", textops.tokens("text").alias("__w")
    ).select(
        "doc_id",
        F.size(w).alias("dl"),
        *[
            F.size(F.filter(w, _matches(q))).alias(f"tf{i}")
            for i, q in enumerate(query)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("n_toks"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(query))
        ],
    )
    avgdl = F.col("n_toks").cast("double") / F.col("n_docs").cast("double")
    terms = []
    for i in range(len(query)):
        idf_micro = (
            F.round(
                F.log(
                    (F.col("n_docs").cast("double")
                     - F.col(f"df{i}").cast("double") + 0.5)
                    / (F.col(f"df{i}").cast("double") + 0.5)
                ) * 1e6
            ).cast("bigint")
        )
        tf = F.col(f"tf{i}").cast("double")
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0) - F.lit(BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
        terms.append(
            (idf_micro.cast("double") / F.lit(1e6))
            * ((tf * F.lit(BM25_K1 + 1.0)) / denom)
        )
    score = terms[0] + terms[1] + terms[2]
    return (
        base.crossJoin(F.broadcast(stats))
        .filter((F.col("tf0") + F.col("tf1") + F.col("tf2")) > 0)
        .select("doc_id", score.alias("score_raw"))
    )


def bm25_topk(t: Tables, query: tuple[str, ...] | None = None) -> DataFrame:
    """X3/X4: top-10 documents by Okapi BM25 (k1=1.2, b=0.75) for the
    corpus-derived 3-term query (see corpus_query_terms; unit tests
    pass an explicit ``query`` to pin the scoring math) — the classic
    lexical-retrieval operator, scored map-side (see _bm25_scored).
    Global top-k runs as TakeOrdered (driver-merged per-partition
    heads, no global sort shuffle)."""
    return (
        _bm25_scored(t, query)
        .orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("score_raw", 6).alias("bm25"))
    )


_BM25_TERMS_SQL = []
for _i in range(BM25_N_TERMS):
    _BM25_TERMS_SQL.append(
        f"(CAST(CAST(round(ln((CAST(n_docs AS DOUBLE) - CAST(df{_i} AS DOUBLE)"
        f" + 0.5) / (CAST(df{_i} AS DOUBLE) + 0.5)) * 1e6) AS BIGINT)"
        f" AS DOUBLE) / 1e6)"
        f" * ((CAST(tf{_i} AS DOUBLE) * {BM25_K1 + 1.0})"
        f" / (CAST(tf{_i} AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B}"
        f" + {BM25_B} * (CAST(dl AS DOUBLE)"
        f" / (CAST(n_toks AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"
    )

# Twin tf computation is join-based (the SQL cannot hold literals it
# hasn't derived): per-(doc, qi) counts from qtoks ⋈ qterms, pivoted to
# the same tf0..tf2 columns the Spark literal plan produces. Counting
# equal array elements and counting joined token rows are the same
# integer, so the two spellings agree exactly.
_BM25_SCORED_CTE = f"""{_qterms_cte().strip()},
base AS (
  SELECT d.doc_id, d.dl,
         {", ".join(
            f"COALESCE(MAX(CASE WHEN qi = {i + 1} THEN tf END), 0) AS tf{i}"
            for i in range(BM25_N_TERMS)
         )}
  FROM (
    SELECT doc_id,
           len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
             AS dl
    FROM documents
  ) d
  LEFT JOIN (
    SELECT qt.doc_id, q.qi, COUNT(*) AS tf
    FROM qtoks qt JOIN qterms q USING (tok) GROUP BY 1, 2
  ) f ON d.doc_id = f.doc_id
  GROUP BY 1, 2
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS n_toks,
         {", ".join(
            f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
            for i in range(BM25_N_TERMS)
         )}
  FROM base
),
scored AS (
  SELECT doc_id,
         {" + ".join(_BM25_TERMS_SQL)} AS score_raw
  FROM base CROSS JOIN stats
  WHERE tf0 + tf1 + tf2 > 0
)
"""

BM25_TOPK_SQL = f"""
WITH {_BM25_SCORED_CTE.strip().lstrip()}
SELECT doc_id, round(score_raw, 6) AS bm25
FROM scored
ORDER BY score_raw DESC, doc_id ASC
LIMIT 10
"""


# --- X3: hybrid lexical+vector retrieval (reciprocal-rank fusion) ------------
RRF_K = 60
RRF_SHORTLIST = 100


def hybrid_rrf(
    t: Tables,
    query: tuple[str, ...] | None = None,
    anchor_id: int | None = None,
) -> DataFrame:
    """X3: reciprocal-rank fusion of a lexical shortlist (BM25 over the
    corpus-derived query — see corpus_query_terms) and a vector
    shortlist (cosine to the hash-picked anchor vector — see
    hash_picked_ids; unit tests pass explicit ``query``/``anchor_id``)
    — the standard two-tower hybrid-retrieval merge:
    rrf(d) = Σ_signals 1/(60 + rank_signal(d)), missing signal = 0.

    Rank-based fusion is what makes this cross-engine exact: ranks are
    integers from total orders (score desc, id asc — BM25 scores are
    bit-identical by construction, cosine rounded to 6 dp first), and
    the fused score is two small-integer divisions added in fixed
    order.

    Scale shape: each signal contributes a SHORTLIST (top-100 via
    TakeOrdered — per-partition heads merged on the driver, no global
    sort shuffle); ranking + fusion then run on 100-row frames. That
    is the production shape — fusion always consumes candidate lists,
    never corpus-wide rankings."""
    from pyspark.sql.window import Window

    lex_short = (
        _bm25_scored(t, query)
        .orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(RRF_SHORTLIST)
    )
    lex = lex_short.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("score_raw"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    emb = t["embeddings"]
    if anchor_id is None:
        # an empty corpus has no anchor: the vector side is empty and the
        # fusion is lexical only, the twin's full-outer-join answer
        anchor_id = next(iter(hash_picked_ids(emb, "vec_id", 1)), None)
    vec_short = similarity.brute_force_topk(emb, anchor_id, RRF_SHORTLIST)
    vec = vec_short.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
        .alias("vec_rank"),
    )
    rrf = (
        F.coalesce(
            F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("lex_rank").cast("double")),
            F.lit(0.0),
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("vec_rank").cast("double")),
            F.lit(0.0),
        )
    )
    return (
        lex.join(vec, "id", "full_outer")
        .select("id", "lex_rank", "vec_rank", rrf.alias("rrf_raw"))
        .orderBy(F.desc("rrf_raw"), F.asc("id"))
        .limit(10)
        .select(
            "id", "lex_rank", "vec_rank",
            F.round("rrf_raw", 6).alias("rrf"),
        )
    )


HYBRID_RRF_SQL = f"""
WITH {_BM25_SCORED_CTE.strip().lstrip()},
lex_short AS (
  SELECT doc_id, score_raw FROM scored
  ORDER BY score_raw DESC, doc_id ASC LIMIT {RRF_SHORTLIST}
),
lex AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY score_raw DESC, doc_id ASC) AS lex_rank
  FROM lex_short
),
{_anchors_cte("embeddings", "vec_id", 1, "vanch")},
qv AS (SELECT embedding AS query_vec, vec_id AS qid
       FROM embeddings JOIN vanch USING (vec_id)),
vec_short AS (
  SELECT vec_id,
         ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                      CAST(query_vec AS DOUBLE[])), 6) AS cos6
  FROM embeddings, qv
  WHERE vec_id <> qid
  ORDER BY cos6 DESC, vec_id ASC LIMIT {RRF_SHORTLIST}
),
vec AS (
  SELECT vec_id AS id,
         row_number() OVER (ORDER BY cos6 DESC, vec_id ASC) AS vec_rank
  FROM vec_short
),
fused AS (
  SELECT COALESCE(lex.id, vec.id) AS id, lex_rank, vec_rank,
         COALESCE(1.0 / ({RRF_K}.0 + CAST(lex_rank AS DOUBLE)), 0.0)
         + COALESCE(1.0 / ({RRF_K}.0 + CAST(vec_rank AS DOUBLE)), 0.0)
           AS rrf_raw
  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
)
SELECT id, lex_rank, vec_rank, round(rrf_raw, 6) AS rrf
FROM fused
ORDER BY rrf_raw DESC, id ASC
LIMIT 10
"""


# --- X3m: MMR diversified rerank (shortlist → greedy top-k) ------------------
MMR_SHORTLIST = 20
MMR_K = 5


def _desc_key(x: float | None) -> tuple:
    """Ascending sort key that orders doubles as Spark's (and DuckDB's)
    DESC does: NaN above every number, NULL last."""
    if x is None:
        return (2, 0.0)
    if math.isnan(x):
        return (0, 0.0)
    return (1, -x)


def _sql_max(xs) -> float | None:
    """SQL MAX over doubles: NULLs skipped, NaN above every number."""
    vals = [x for x in xs if x is not None]
    if not vals:
        return None
    return next((x for x in vals if math.isnan(x)), max(vals))


def mmr_rerank(t: Tables) -> DataFrame:
    """X3: Maximal Marginal Relevance rerank — the diversification stage a
    production retrieval stack runs AFTER candidate generation: from the
    cosine top-``MMR_SHORTLIST`` shortlist, greedily pick ``MMR_K`` items
    maximizing ``0.5·rel − 0.5·max_sim_to_already_picked`` (λ = 0.5).

    Scale shape: the corpus-wide work is exactly one broadcast scalar
    attach + TakeOrdered shortlist (same as ``cosine_topk``); the
    pairwise sims for the greedy stage are then computed by the engine
    in ONE job over the CHECKPOINTED 20-row frame (a shortlist²
    self-product — 380 rows, bounded by MMR_SHORTLIST², never
    corpus-sized) and collected; greedy pick SELECTION walks that
    matrix driver-side (bounded state, MLlib discipline). That is 3
    jobs a run (shortlist checkpoint, sim-matrix collect, final
    assembly); one ``.first()`` per greedy step took 11 jobs and 6.0 s
    wall at sf0.1, and chained per-step subplans took 22 jobs.

    Exactness discipline: every value in the OUTPUT is engine-computed
    — rel and all pairwise sims come from the collected matrix
    (quantized-integer cosine, engine-rounded), and each pick's final
    mmr is re-spelled in the terminal plan as
    ``round(0.5·rel − 0.5·lit(maxsim), 6)`` over those engine doubles
    (Python never ROUNDS an emitted value; it only max-selects among
    engine-rounded sims, which is exact). The driver-side greedy
    comparison reproduces the engine's 6-dp HALF_UP round via
    BigDecimal-equivalent decimal quantization; a seeded-random
    equivalence test pins the selection against the reference
    step-by-step loop (tests/test_text_ops.py).

    Cross-engine exactness: rel and every pairwise sim are the
    QUANTIZED-integer cosine (``similarity.cosine_exact`` — bit-identical
    in both engines by construction; the earlier float cosine agreed
    only to ~1 ulp, which the sf1z parity census caught straddling the
    6-dp rounding grid), rounded to 6 dp before the identically-spelled
    ``0.5·rel − 0.5·maxsim`` double arithmetic; ranks/tiebreaks are
    (score desc, vec_id asc). The oracle unrolls the same greedy loop
    as 5 chained CTEs over the same quantized spelling.

    Totality: a shortlist of fewer than ``MMR_K`` rows (0 and 1
    included) returns one pick per row. A zero-norm embedding has no
    cosine, so its rel and sims are NULL in both engines; the driver's
    pick key orders scores as the engines' DESC does (NaN first, NULL
    last).
    """
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    cand = (
        spread(emb)
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(
                similarity.cosine_exact(
                    F.col("embedding"), F.col("query_vec")
                ),
                6,
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_SHORTLIST)
        .localCheckpoint()  # 20 rows; sims + final assembly rescan it
    )
    # ONE engine job: the full pairwise sim matrix over the shortlist
    # (the same round(cosine_exact, 6) every greedy step evaluated —
    # cosine_exact quantizes both sides in-engine, the literal-vector
    # spelling it replaces quantized the collected side via
    # quantize_py, its exact driver twin). 380 rows collected.
    # LEFT join: every shortlist row appears at least once (vb NULL
    # when it has no partner), so a 1-row shortlist still seeds rel.
    a, b = cand.alias("a"), cand.alias("b")
    mat = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"), "left")
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("a.rel").alias("rel"),
            F.col("b.vec_id").alias("vb"),
            F.round(
                similarity.cosine_exact(
                    F.col("a.embedding"), F.col("b.embedding")
                ),
                6,
            ).alias("sim"),
        )
        .collect()
    )
    rel = {r["va"]: r["rel"] for r in mat}
    sim = {(r["va"], r["vb"]): r["sim"] for r in mat if r["vb"] is not None}

    def _round6(x: float) -> float:
        # java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP), the
        # engine's double round — used for pick COMPARISON only; every
        # emitted mmr is re-rounded by the engine in the final plan.
        import decimal

        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    selected: list[tuple] = []  # (vec_id, maxsim|None)
    for _ in range(MMR_K):
        best = None
        for v in rel:
            if any(v == s for s, _m in selected):
                continue
            if not selected:
                maxsim, score = None, rel[v]
            else:
                maxsim = _sql_max(sim[(v, s)] for s, _m in selected)
                score = (
                    None if rel[v] is None or maxsim is None
                    else _round6(0.5 * rel[v] - 0.5 * maxsim)
                )
            key = (_desc_key(score), v)
            if best is None or key < best[0]:
                best = (key, v, maxsim)
        if best is None:
            break  # fewer than MMR_K rows: the oracle's later steps are empty
        selected.append((best[1], best[2]))
    # a CASE chain, not create_map: an empty pick list must still type
    rank_expr = F.lit(None).cast("int")
    for i, (vid, _m) in enumerate(selected):
        rank_expr = F.when(F.col("vec_id") == F.lit(vid), F.lit(i + 1)).otherwise(
            rank_expr
        )
    # mmr re-spelled in-engine per pick: rel for the first, the same
    # round(0.5·rel − 0.5·maxsim, 6) as the loop for the rest, with
    # maxsim an engine-computed rounded sim passed back as a literal
    # (max-selection among doubles is exact — no driver arithmetic in
    # any emitted value).
    mmr_expr = F.col("rel")
    for vid, maxsim in selected[1:]:
        mmr_expr = F.when(
            F.col("vec_id") == F.lit(vid),
            F.round(
                F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.lit(maxsim), 6
            ),
        ).otherwise(mmr_expr)
    return (
        cand.filter(F.col("vec_id").isin([vid for vid, _m in selected]))
        .select(
            rank_expr.alias("rank"),
            "vec_id",
            "rel",
            mmr_expr.alias("mmr"),
        )
        .orderBy("rank")
    )


def _mmr_step_sql(step: int) -> str:
    """CTE pair (p{step}, s{step}) for greedy MMR step ``step`` ≥ 2:
    score every unpicked candidate against the union of prior picks,
    keep the argmax."""
    prev_union = " UNION ALL ".join(
        f"SELECT vec_id FROM s{j}" for j in range(1, step)
    )
    return f"""
p{step} AS (
  SELECT c.vec_id, c.rel,
         ROUND(CAST(0.5 AS DOUBLE) * c.rel
               - CAST(0.5 AS DOUBLE)
                 * MAX(ROUND({similarity.dd_qcos("c.qemb", "s.qemb")}, 6)),
               6) AS mmr
  FROM cand c
  JOIN cand s ON s.vec_id IN ({prev_union})
  WHERE c.vec_id NOT IN ({prev_union})
  GROUP BY c.vec_id, c.rel
),
s{step} AS (SELECT vec_id, rel, mmr FROM p{step}
            ORDER BY mmr DESC, vec_id ASC LIMIT 1)"""


MMR_RERANK_SQL = f"""
WITH qv AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT vec_id, {similarity.dd_qvec("embedding")} AS qemb,
         ROUND({similarity.dd_qcos(similarity.dd_qvec("embedding"),
                                   similarity.dd_qvec("query_vec"))},
               6) AS rel
  FROM embeddings, qv
  WHERE vec_id <> 0
  ORDER BY rel DESC, vec_id ASC LIMIT {MMR_SHORTLIST}
),
s1 AS (SELECT vec_id, rel, rel AS mmr FROM cand
       ORDER BY rel DESC, vec_id ASC LIMIT 1),
{",".join(_mmr_step_sql(j) for j in range(2, MMR_K + 1))}
SELECT * FROM (
{" UNION ALL ".join(f"SELECT {j} AS rank, vec_id, rel, mmr FROM s{j}" for j in range(1, MMR_K + 1))}
) ORDER BY rank
"""


# --- X2h: quality-aware near-dup canonical selection -------------------------
def neardup_keep_best(t: Tables) -> DataFrame:
    """X2: keep-BEST-per-cluster — real dedup pipelines rarely keep the
    min-id member; they keep the highest-quality one. Clusters come from
    the oracled LSH→connected-components path
    (:func:`dedup.neardup_clusters`); within each cluster the kept row is
    the LONGEST document (``n_chars`` desc, tie → min doc_id) — the
    standard keep-longest heuristic.

    Cost over cluster resolution: one broadcast-able join back to
    ``(doc_id, n_chars)`` plus a window over clusters — cluster frames
    are corpus-sized rows but the partition key (cluster_id) is the
    dedup key itself, so the window shuffle is the same shape as the
    dedup group-by. Oracle: the same recursive-CTE component SQL + the
    same window.
    """
    from pyspark.sql.window import Window

    docs = spread(t["documents"])
    clusters = dedup.neardup_clusters(docs).select("doc_id", "cluster_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


NEARDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_SHINGLE_CTE},
sigs AS (
  SELECT doc_id, {_mh_cols()}
  FROM sh GROUP BY doc_id
),
bands AS (
{_band_union()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand
),
walk(node, lbl) AS (
  SELECT doc_id AS node, doc_id AS lbl FROM documents
  UNION
  SELECT e.dst AS node, w.lbl
  FROM walk w JOIN edges e ON w.node = e.src
),
lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY 1)
SELECT d.doc_id, lab.cluster_id, d.n_chars,
       (row_number() OVER (PARTITION BY lab.cluster_id
                           ORDER BY d.n_chars DESC, d.doc_id ASC) = 1)
         AS keep
FROM lab JOIN documents d ON lab.doc_id = d.doc_id
"""


# --- X1c/X2: incremental NEAR-dup novelty (batch vs history, LSH) ------------
def novel_neardup(t: Tables) -> DataFrame:
    """X1c/X2: the near-duplicate counterpart of :func:`novel_docs` —
    an incremental crawl batch (split ≥ 8, same reproducible md5 split)
    survives only if NO historical document (split < 8) shares ANY
    MinHash LSH band with it. Exact-hash novelty misses re-crawls with
    boilerplate edits; this is the probe real ingest pipelines run
    next to it.

    Scale shape: signatures aggregate per side in one keyed shuffle,
    the probe is a band-keyed left-semi (seen) feeding a left-anti on
    doc_id — history content never re-shuffles (only its band keys do),
    and nothing is all-pairs. Docs too short to shingle (< n tokens)
    have no bands and are trivially novel — the oracle reproduces that.
    """
    d = spread(t["documents"])
    hist_b = dedup.lsh_bands(d.filter(_split_expr() < 8))
    new = d.filter(_split_expr() >= 8)
    seen = (
        dedup.lsh_bands(new)
        .join(hist_b, ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return new.join(seen, "doc_id", "left_anti").select("doc_id", "source")


NOVEL_NEARDUP_SQL = f"""
WITH {_SHINGLE_CTE},
sigs AS (
  SELECT doc_id, {_mh_cols()}
  FROM sh GROUP BY doc_id
),
bands AS (
{_band_union()}
),
hist_b AS (
  SELECT band, band_key FROM bands
  WHERE {_SPLIT_SQL.replace("doc_id", "bands.doc_id")} < 8
),
seen AS (
  SELECT DISTINCT nb.doc_id
  FROM bands nb JOIN hist_b h
    ON nb.band = h.band AND nb.band_key = h.band_key
  WHERE {_SPLIT_SQL.replace("doc_id", "nb.doc_id")} >= 8
)
SELECT doc_id, source FROM documents n
WHERE {_SPLIT_SQL} >= 8
  AND NOT EXISTS (SELECT 1 FROM seen WHERE seen.doc_id = n.doc_id)
"""


# --- X4y: blocklist (bad-word) filtering -------------------------------------
# Tiny spam/profanity-lite stand-in for the real (huge) blocklists the
# public web-corpus pipelines apply; the operator shape — broadcast-able
# term set, map-side token membership — is what matters at 100 TB.
BLOCKLIST = ("damn", "hell", "kill", "drugs", "casino", "viagra", "xxx")


def badword_filter(t: Tables) -> DataFrame:
    """X4: blocklist filtering — the standard web-corpus hygiene pass
    (drop documents containing any blocklisted token). Pure map-side
    column expressions over one scan: token membership against a
    literal set (a real blocklist would broadcast-join or compile to
    an Aho-Corasick regex, still map-only). Output keeps every doc
    with its hit count + ratio so the drop is auditable, like
    gopher_quality's per-rule flags. Tokenization materialized once
    (CSE skips HOF subtrees — the shingles() lesson).
    """
    toks = F.col("__w")
    lower = F.transform(toks, lambda x: F.lower(x))
    n_bad = F.size(F.filter(lower, lambda x: x.isin(list(BLOCKLIST))))
    n_tok = F.size(toks)
    return spread(t["documents"]).select(
        "doc_id", textops.tokens("text").alias("__w")
    ).select(
        "doc_id",
        n_bad.cast("int").alias("n_bad"),
        F.when(n_tok > 0, n_bad.cast("double") / n_tok.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("bad_ratio"),
        (n_bad == 0).alias("keep"),
    )


_BLOCK_SQL = ", ".join(f"'{w}'" for w in BLOCKLIST)

BADWORD_FILTER_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> lower(x) IN ({_BLOCK_SQL})))
              AS INTEGER) AS n_bad,
         len(toks) AS n_tok
  FROM base
)
SELECT doc_id, n_bad,
       CASE WHEN n_tok > 0
            THEN CAST(n_bad AS DOUBLE) / CAST(n_tok AS DOUBLE)
            ELSE 0.0 END AS bad_ratio,
       (n_bad = 0) AS keep
FROM m
"""


# --- X4: PII scrubbing audit --------------------------------------------------
def pii_scrub(t: Tables) -> DataFrame:
    """X4: PII redaction audit over the corpus — the scrubbing pass a
    training pipeline runs before tokenization (emails / SSNs / IPv4s /
    phone runs → ``[TAG]``), emitting per-doc redaction counts and the
    md5 of the scrubbed text so the redaction itself is value-checked
    without shipping full documents through the gate.

    The synthetic corpus carries no PII, so deterministic PII is
    INJECTED first (doc_id-keyed email/SSN/IP suffixes, mirrored
    byte-for-byte in the oracle SQL) — the regex engines, the
    progressive most-specific-first replacement order, and the
    no-double-count discipline of :func:`operators.text.redact_pii`
    are all under test against DuckDB's RE2 on the same strings.

    Scale shape: one codegen'd regexp chain per row, zero shuffles —
    the whole query is a map over the scan."""
    injected = spread(t["documents"]).withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" host 192.168.0.1")).otherwise(F.lit("")),
        ),
    )
    out = textops.redact_pii(injected)
    return out.select(
        "doc_id",
        "n_redactions",
        F.md5("redacted").alias("redacted_md5"),
        (F.col("n_redactions") == 0).alias("clean"),
    )


def _pii_chain_sql(col: str) -> tuple[str, str]:
    """(count_expr, redacted_expr): the progressive redact chain in
    DuckDB, pattern order identical to operators.text.PII_PATTERNS."""
    redacted = col
    counts = []
    for tag, pat in textops.PII_PATTERNS:
        esc = pat.replace("'", "''")
        counts.append(f"len(regexp_extract_all({redacted}, '{esc}'))")
        redacted = f"regexp_replace({redacted}, '{esc}', '[{tag}]', 'g')"
    return " + ".join(counts), redacted


_PII_COUNT_EXPR, _PII_REDACTED_EXPR = _pii_chain_sql("text")

PII_SCRUB_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' host 192.168.0.1' ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id,
       CAST({_PII_COUNT_EXPR} AS INTEGER) AS n_redactions,
       md5({_PII_REDACTED_EXPR}) AS redacted_md5,
       ({_PII_COUNT_EXPR} = 0) AS clean
FROM injected
"""


# --- X3/X4: corpus ↔ embedding reconciliation audit ---------------------------
def corpus_embedding_reconcile(t: Tables) -> DataFrame:
    """Parallel-asset drift audit: one row per key present in the
    document corpus or the embedding store, with status ∈ {both,
    doc_only, embedding_only} — the per-key integrity check a pipeline
    runs after an embedding backfill or an erasure pass. Gaps are
    INJECTED deterministically (embeddings dropped at vec_id % 5 = 0,
    docs at doc_id % 9 = 0, mirrored in the oracle) since the synthetic
    fixtures are perfectly aligned. One full-outer hash join on the
    key; the cogrouped-map twin (operators/reconcile.reconcile_cogroup,
    the §2.7 cogroup seam) is pinned bit-identical in pytest."""
    from ..operators import reconcile

    docs = spread(t["documents"]).filter(F.col("doc_id") % 9 != 0)
    embs = spread(t["embeddings"]).filter(F.col("vec_id") % 5 != 0)
    return reconcile.reconcile_relational(docs, embs)


CORPUS_EMBEDDING_RECONCILE_SQL = """
WITH d AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 9 <> 0),
     e AS (SELECT vec_id, label FROM embeddings WHERE vec_id % 5 <> 0)
SELECT COALESCE(d.doc_id, e.vec_id) AS key,
       CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 'both'
            WHEN d.doc_id IS NOT NULL THEN 'doc_only'
            ELSE 'embedding_only' END AS status,
       d.n_chars,
       e.label
FROM d FULL OUTER JOIN e ON d.doc_id = e.vec_id
"""


# --- X2j: line-level boilerplate removal --------------------------------------
BOILERPLATE_MIN_DF = 3


def boilerplate_strip(t: Tables) -> DataFrame:
    """X2/X4: line-level boilerplate removal — the C4/RefinedWeb
    hygiene pass that drops lines repeated across ≥ ``min_df`` docs of
    the SAME source (site headers, nav text, footers, license
    blurbs) and reassembles the surviving lines in document order.

    The synthetic corpus is single-line, so the boilerplate is
    INJECTED deterministically (a per-source header line + a global
    footer line, mirrored in the oracle): the header repeats across
    every doc of its source and the footer across the whole corpus,
    both must be stripped; the body line is unique and must survive.

    Scale shape: posexplode to (doc, pos, line), ONE groupBy on
    (source, line_hash) for the document-frequency table (uniform
    128-bit keys — no skew), join back, and a per-doc reassembly
    groupBy. The df table is corpus-boilerplate-sized (repeated lines
    only after the filter), so at 100 TB it broadcasts; the spelled
    join here stays correct either way and AQE picks the strategy."""
    injected = spread(t["documents"]).select(
        "doc_id",
        "source",
        F.concat(
            F.lit("HEADER "), F.col("source"), F.lit("\n"),
            F.col("text"),
            F.lit("\nFOOTER standard disclaimer"),
        ).alias("text"),
    )
    lines = injected.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", r"\n")).alias("pos", "line"),
    ).withColumn("line_hash", F.md5("line"))
    dfreq = (
        lines.groupBy("source", "line_hash")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= BOILERPLATE_MIN_DF)
        .select("source", "line_hash")
    )
    kept = lines.join(dfreq, ["source", "line_hash"], "left_anti")
    return (
        lines.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_lines_in"))
        .join(
            kept.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_lines_kept"),
                F.md5(
                    F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "line"))
                            ),
                            lambda s: s["line"],
                        ),
                    )
                ).alias("cleaned_md5"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_lines_in",
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
    )


BOILERPLATE_STRIP_SQL = f"""
WITH injected AS (
  SELECT doc_id, source,
         'HEADER ' || source || chr(10) || text
           || chr(10) || 'FOOTER standard disclaimer' AS text
  FROM documents
), lines AS (
  SELECT doc_id, source, i - 1 AS pos, ls[i] AS line, md5(ls[i]) AS line_hash
  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
        FROM injected), unnest(range(1, len(ls) + 1)) AS t(i)
), boiler AS (
  SELECT source, line_hash
  FROM lines GROUP BY 1, 2
  HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DF}
), kept AS (
  SELECT l.* FROM lines l
  LEFT JOIN boiler b ON l.source = b.source AND l.line_hash = b.line_hash
  WHERE b.line_hash IS NULL
), tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines_in
  FROM lines GROUP BY 1
), re AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines_kept,
         md5(string_agg(line, chr(10) ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY 1
)
SELECT tot.doc_id, tot.n_lines_in,
       COALESCE(re.n_lines_kept, 0) AS n_lines_kept,
       COALESCE(re.cleaned_md5, md5('')) AS cleaned_md5
FROM tot LEFT JOIN re ON tot.doc_id = re.doc_id
"""


# --- X3: hard-negative mining -------------------------------------------------
def hard_negatives_query(t: Tables) -> DataFrame:
    """X3 training-data op: per anchor (the hash-picked 5-id set — see
    hash_picked_ids; exists on ANY corpus axis, unlike the old
    vec_id < 5 spelling that assumed dense ids from 0) the 3
    most-cosine-similar vectors with a DIFFERENT label — the
    contrastive-loss negatives random sampling can't provide. Anchor
    set broadcast, corpus scanned once map-side, one window per anchor
    (see operators/similarity.hard_negatives for the 100 TB notes)."""
    return similarity.hard_negatives(
        t["embeddings"],
        k=3,
        query_ids=hash_picked_ids(t["embeddings"], "vec_id", 5),
    )


HARD_NEGATIVES_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
{_anchors_cte("e", "vec_id", 5)},
q AS (SELECT e.vec_id AS query_id, label AS query_label, v AS qv
      FROM e JOIN anch USING (vec_id)),
scored AS (
  SELECT q.query_id, e.vec_id AS neg_id, e.label AS neg_label,
         ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM e CROSS JOIN q
  WHERE e.label <> q.query_label
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neg_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, rank, neg_id, neg_label, cos_sim
FROM ranked WHERE rank <= 3
"""


# --- X4: encoding-quality / mojibake audit -------------------------------------
# UTF-8-decoded-as-Latin-1 artifacts: 'Ã' + continuation ('Ã©' 'Ã¯'…)
# and the 'â€¦'-family punctuation wrecks. Literal chars in the
# pattern — identical code points through Java regex and RE2.
_MOJIBAKE_RE = "(Ã.|â€)"
_CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
_PRINTABLE_ASCII_RE = "[ -~]"


def encoding_quality(t: Tables) -> DataFrame:
    """X4: encoding-health audit — the pre-filter a web-scale corpus
    runs before any text op (CCNet/RefinedWeb discipline): count
    U+FFFD replacement chars (upstream decode already failed), raw C0
    control bytes (binary contamination), and classic UTF-8-as-Latin-1
    mojibake digraphs, plus the printable-ASCII ratio. All four are
    one codegen'd regexp pass per row — zero shuffles.

    The synthetic corpus is clean ASCII, so damage is INJECTED
    deterministically (doc_id-keyed suffixes mirrored in the oracle):
    the regex classes, the char-vs-byte semantics, and the ratio math
    are what the parity gate checks."""
    injected = spread(t["documents"]).withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 17 == 0, F.lit(" cafÃ© naÃ¯ve"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 19 == 0, F.lit(" bad�char"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 23 == 0, F.lit(" ctl\x01end"))
            .otherwise(F.lit("")),
        ),
    )
    n_repl = F.regexp_count("text", F.lit("�"))
    n_ctl = F.regexp_count("text", F.lit(_CONTROL_RE))
    n_moji = F.regexp_count("text", F.lit(_MOJIBAKE_RE))
    n_ascii = F.regexp_count("text", F.lit(_PRINTABLE_ASCII_RE))
    n_chars = F.length("text")
    return injected.select(
        "doc_id",
        n_repl.cast("int").alias("n_replacement"),
        n_ctl.cast("int").alias("n_control"),
        n_moji.cast("int").alias("n_mojibake"),
        F.when(
            n_chars > 0,
            F.round(n_ascii.cast("double") / n_chars.cast("double"), 6),
        ).otherwise(F.lit(1.0)).alias("ascii_ratio"),
        ((n_repl + n_ctl + n_moji) == 0).alias("clean"),
    )


ENCODING_QUALITY_SQL = """
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 17 = 0
                 THEN ' caf' || chr(195) || chr(169)
                      || ' na' || chr(195) || chr(175) || 've'
                 ELSE '' END
         || CASE WHEN doc_id % 19 = 0
                 THEN ' bad' || chr(65533) || 'char' ELSE '' END
         || CASE WHEN doc_id % 23 = 0
                 THEN ' ctl' || chr(1) || 'end' ELSE '' END
           AS text
  FROM documents
), m AS (
  SELECT doc_id,
         len(regexp_extract_all(text, chr(65533))) AS n_repl,
         len(regexp_extract_all(text,
             '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS n_ctl,
         len(regexp_extract_all(text,
             '(' || chr(195) || '.|' || chr(226) || chr(8364) || ')'))
           AS n_moji,
         len(regexp_extract_all(text, '[ -~]')) AS n_ascii,
         length(text) AS n_chars
  FROM injected
)
SELECT doc_id,
       CAST(n_repl AS INTEGER) AS n_replacement,
       CAST(n_ctl AS INTEGER) AS n_control,
       CAST(n_moji AS INTEGER) AS n_mojibake,
       CASE WHEN n_chars > 0
            THEN ROUND(CAST(n_ascii AS DOUBLE) / CAST(n_chars AS DOUBLE), 6)
            ELSE 1.0 END AS ascii_ratio,
       (n_repl + n_ctl + n_moji = 0) AS clean
FROM m
"""


# --- X3: retrieval evaluation metrics -----------------------------------------
RETRIEVAL_K = 10
RETRIEVAL_N_ANCHORS = 10


def retrieval_metrics(t: Tables) -> DataFrame:
    """X3 eval op: recall@10 and MRR@10 of the exact-cosine ranking,
    with deterministic qrels (relevant = same label as the anchor) —
    the offline retrieval-quality readout every embedding refresh runs
    before the index ships. Anchors are the hash-picked 10-id set (see
    hash_picked_ids) — corpus-derived, so the anchor set exists and is
    non-degenerate on ANY corpus axis.

    Scale shape: the anchor rows broadcast (the allowlisted
    O(N·|anchors|) scalar-attach NLJ, same as hard_negatives), ONE
    map-side cosine scan scores the corpus, one window per anchor
    takes the top-10, and the metrics reduce per anchor. MRR is
    MRR@k (a first hit below rank k scores 0 — the shipped-index
    semantics). Cosines round to 6 dp BEFORE ranking so the rank
    order — and therefore MRR — is identical cross-engine (~1 ulp
    float drift sits far inside the rounding; real score gaps are
    orders of magnitude larger)."""
    anchor_ids = hash_picked_ids(
        t["embeddings"], "vec_id", RETRIEVAL_N_ANCHORS
    )
    embs = spread(t["embeddings"])
    q = embs.filter(F.col("vec_id").isin(anchor_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    cands = (
        embs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("rel", (F.col("label") == F.col("qlabel")).cast("int"))
    )
    ranked = similarity.top_cosines(cands, F.col("qv"), None, by="query_id")
    per_anchor = (
        ranked.groupBy("query_id")
        .agg(
            F.sum("rel").alias("n_rel_total"),
            F.sum(F.when(F.col("rank") <= RETRIEVAL_K, F.col("rel")).otherwise(0))
            .alias("n_rel_at_k"),
            F.min(
                F.when(
                    (F.col("rel") == 1) & (F.col("rank") <= RETRIEVAL_K),
                    F.col("rank"),
                )
            ).alias("first_rel"),
        )
    )
    return per_anchor.select(
        "query_id",
        F.col("n_rel_total").cast("int").alias("n_rel_total"),
        F.col("n_rel_at_k").cast("int").alias("n_rel_at_k"),
        F.when(
            F.col("n_rel_total") > 0,
            F.round(
                F.col("n_rel_at_k").cast("double")
                / F.least(F.lit(RETRIEVAL_K), F.col("n_rel_total")).cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("recall_at_k"),
        F.coalesce(
            F.round(F.lit(1.0) / F.col("first_rel").cast("double"), 6),
            F.lit(0.0),
        ).alias("mrr"),
    )


RETRIEVAL_METRICS_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
{_anchors_cte("e", "vec_id", RETRIEVAL_N_ANCHORS)},
q AS (SELECT e.vec_id AS query_id, label AS qlabel, v AS qv
      FROM e JOIN anch USING (vec_id)),
scored AS (
  SELECT q.query_id,
         CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel,
         ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim,
         e.vec_id
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
         ) AS rank
  FROM scored
), per_anchor AS (
  SELECT query_id,
         CAST(SUM(rel) AS INTEGER) AS n_rel_total,
         CAST(SUM(CASE WHEN rank <= {RETRIEVAL_K} THEN rel ELSE 0 END)
              AS INTEGER) AS n_rel_at_k,
         MIN(CASE WHEN rel = 1 AND rank <= {RETRIEVAL_K} THEN rank END)
           AS first_rel
  FROM ranked GROUP BY 1
)
SELECT query_id, n_rel_total, n_rel_at_k,
       CASE WHEN n_rel_total > 0
            THEN ROUND(CAST(n_rel_at_k AS DOUBLE)
                 / CAST(LEAST({RETRIEVAL_K}, n_rel_total) AS DOUBLE), 6)
            ELSE 0.0 END AS recall_at_k,
       COALESCE(ROUND(1.0 / CAST(first_rel AS DOUBLE), 6), 0.0) AS mrr
FROM per_anchor
"""


# --- X4: Unicode script profile -------------------------------------------------
# Java regex spells script properties \p{IsX}, RE2 spells them \p{X};
# the classes are the same Unicode Script property, verified to count
# identically on mixed-script fixtures.
_SCRIPTS = [
    ("n_latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("n_cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("n_han", r"\p{IsHan}", r"\p{Han}"),
    ("n_greek", r"\p{IsGreek}", r"\p{Greek}"),
]


def script_profile(t: Tables) -> DataFrame:
    """X4 multilingual governance: per-doc Unicode-script character
    counts (Latin / Cyrillic / Han / Greek) and the dominant script —
    the signal that routes documents to per-language pipelines and
    catches script-mixing spam (e.g. Cyrillic homoglyph stuffing
    inside Latin text). One codegen'd regexp pass per row, zero
    shuffles; non-Latin content is INJECTED doc_id-keyed since the
    synthetic corpus is ASCII (mirrored in the oracle, so the check is
    that both engines' Script property tables agree)."""
    injected = spread(t["documents"]).withColumn(
        "text",
        # doc_id % 97: a fully non-Latin document, so the dominant-
        # script selection (not just the counts) is under test; the
        # other keys append mixed-script snippets to Latin bodies.
        F.when(F.col("doc_id") % 97 == 0, F.lit("привет мир целиком"))
        .otherwise(
            F.concat(
                "text",
                F.when(F.col("doc_id") % 6 == 0, F.lit(" привет мир"))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 10 == 0, F.lit(" 你好世界"))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 15 == 0, F.lit(" γεια σου"))
                .otherwise(F.lit("")),
            )
        ),
    )
    counts = [
        F.regexp_count("text", F.lit(java_re)).cast("int").alias(name)
        for name, java_re, _ in _SCRIPTS
    ]
    out = injected.select("doc_id", *counts)
    dominant = F.greatest(*[F.col(n) for n, _, _ in _SCRIPTS])
    pick = F.coalesce(
        *[
            F.when(F.col(n) == dominant, F.lit(n.removeprefix("n_")))
            for n, _, _ in _SCRIPTS
        ]
    )
    return out.select(
        "doc_id",
        *[n for n, _, _ in _SCRIPTS],
        F.when(dominant > 0, pick).otherwise(F.lit("none")).alias(
            "dominant_script"
        ),
    )


def _script_counts_sql() -> str:
    return ",\n         ".join(
        f"CAST(len(regexp_extract_all(text, '{re2}')) AS INTEGER) AS {name}"
        for name, _, re2 in _SCRIPTS
    )


_SCRIPT_NAMES = [n for n, _, _ in _SCRIPTS]
_SCRIPT_DOM = "GREATEST(" + ", ".join(_SCRIPT_NAMES) + ")"
_SCRIPT_PICK = "COALESCE(" + ", ".join(
    f"CASE WHEN {n} = {_SCRIPT_DOM} THEN '{n.removeprefix('n_')}' END"
    for n in _SCRIPT_NAMES
) + ")"

SCRIPT_PROFILE_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN 'привет мир целиком'
              ELSE text
              || CASE WHEN doc_id % 6 = 0 THEN ' привет мир' ELSE '' END
              || CASE WHEN doc_id % 10 = 0 THEN ' 你好世界' ELSE '' END
              || CASE WHEN doc_id % 15 = 0 THEN ' γεια σου' ELSE '' END
         END AS text
  FROM documents
), m AS (
  SELECT doc_id,
         {_script_counts_sql()}
  FROM injected
)
SELECT doc_id, {", ".join(_SCRIPT_NAMES)},
       CASE WHEN {_SCRIPT_DOM} > 0 THEN {_SCRIPT_PICK} ELSE 'none' END
         AS dominant_script
FROM m
"""


# --- X4: classifier calibration table -----------------------------------------
# Integer micro-unit weights (w × 1e6): the per-doc score is an EXACT
# bigint, so bucket means are order-free and bit-identical cross-engine
# (the same freeze discipline as unigram_surprisal).
_CALIB_W_MICRO = [(n, round(w * 1_000_000)) for n, w in QUALITY_LOGIT_WEIGHTS]


def classifier_calibration(t: Tables) -> DataFrame:
    """X4 ML-ops: the calibration table for the pinned quality
    classifier — decile-bucketed scores vs the observed rate of a
    rule-based truth proxy (stopword ratio ≥ 10%). The readout that
    decides whether a filter's threshold transfers to a new corpus
    slice before burning a training run on it.

    Exactness: scores accumulate in integer micro-units (weights ×
    1e6 → bigint), so the per-bucket mean is a division of exact
    integers; the truth rule is an integer cross-multiply; ntile
    orders by (score, doc_id) — a total order. One window shuffle +
    one 10-group aggregate."""
    from pyspark.sql.window import Window

    toks = F.col("__w")
    base = spread(t["documents"]).select(
        "doc_id", "text", textops.tokens("text").alias("__w")
    ).select(
        "doc_id",
        F.lit(1).alias("bias"),
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda x: F.lower(x).isin(*textops.STOPWORDS))
        ).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[^A-Za-z ]", ""))
        ).alias("n_nonalpha"),
    )
    score = None
    for name, w in _CALIB_W_MICRO:
        term = F.col(name).cast("bigint") * F.lit(w)
        score = term if score is None else score + term
    scored = base.select(
        "doc_id",
        score.alias("score_micro"),
        (F.col("n_stop") * 10 >= F.col("n_tokens")).cast("int").alias("label"),
    )
    w10 = Window.orderBy(F.asc("score_micro"), F.asc("doc_id"))
    return (
        scored.withColumn("decile", F.ntile(10).over(w10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("score_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("mean_score"),
            F.round(
                F.sum("label").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pos_rate"),
        )
    )


def _calib_score_sql() -> str:
    return " + ".join(
        f"(CAST({n} AS BIGINT) * ({w}))" for n, w in _CALIB_W_MICRO
    )


CLASSIFIER_CALIBRATION_SQL = f"""
WITH f AS (
  SELECT doc_id,
         1 AS bias,
         len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS n_tokens,
         len(list_filter(list_filter(string_split(trim(text), ' '),
                                     x -> x <> ''),
             x -> lower(x) IN ({_STOPS}))) AS n_stop,
         len(list_distinct(list_filter(string_split(trim(text), ' '),
                                       x -> x <> ''))) AS n_distinct,
         length(text) - length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
           AS n_nonalpha
  FROM documents
), scored AS (
  SELECT doc_id,
         {_calib_score_sql()} AS score_micro,
         CASE WHEN n_stop * 10 >= n_tokens THEN 1 ELSE 0 END AS label
  FROM f
), bucketed AS (
  SELECT *, NTILE(10) OVER (ORDER BY score_micro, doc_id) AS decile
  FROM scored
)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(score_micro) AS DOUBLE) / COUNT(*) / 1e6, 6)
         AS mean_score,
       ROUND(CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS pos_rate
FROM bucketed GROUP BY 1
"""


# --- X3: Johnson–Lindenstrauss random projection -----------------------------
JL_PROJ_DIMS = 8


def _jl_signs() -> list[list[int]]:
    """±1 Achlioptas sign matrix (JL_PROJ_DIMS × EMBED_DIM), derived
    from md5 like every other hash family here — deterministic with no
    RNG state, so the Spark plan and the DuckDB oracle embed the SAME
    literal matrix (the MinHash-oracle discipline, module docstring)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1
            for d in range(similarity.EMBED_DIM)
        ]
        for j in range(JL_PROJ_DIMS)
    ]


def jl_projection(t: Tables) -> DataFrame:
    """X3: Johnson–Lindenstrauss sketch of the embedding column — 64
    float dims → JL_PROJ_DIMS signed-sum coordinates (database-friendly
    random projection, Achlioptas 2003: ±1 entries preserve pairwise
    distances in expectation with 1/√k distortion; the classic cheap
    pre-filter in front of an exact rerank, and an 8× narrower column
    to ship to a downstream ANN index).

    Cross-engine exactness: components freeze to integer micro-units
    once (the embedding_dim_stats discipline), the projection is then
    an INTEGER dot product with a ±1 literal matrix — order-free exact
    BIGINT sums, no float accumulation anywhere.

    Scale shape: entirely MAP-SIDE — zip_with/aggregate run inside the
    scan stage, posexplode fans the k coordinates out per row, nothing
    shuffles; output is (vec_id, proj_dim, proj_micro) primitive rows.
    The oracle spells the same contraction as an unnest + 512-row
    literal sign join."""
    signs = _jl_signs()
    m = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1e6).cast("bigint"),
    )
    projs = [
        F.aggregate(
            F.zip_with(
                F.col("m"),
                F.array(*[F.lit(s) for s in signs[j]]),
                lambda a, b: a * b.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        for j in range(JL_PROJ_DIMS)
    ]
    return (
        t["embeddings"]
        .select("vec_id", m.alias("m"))
        .select(
            "vec_id",
            F.posexplode(F.array(*projs)).alias("proj_dim", "proj_micro"),
        )
    )


def _jl_signs_sql() -> str:
    rows = []
    for j, row in enumerate(_jl_signs()):
        for d, s in enumerate(row):
            rows.append(f"({j},{d},{s})")
    return ", ".join(rows)


JL_PROJECTION_SQL = f"""
WITH comp AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS m
  FROM embeddings
), signs(proj_dim, dim, s) AS (VALUES {_jl_signs_sql()})
SELECT c.vec_id, CAST(s.proj_dim AS INTEGER) AS proj_dim,
       CAST(SUM(c.m * s.s) AS BIGINT) AS proj_micro
FROM comp c JOIN signs s ON c.dim = s.dim
GROUP BY 1, 2
"""


# --- X2g: dedup-candidate quality evaluation ---------------------------------
def neardup_eval(t: Tables) -> DataFrame:
    """X2g: eval harness for the probabilistic dedup path — score the
    MinHash-LSH candidate generator (minhash_pairs) against the EXACT
    3-gram Jaccard ≥ 0.8 operator (ngram_jaccard) as ground truth:
    candidate count, truth count, hits, precision, recall in one row.
    This is the measure-your-recall discipline every production dedup
    pipeline needs before trusting a banded LSH config (band/row counts
    trade recall for candidate volume); the same harness re-runs per
    corpus because LSH recall is distribution-dependent.

    Scale shape: both operands are the already-scale-shaped operators
    (staged inverted index / banded self-join); the eval adds one
    pair-keyed inner join + three 1-row aggregates broadcast together —
    negligible next to the generators. The shingle stage is SHARED with
    ngram_jaccard (same stage name + params → staged once per run).
    Exactness: counts are integers; precision/recall are
    single guarded divisions rounded once, spelled identically in the
    oracle."""
    docs = t["documents"]
    truth = dedup.ngram_jaccard_pairs(
        docs, threshold=0.8, max_df=1000, stage=SHINGLE_STAGE
    ).select("doc_a", "doc_b")
    # the pred side scans the truth side's shingle stage: the eval
    # tokenizes once
    pred = dedup.minhash_lsh_pairs(docs, stage=SHINGLE_STAGE).select(
        "doc_a", "doc_b"
    )
    # Same twice-consumed-pair-frame checkpoint as neardup_eval_capped:
    # count + hit join would otherwise re-execute both generators
    # (88 Exchanges / 4 documents scans in plans/r11/
    # neardup_eval_before.txt collapse to one build per side).
    truth = truth.localCheckpoint(eager=False)
    pred = pred.localCheckpoint(eager=False)
    hits = pred.join(truth, ["doc_a", "doc_b"])
    counts = (
        pred.agg(F.count(F.lit(1)).alias("n_pred"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6),
    ).otherwise(F.lit(None).cast("double"))
    return counts.select(
        "n_pred", "n_truth", "n_hit",
        ratio("n_hit", "n_pred").alias("precision"),
        ratio("n_hit", "n_truth").alias("recall"),
    )


NEARDUP_EVAL_SQL = f"""
WITH {_SHINGLE_CTE},
df_counts AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
shf AS (SELECT s.* FROM sh s JOIN df_counts d USING (shingle) WHERE d.df <= 1000),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
        >= 0.8
),
sigs AS (
  SELECT doc_id, {{mh_cols}}
  FROM sh GROUP BY doc_id
),
bands AS (
{{band_union}}
),
pred AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
m AS (
  SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
         (SELECT COUNT(*) FROM truth) AS n_truth,
         (SELECT COUNT(*) FROM pred p
          JOIN truth t ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b) AS n_hit
)
SELECT CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_hit AS BIGINT) AS n_hit,
       CASE WHEN n_pred > 0
            THEN ROUND(CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
            END AS precision,
       CASE WHEN n_truth > 0
            THEN ROUND(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
            END AS recall
FROM m
""".format(mh_cols=_mh_cols(), band_union=_band_union(),
           _SHINGLE_CTE=_SHINGLE_CTE)


def neardup_eval_capped(t: Tables) -> DataFrame:
    """X2g': the recall-measurement harness with the SCALE-SAFE ground
    truth — identical shape to :func:`neardup_eval` but the truth side
    is :func:`ngram_jaccard_capped` (rarest-R prefix blocking + exact
    rescoring) instead of the full inverted index, so the whole eval
    stays inside budget on vocabulary-saturated strata where the exact
    operator cannot run (sf10 fixed-vocab: neardup_eval exceeds the
    420 s budget; this twin is census-pinned). Because capped ⊆ exact,
    the reported recall is an UPPER bound on LSH recall vs the exact
    truth and exact on every pair the capped truth retains; the capped
    operator's own recall vs exact is pinned separately in pytest —
    the two pins compose. Truth comes from the PREFIX family and pred
    from the MINHASH family — independent candidate generators, so the
    eval is non-circular."""
    docs = t["documents"]
    truth = dedup.ngram_jaccard_capped_pairs(
        docs, threshold_num=4, threshold_den=5, max_df=1000,
        stage=SHINGLE_STAGE,
    ).select("doc_a", "doc_b")
    # pred scans the truth side's shingle stage — one tokenize for the
    # eval; the two generators stay independent ABOVE the raw shingle
    # frame (prefix blocking vs MinHash banding)
    pred = dedup.minhash_lsh_pairs(docs, stage=SHINGLE_STAGE).select(
        "doc_a", "doc_b"
    )
    # Both frames are referenced twice below (count + hit join); without
    # a checkpoint Spark re-executes the whole candidate pipeline per
    # reference — at sf10 fixed-vocab that doubles a ~4-minute truth
    # build and blows the census budget. The pair lists are tiny
    # (near-dup pairs above threshold), so pinning them is cheap.
    truth = truth.localCheckpoint(eager=False)
    pred = pred.localCheckpoint(eager=False)
    hits = pred.join(truth, ["doc_a", "doc_b"])
    counts = (
        pred.agg(F.count(F.lit(1)).alias("n_pred"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6),
    ).otherwise(F.lit(None).cast("double"))
    return counts.select(
        "n_pred", "n_truth", "n_hit",
        ratio("n_hit", "n_pred").alias("precision"),
        ratio("n_hit", "n_truth").alias("recall"),
    )


NEARDUP_EVAL_CAPPED_SQL = """
WITH {_SHINGLE_CTE},
df_counts AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
shf AS MATERIALIZED (
        SELECT s.* FROM sh s JOIN df_counts d USING (shingle)
        WHERE d.df <= 1000),
dfk AS (SELECT shingle, COUNT(*) AS df FROM shf GROUP BY 1),
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY 1),
pref AS MATERIALIZED (
  SELECT doc_id, shingle FROM (
    SELECT s.doc_id, s.shingle,
           ROW_NUMBER() OVER (
             PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS rk
    FROM shf s JOIN dfk d USING (shingle)
    WHERE d.df >= 2
  ) WHERE rk <= {prefix_r}
),
pn AS (SELECT doc_id, COUNT(*) AS pn FROM pref GROUP BY 1),
cand AS (
  SELECT g.doc_a, g.doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM pref a
    JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN sizes sa2 ON a.doc_id = sa2.doc_id
    JOIN sizes sb2 ON b.doc_id = sb2.doc_id
    WHERE LEAST(sa2.n_sh, sb2.n_sh) * 5 >= GREATEST(sa2.n_sh, sb2.n_sh) * 4
    GROUP BY 1, 2
  ) g
  JOIN pn na ON g.doc_a = na.doc_id
  JOIN pn nb ON g.doc_b = nb.doc_id
  WHERE g.n_shared >= LEAST({min_shared}, na.pn, nb.pn)
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shf a ON a.doc_id = c.doc_a
  JOIN shf b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
        >= 0.8
),
sigs AS (
  SELECT doc_id, {mh_cols}
  FROM sh GROUP BY doc_id
),
bands AS (
{band_union}
),
pred AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
m AS (
  SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
         (SELECT COUNT(*) FROM truth) AS n_truth,
         (SELECT COUNT(*) FROM pred p
          JOIN truth t ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b) AS n_hit
)
SELECT CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_hit AS BIGINT) AS n_hit,
       CASE WHEN n_pred > 0
            THEN ROUND(CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
            END AS precision,
       CASE WHEN n_truth > 0
            THEN ROUND(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
            END AS recall
FROM m
""".format(mh_cols=_mh_cols(), band_union=_band_union(),
           _SHINGLE_CTE=_SHINGLE_CTE,
           prefix_r=dedup.NGRAM_PREFIX_R,
           min_shared=dedup.NGRAM_MIN_SHARED)


# --- §2.8 multimodal resize (oracled through the fake-decode seam) ----------
RESIZE_MAX_SIDE = 48  # inside the fake 16..79 geometry range → both branches


def multimodal_resize(t: Tables) -> DataFrame:
    """§2.8: the resize stage run through the registry gate — encode
    text to a blob, mapInPandas aspect-preserving downscale to
    RESIZE_MAX_SIDE (pass-through below it; the fixture geometry range
    exercises BOTH branches), output geometries + the deterministic
    resized-payload hash. Because the fake decode is sha256-derived and
    the re-encode hash is sha256(bytes || geometry tag), the oracle
    recomputes the ENTIRE Python/Arrow batch path in SQL — the
    strongest check a stubbed media stage can get: schema, batch
    plumbing, integer geometry math, and payload hashing all
    exact-checked (the real decoder drops into the same seam)."""
    from ..operators import multimodal

    media = multimodal.documents_as_media(spread(t["documents"]))
    return multimodal.resize_images(media, max_side=RESIZE_MAX_SIDE).select(
        "media_id", "width", "height", "out_width", "out_height",
        "resized_sha",
    )


MULTIMODAL_RESIZE_SQL = f"""
WITH g AS (
  SELECT doc_id AS media_id,
         16 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INTEGER) % 64 AS w,
         16 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INTEGER) % 64 AS h,
         text
  FROM documents
), s AS (
  SELECT media_id, w, h, text,
         CASE WHEN greatest(w, h) <= {RESIZE_MAX_SIDE} THEN w
              ELSE greatest(1, (w * {RESIZE_MAX_SIDE}) // greatest(w, h, 1))
         END AS ow,
         CASE WHEN greatest(w, h) <= {RESIZE_MAX_SIDE} THEN h
              ELSE greatest(1, (h * {RESIZE_MAX_SIDE}) // greatest(w, h, 1))
         END AS oh
  FROM g
)
SELECT media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(ow AS INTEGER) AS out_width, CAST(oh AS INTEGER) AS out_height,
       sha256(text || '|' || ow || 'x' || oh) AS resized_sha
FROM s
"""


# --- X4: bigram transition model ---------------------------------------------
BIGRAM_MIN_FIRST = 50  # min occurrences of w1 before its row is modeled
BIGRAM_TOP_K = 3


def bigram_lm_top(t: Tables) -> DataFrame:
    """X4: conditional bigram table — for every sufficiently-frequent
    first token, the top-3 successors with exact integer-micro
    conditional probability p(w2|w1) = count(w1 w2)·10⁶ div count(w1·).
    The next-token-distribution table behind corpus perplexity probes
    and boilerplate detectors (unigram_surprisal's conditional
    big sibling); probabilities stay integers so ranking and parity
    are order-free exact.

    Scale shape: bigrams expand MAP-SIDE (zip_with over the token
    array inside the scan stage — no token explode before pairing);
    one keyed count, the w1 totals derive from the SAME counts frame
    (sum over w2 — no second corpus pass), and the per-w1 window is
    bounded by the successor fan-out. Tie-break (count desc, w2 asc)
    is total-order."""
    from pyspark.sql.window import Window

    pairs = _bigram_stream(t["documents"]).select("w1", "w2")
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    totals = counts.groupBy("w1").agg(F.sum("n_pair").alias("n_first"))
    win = Window.partitionBy("w1").orderBy(
        F.col("n_pair").desc(), F.col("w2").asc()
    )
    return (
        counts.join(
            totals.filter(F.col("n_first") >= BIGRAM_MIN_FIRST), "w1"
        )
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= BIGRAM_TOP_K)
        .select(
            "w1", "w2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.col("n_first").cast("bigint").alias("n_first"),
            # integral DIV, not float / + cast: a quotient that double-
            # rounds UP across an integer boundary would diverge from
            # DuckDB's // floor
            F.expr(
                "CAST((n_pair * CAST(1000000 AS BIGINT)) DIV n_first"
                " AS BIGINT)"
            ).alias("p_micro"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


BIGRAM_LM_TOP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
big AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM idx),
counts AS (SELECT w1, w2, COUNT(*) AS n_pair FROM big GROUP BY 1, 2),
totals AS (SELECT w1, SUM(n_pair) AS n_first FROM counts GROUP BY 1),
ranked AS (
  SELECT c.w1, c.w2, c.n_pair, t.n_first,
         ROW_NUMBER() OVER (PARTITION BY c.w1
                            ORDER BY c.n_pair DESC, c.w2 ASC) AS rank
  FROM counts c JOIN totals t USING (w1)
  WHERE t.n_first >= {BIGRAM_MIN_FIRST}
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       CAST(n_first AS BIGINT) AS n_first,
       CAST((n_pair * 1000000) // n_first AS BIGINT) AS p_micro,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {BIGRAM_TOP_K}
"""


def _bigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) adjacent-token pairs, expanded MAP-SIDE inside
    the scan stage (zip_with over the token array — no pre-pair token
    explode). Shared by bigram_lm_top's shape and the surprisal scorer.
    Tokenization materialized once instead of once per slice/size
    (CSE skips HOF subtrees — the shingles() lesson)."""
    w = F.col("__w")
    return (
        spread(docs)
        .select("doc_id", textops.tokens("text").alias("__w"))
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                    F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )


def doc_bigram_surprisal(t: Tables) -> DataFrame:
    """X4: per-document mean CONDITIONAL surprisal −ln p(w2|w1) under
    the corpus's own bigram model — the KenLM-shaped quality filter one
    rung above unigram_surprisal: templated/repetitive docs score near
    0 (their transitions are corpus-predictable), rare-transition soup
    scores high. Self-scored on the corpus, so every doc bigram exists
    in the model — no backoff branch to diverge on.

    Cross-engine exactness: the unigram_surprisal discipline —
    −ln p(w2|w1) = ln(n(w1·)/n(w1 w2)) frozen ONCE per model row to an
    integer micro-nat; per-doc sums are exact integer sums; one
    identically-spelled double division at the end.

    Scale shape: bigrams expand map-side; the model table is
    bigram-vocabulary-sized and hash-joins the doc stream on (w1, w2)
    (broadcast while it fits, AQE decides); totals derive from the
    counts frame — the corpus shuffles twice total (model build,
    score join-back), the inverted-index budget."""
    bg = _bigram_stream(t["documents"])
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    totals = counts.groupBy("w1").agg(F.sum("n_pair").alias("n_first"))
    table = counts.join(totals, "w1").select(
        "w1", "w2",
        F.round(
            F.log(F.col("n_first").cast("double")
                  / F.col("n_pair").cast("double")) * 1e6
        ).cast("bigint").alias("micro_nats"),
    )
    return (
        bg.join(table, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("micro_nats").alias("sum_micro"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("sum_micro").cast("double")
                / (F.col("n_bigrams").cast("double") * 1e6),
                6,
            ).alias("mean_surprisal"),
        )
    )


DOC_BIGRAM_SURPRISAL_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
big AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM idx),
counts AS (SELECT w1, w2, COUNT(*) AS n_pair FROM big GROUP BY 1, 2),
totals AS (SELECT w1, SUM(n_pair) AS n_first FROM counts GROUP BY 1),
tbl AS (
  SELECT w1, w2,
         CAST(round(ln(CAST(n_first AS DOUBLE) / CAST(n_pair AS DOUBLE))
                    * 1e6) AS BIGINT) AS micro_nats
  FROM counts JOIN totals USING (w1)
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       round(CAST(SUM(micro_nats) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS mean_surprisal
FROM big JOIN tbl USING (w1, w2)
GROUP BY 1
"""


# --- X4: DSIR hashed-token importance weights (data selection) ---------------
# Data Selection with Importance Resampling (Xie et al., 2023): score
# every raw document by how target-like its hashed-feature distribution
# is, then resample by the importance weight. This query is the scoring
# pass; the resample itself is the existing weighted_doc_sample /
# mixture_resample_docs machinery.
DSIR_BUCKETS = 256
# Stand-in curated target: a fixed source allowlist. A real pipeline
# swaps in the curated corpus (Wikipedia, books, ...) as the target
# side; the plan shape is identical because only bucket COUNTS leave
# the target scan.
DSIR_TARGET_SOURCES = ("src1", "src2", "src3", "src4")


def _dsir_bucketed(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) token stream: whitespace tokens hashed
    into DSIR_BUCKETS buckets (md5-prefix, uniform). Shared by the
    batch query and the streaming model maintainer — works unchanged on
    a streaming frame (explode + hash are map-side)."""
    toks = docs.select(
        "doc_id", "source", F.explode(textops.tokens("text")).alias("tok")
    )
    return toks.select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )


def _dsir_counts(tb: DataFrame) -> DataFrame:
    """The mergeable DSIR model state: per-bucket (c_raw, c_tgt) token
    counts, target counts riding the SAME groupBy as a conditional sum.
    ≤ DSIR_BUCKETS rows — merging two states is column-wise integer
    addition, which is exactly what a streaming incremental aggregation
    does to its state store per micro-batch."""
    return tb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(
            F.when(
                F.col("source").isin(*DSIR_TARGET_SOURCES), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("c_tgt"),
    )


def _dsir_model(counts: DataFrame) -> DataFrame:
    """(bucket, micro_nats) log-ratio table from the count state:
    add-one-smoothed ln(p_tgt/p_raw) frozen to integer micro-nats once
    per bucket. Totals via a WINDOW over the ≤256-row state frame —
    never a separate corpus aggregation."""
    from pyspark.sql.window import Window

    w = Window.partitionBy()  # ≤256 rows: a single-partition window
    t_raw = F.sum("c_raw").over(w)
    t_tgt = F.sum("c_tgt").over(w)
    return counts.select(
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("c_tgt") + 1).cast("double")
                    / (t_tgt + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("c_raw") + 1).cast("double")
                    / (t_raw + DSIR_BUCKETS).cast("double")
                )
            )
            * 1e6
        ).cast("bigint").alias("micro_nats"),
    )


def dsir_importance_weights(t: Tables) -> DataFrame:
    """X4: per-document DSIR importance weight — Σ_tok log(p_target
    [bucket(tok)] / p_raw[bucket(tok)]) with tokens hashed into
    DSIR_BUCKETS buckets and add-one smoothing on both unigram bucket
    models. High weight ⇒ the doc's token mass sits in buckets the
    target distribution over-represents relative to the raw corpus.

    Cross-engine exactness: the per-bucket log-ratio is frozen to an
    INTEGER micro-nat value once per BUCKET (≤256 rows), so per-doc
    weights are exact order-free integer sums; the mean is the raw
    IEEE quotient of those exact integers (deliberately unrounded —
    see the inline comment).

    Scale shape: ONE corpus-sized shuffle (the 256-ary bucket count,
    partial-aggregated map-side; raw and target counts ride the same
    groupBy via a conditional sum) + the doc-keyed weight agg; the
    bucket model is a 256-row broadcast joined map-side, and the
    corpus totals are a WINDOW over that 256-row frame — not a
    separate aggregation — so the corpus is scanned exactly twice
    (model build, weight join), never a third time for the totals.
    Nothing grows with corpus size except the two keyed aggs.

    The model build is split into the three helpers above so the
    streaming twin (:mod:`..streaming.dsirstream`) maintains the SAME
    count state / log-ratio table expressions incrementally."""
    tb = _dsir_bucketed(spread(t["documents"]))
    table = _dsir_model(_dsir_counts(tb))
    return (
        tb.join(F.broadcast(table), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("micro_nats").alias("weight_micro_nats"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "weight_micro_nats",
            # UNROUNDED on purpose: numerator and denominator are exact
            # integers (micro-nat freeze), so the IEEE quotient is
            # bit-identical across engines — while round(x, 6) is NOT
            # when the quotient ties at 6 dp (Spark rounds the shortest
            # decimal repr HALF_UP, DuckDB rounds the binary double;
            # sf0.001 hit -3026448/96e6 = -0.0315255 exactly).
            (
                F.col("weight_micro_nats").cast("double")
                / (F.col("n_tokens").cast("double") * 1e6)
            ).alias("avg_logratio_nats"),
        )
    )


DSIR_IMPORTANCE_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
tb AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS bucket
  FROM toks
),
counts AS (
  SELECT bucket,
         COUNT(*) AS c_raw,
         SUM(CASE WHEN source IN ('src1', 'src2', 'src3', 'src4')
                  THEN 1 ELSE 0 END) AS c_tgt
  FROM tb GROUP BY 1
),
tots AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM counts),
tbl AS (
  SELECT bucket,
         CAST(round((ln(CAST(c_tgt + 1 AS DOUBLE)
                        / CAST(t_tgt + 256 AS DOUBLE))
                     - ln(CAST(c_raw + 1 AS DOUBLE)
                          / CAST(t_raw + 256 AS DOUBLE)))
                    * 1e6) AS BIGINT) AS micro_nats
  FROM counts CROSS JOIN tots
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(micro_nats) AS BIGINT) AS weight_micro_nats,
       CAST(SUM(micro_nats) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS avg_logratio_nats
FROM tb JOIN tbl USING (bucket)
GROUP BY 1
"""


# --- X4: the data-selection pipeline composed end-to-end ----------------------
DQ_K = 10  # quota per source stratum (< the 25-doc sf0.01 strata
# — see ES_K)


def dsir_quota_sample(t: Tables) -> DataFrame:
    """X4: the full data-selection pipeline as ONE Catalyst plan (the
    curation_funnel composition discipline): DSIR-score every doc →
    per-source quality QUARTILE (ntile 4 over a deterministic total
    order, so the integer sampling weight is 1..4 with the most
    target-like docs at 4) → exact-size Efraimidis–Spirakis quota of
    DQ_K docs per source, inclusion biased by the DSIR quartile. This
    is the score→weight→sample chain a mixture builder actually runs;
    each stage is individually oracled elsewhere
    (dsir_importance_weights, es_weighted_sample), and this query pins
    their composition.

    Cross-engine exactness: the quartile ORDER BY is (avg weight, then
    doc_id) — avg_logratio_nats is an exact-int/int IEEE quotient, so
    the total order is deterministic and ntile boundaries agree; the
    ES key reuses the micro-nat freeze with a fresh hash salt (":dq",
    so this sample is independent of es_weighted_sample's).

    Scale shape: DSIR's two corpus passes + one doc-keyed join to
    recover source + two per-source windows (ntile, bottom-k) — all
    source-hash-partitioned, no global sort, no new corpus scan."""
    from pyspark.sql.window import Window

    scored = dsir_importance_weights(t).join(
        t["documents"].select("doc_id", "source"), "doc_id"
    )
    q = F.ntile(4).over(
        Window.partitionBy("source").orderBy(
            F.col("avg_logratio_nats").asc(), F.col("doc_id").asc()
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":dq"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    weighted = scored.select(
        "source",
        "doc_id",
        "avg_logratio_nats",
        q.alias("w"),
        F.round(-F.log((h + 1) / F.lit(_TWO60_F)) * 1e6)
        .cast("bigint")
        .alias("e_micro"),
    )
    key = F.col("e_micro").cast("double") / F.col("w")
    return (
        weighted.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    key.asc(), F.col("doc_id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= DQ_K)
        .select("source", "doc_id", "w", "e_micro", "rk")
    )


DSIR_QUOTA_SAMPLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
tb AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS bucket
  FROM toks
),
counts AS (
  SELECT bucket,
         COUNT(*) AS c_raw,
         SUM(CASE WHEN source IN ('src1', 'src2', 'src3', 'src4')
                  THEN 1 ELSE 0 END) AS c_tgt
  FROM tb GROUP BY 1
),
tots AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM counts),
tbl AS (
  SELECT bucket,
         CAST(round((ln(CAST(c_tgt + 1 AS DOUBLE)
                        / CAST(t_tgt + 256 AS DOUBLE))
                     - ln(CAST(c_raw + 1 AS DOUBLE)
                          / CAST(t_raw + 256 AS DOUBLE)))
                    * 1e6) AS BIGINT) AS micro_nats
  FROM counts CROSS JOIN tots
),
scored AS (
  SELECT doc_id,
         CAST(SUM(micro_nats) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS avg_logratio_nats
  FROM tb JOIN tbl USING (bucket)
  GROUP BY 1
),
weighted AS (
  SELECT d.source, s.doc_id, s.avg_logratio_nats,
         NTILE(4) OVER (
           PARTITION BY d.source
           ORDER BY s.avg_logratio_nats, s.doc_id
         ) AS w,
         CAST(round(-ln(CAST(CAST(('0x' ||
                substr(md5(CAST(s.doc_id AS VARCHAR) || ':dq'), 1, 15))
                AS BIGINT) + 1 AS DOUBLE) / {_TWO60_F!r}) * 1e6)
              AS BIGINT) AS e_micro
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT source, doc_id, w, e_micro,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(e_micro AS DOUBLE) / w, doc_id
         ) AS rk
  FROM weighted
)
SELECT source, doc_id, CAST(w AS INT) AS w, e_micro, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {DQ_K}
"""


# --- X4: reproducible train/val/test split audit ------------------------------
SPLIT_BOUNDS = (80, 90)  # md5 mod 100: <80 train, <90 val, else test


def split_assignment_audit(t: Tables) -> DataFrame:
    """X4: the deterministic holdout split every training run starts
    from — assignment by content-stable hash (md5(doc_id || ':split')
    mod 100 against SPLIT_BOUNDS), audited per (source, split): doc
    count, token mass, and the within-source share. Hash assignment
    (never ORDER BY + percent) means a re-run, a re-partition, or an
    appended shard cannot move an existing doc between splits — the
    leakage-safety property the audit exists to certify.

    Exactness: counts and token sums are integers; share is the
    exact-int/int IEEE quotient. Scale: assignment is map-side; one
    (source, split) agg; the within-source total rides a window over
    the ≤ sources×3-row agg frame (the DSIR totals discipline)."""
    from pyspark.sql.window import Window

    b_train, b_val = SPLIT_BOUNDS
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":split"))
                ),
                1, 8,
            ),
            16, 10,
        )
        % 100
    )
    split = (
        F.when(bucket < b_train, F.lit("train"))
        .when(bucket < b_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    agg = (
        t["documents"]
        .select("source", split.alias("split"), textops.token_count("text").alias("n_tok"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    tot = F.sum("n_docs").over(Window.partitionBy("source"))
    return agg.select(
        "source",
        "split",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / tot.cast("double")).alias(
            "doc_share"
        ),
    )


SPLIT_AUDIT_SQL = f"""
WITH assigned AS (
  SELECT source,
         CASE
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                         || ':split'), 1, 8)) AS BIGINT)
                % 100 < {SPLIT_BOUNDS[0]} THEN 'train'
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                         || ':split'), 1, 8)) AS BIGINT)
                % 100 < {SPLIT_BOUNDS[1]} THEN 'val'
           ELSE 'test'
         END AS split,
         len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS n_tok
  FROM documents
),
agg AS (
  SELECT source, split, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM assigned GROUP BY 1, 2
)
SELECT source, split, n_docs, n_tokens,
       CAST(n_docs AS DOUBLE)
         / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE)
         AS doc_share
FROM agg
"""


# --- X4: skip-gram training pairs (embedding-training data generator) ---------
SKIPGRAM_WINDOW = 2
SKIPGRAM_MIN_N = 5


def skipgram_pairs(t: Tables) -> DataFrame:
    """X4: word2vec/fastText training-pair generation — every
    (center, context) token pair within ±SKIPGRAM_WINDOW positions,
    with pair counts: the thing an embedding-training job streams out
    of the corpus. token_pmi is the window-1 statistical summary;
    this is the raw windowed pair stream both word2vec and
    co-occurrence-matrix factorization (GloVe) consume.

    Scale shape: the forward pairs come from a map-side nested
    ``transform`` over each token array (the token_pmi bigram
    discipline widened to a window) — the corpus NEVER self-joins on
    position; the backward direction is a projection flip of the same
    stream, so symmetry costs zero extra scan; one (center, context)
    keyed agg ends the plan. Output bounded by HAVING n >= SKIPGRAM_MIN_N."""
    docs = spread(t["documents"]).select(
        textops.tokens("text").alias("toks")
    )
    fwd = docs.select(
        F.explode(
            F.flatten(
                F.expr(
                    f"transform(toks, (x, i) -> "
                    f"transform(slice(toks, i + 2, {SKIPGRAM_WINDOW}), "
                    f"y -> struct(x AS center, y AS context)))"
                )
            )
        ).alias("p")
    ).select("p.center", "p.context")
    both = fwd.unionByName(
        fwd.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    return (
        both.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= SKIPGRAM_MIN_N)
    )


SKIPGRAM_PAIRS_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents
),
fwd AS (
  SELECT w[i] AS center, w[i + d] AS context
  FROM toks,
       unnest(range(1, len(w) + 1)) AS t(i),
       unnest([1, 2]) AS u(d)
  WHERE d <= {SKIPGRAM_WINDOW} AND i + d <= len(w)
),
bidir AS (
  SELECT center, context FROM fwd
  UNION ALL
  SELECT context, center FROM fwd
)
SELECT center, context, COUNT(*) AS n_pairs
FROM bidir GROUP BY 1, 2 HAVING COUNT(*) >= {SKIPGRAM_MIN_N}
"""


# --- X4: word2vec negative-sampling table --------------------------------------
NEG_TABLE_TOP_V = 200  # vocabulary rows the table covers


def negative_sampling_table(t: Tables) -> DataFrame:
    """X4: the SECOND artifact a word2vec/contrastive trainer needs
    next to skipgram_pairs — the negative-sampling table: top-V vocab
    with unigram-to-the-3/4 weights (Mikolov's smoothing: rare words
    sampled more than raw frequency, common words less) and the
    cumulative integer ranges an alias/inverse-CDF sampler indexes.

    Cross-engine exactness: freq^0.75 is frozen to integer micro-units
    once per VOCAB row (pow is libm in both engines; the micro-round
    freeze is the repo's established absorption for that — DSIR /
    surprisal discipline), so the cumulative ranges are exact integer
    sums under the (freq DESC, tok ASC) total order. Scale shape: one
    corpus shuffle for the vocab count, a vocab-sized window for the
    top-V cut and the cumsum — the table itself is the broadcast-sized
    artifact the sampler consumes."""
    from pyspark.sql.window import Window

    freq = (
        spread(t["documents"])
        .select(F.explode(textops.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    order = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    top = (
        freq.withColumn("rank", F.row_number().over(order))
        .filter(F.col("rank") <= NEG_TABLE_TOP_V)
        .withColumn(
            "w_micro",
            F.round(F.pow(F.col("freq").cast("double"), F.lit(0.75)) * 1e6)
            .cast("bigint"),
        )
    )
    cum = Window.orderBy(F.col("rank")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return top.select(
        "rank",
        "tok",
        "freq",
        "w_micro",
        (F.sum("w_micro").over(cum) - F.col("w_micro")).alias("range_lo"),
        F.sum("w_micro").over(cum).alias("range_hi"),
    )


NEG_SAMPLING_SQL = f"""
WITH freq AS (
  SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
cnt AS (SELECT tok, COUNT(*) AS freq FROM freq GROUP BY 1),
top AS (
  SELECT tok, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rank,
         CAST(round(POWER(CAST(freq AS DOUBLE), 0.75) * 1e6) AS BIGINT)
           AS w_micro
  FROM cnt
  QUALIFY rank <= {NEG_TABLE_TOP_V}
)
SELECT CAST(rank AS INT) AS rank, tok, freq, w_micro,
       CAST(SUM(w_micro) OVER (ORDER BY rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - w_micro AS BIGINT) AS range_lo,
       CAST(SUM(w_micro) OVER (ORDER BY rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS range_hi
FROM top
"""


# --- X4n: unigram-LM (SentencePiece-style) tokenizer trainer ------------------
# The BPE trainer's sibling (Kudo 2018): a piece inventory is scored by
# a unigram language model and refined by EM; segmentation is the
# Viterbi (min-cost) split of each word. Constants mirror the
# SentencePiece caps: candidate pieces up to 4 chars, words longer than
# 12 chars excluded from training (char-fallback at encode time), the
# multi-char inventory seeded with the top-48 substrings by corpus
# frequency, 2 hard-EM rounds (Viterbi E-step + Laplace-smoothed
# M-step re-estimation with zero-count pruning).
UNIGRAM_MAX_PIECE = 4
UNIGRAM_MAX_WORD = 12
UNIGRAM_TOP_MULTI = 48
UNIGRAM_EM_ROUNDS = 2

# starts = cut positions decoded from the mask bits (bit k-1 set = cut
# after char k), with position 1 always a start; pieces = substrings
# between consecutive starts. Pure integer/string ops — bit-identical
# across engines.
_UNIGRAM_STARTS_EXPR = (
    "concat(array(1), transform("
    " filter(IF(length(word) = 1, array(), sequence(1, length(word) - 1)),"
    "        k -> (shiftright(mask, k - 1) & 1) = 1),"
    " k -> k + 1))"
)
_UNIGRAM_PIECES_EXPR = (
    "transform(sequence(1, size(starts)), i ->"
    " substring(word, element_at(starts, i),"
    "  IF(i < size(starts), element_at(starts, i + 1), length(word) + 1)"
    "  - element_at(starts, i)))"
)


def _unigram_estep(cand_pieces: DataFrame, inv: DataFrame) -> DataFrame:
    """Viterbi E-step: min-cost segmentation per word over the
    enumerated candidate splits, as one broadcast join + one keyed agg
    + one per-word window. A mask is valid only if EVERY piece is in
    the current inventory (n_matched == n_pieces); the all-chars split
    is always valid because single chars are never pruned. Integer
    micro-nat costs make the argmin exact; ties break (fewer pieces,
    lower mask) deterministically."""
    from pyspark.sql.window import Window

    j = cand_pieces.join(
        F.broadcast(inv.select("piece", "score_micro")), "piece", "left"
    )
    agg = j.groupBy("word", "n", "mask", "n_pieces").agg(
        F.count("score_micro").alias("n_matched"),
        F.sum("score_micro").alias("cost"),
    )
    w = Window.partitionBy("word").orderBy("cost", "n_pieces", "mask")
    return (
        agg.filter(F.col("n_matched") == F.col("n_pieces"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("word", "n", "mask", "n_pieces")
    )


def _unigram_mstep(
    winners: DataFrame, cand_pieces: DataFrame, inv: DataFrame
) -> DataFrame:
    """M-step: expected piece counts under the Viterbi segmentation
    (hard EM), zero-count multi-char pieces pruned, scores re-estimated
    with Laplace(+1) smoothing over the kept inventory. Totals ride a
    window over the inventory-sized model frame (the dsir lesson: never
    crossJoin an agg onto a tiny frame)."""
    from pyspark.sql.window import Window

    wp = winners.select("word", "mask", "n").join(
        cand_pieces.select("word", "mask", "piece"), ["word", "mask"]
    )
    cnt = wp.groupBy("piece").agg(F.sum("n").alias("cnt"))
    kept = (
        inv.select("piece")
        .join(cnt, "piece", "left")
        .select(
            "piece", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt")
        )
        .filter((F.length("piece") == 1) | (F.col("cnt") > 0))
    )
    w = Window.partitionBy()
    return (
        kept.withColumn("tot", F.sum("cnt").over(w))
        .withColumn("p_inv", F.count(F.lit(1)).over(w))
        .select(
            "piece",
            "cnt",
            F.round(
                F.log(
                    (F.col("tot") + F.col("p_inv")).cast("double")
                    / (F.col("cnt") + F.lit(1)).cast("double")
                )
                * 1e6
            )
            .cast("bigint")
            .alias("score_micro"),
        )
        .localCheckpoint()
    )


def _unigram_train(t: Tables):
    """Shared trainer core: returns (final inventory frame
    [piece, cnt, score_micro], final word→n_pieces segmentation frame).
    Memoized per run like :func:`_bpe_train`, so the train/encode
    registry pair shares one training pass.

    Scale shape: training state is the VOCAB dimension (distinct
    words ≤ 12 chars), never the corpus — the corpus collapses to
    word→freq in the job's only corpus-sized shuffle. Candidate
    segmentations fan out map-side, bounded by the caps
    (≤ 2^11 masks/word); every EM round is one broadcast join + one
    keyed agg over that bounded frame. At 100 TB the vocab is millions
    of rows and the fan-out is still O(vocab · 2^11) worst-case —
    SentencePiece's own max-length discipline, documented here as the
    cap rather than hidden."""
    docs = t["documents"]

    def train():
        d = spread(docs)
        words = d.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("word")
        ).filter(F.col("word") != "")
        vocab = (
            words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.length("word") <= UNIGRAM_MAX_WORD)
            .localCheckpoint()
        )
        # seed inventory: all substrings ≤ 4 chars weighted by word freq;
        # every single char + the top-48 multi-char candidates.
        cands = vocab.select(
            "n",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), i ->"
                    f" filter(transform(sequence(1, {UNIGRAM_MAX_PIECE}), l ->"
                    "   IF(i + l - 1 <= length(word), substring(word, i, l),"
                    "      NULL)), x -> x IS NOT NULL)))"
                )
            ).alias("piece"),
        )
        freq = cands.groupBy("piece").agg(F.sum("n").alias("f"))
        multi = (
            freq.filter(F.length("piece") >= 2)
            .orderBy(F.col("f").desc(), "piece")
            .limit(UNIGRAM_TOP_MULTI)
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy()
        inv = (
            freq.filter(F.length("piece") == 1)
            .unionByName(multi)
            .withColumn("tot", F.sum("f").over(w))
            .select(
                "piece",
                F.col("f").cast("bigint").alias("cnt"),
                F.round(
                    F.log(F.col("tot").cast("double") / F.col("f").cast("double"))
                    * 1e6
                )
                .cast("bigint")
                .alias("score_micro"),
            )
            .localCheckpoint()
        )
        # candidate segmentations: round-invariant, built and checkpointed
        # ONCE — EM rounds only re-cost them.
        masks = vocab.select(
            "word",
            "n",
            F.explode(
                F.expr("sequence(0, shiftleft(1, length(word) - 1) - 1)")
            ).alias("mask"),
        )
        cand_pieces = (
            masks.withColumn("starts", F.expr(_UNIGRAM_STARTS_EXPR))
            .withColumn("pieces", F.expr(_UNIGRAM_PIECES_EXPR))
            .filter(
                F.expr(
                    "array_max(transform(pieces, p -> length(p)))"
                    f" <= {UNIGRAM_MAX_PIECE}"
                )
            )
            .select(
                "word",
                "n",
                "mask",
                F.size("pieces").alias("n_pieces"),
                F.explode("pieces").alias("piece"),
            )
            .localCheckpoint()
        )
        for _ in range(UNIGRAM_EM_ROUNDS):
            winners = _unigram_estep(cand_pieces, inv)
            inv = _unigram_mstep(winners, cand_pieces, inv)
        seg = _unigram_estep(cand_pieces, inv).select(
            "word", F.col("n_pieces").alias("wpieces")
        ).localCheckpoint()
        return inv, seg

    return dedup.run_memo(docs, ("unigram_train", UNIGRAM_EM_ROUNDS), train)


def unigram_lm_train(t: Tables) -> DataFrame:
    """X4n: the trained unigram-LM piece table (piece, piece_len,
    piece_count, score_micro) after 2 hard-EM rounds — the artifact
    that IS a SentencePiece-style tokenizer. The DuckDB twin unrolls
    the identical rounds (same mask enumeration, same integer argmin,
    same Laplace rescore), so the parity row certifies the full EM."""
    inv, _ = _unigram_train(t)
    return inv.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        F.col("cnt").alias("piece_count"),
        "score_micro",
    ).orderBy(F.col("piece_count").desc(), "piece")


def unigram_lm_encode(t: Tables) -> DataFrame:
    """X4n': the inference path — encode every document with the
    trained model and report per-doc piece economics. The trained
    segmentation lives on the VOCAB dimension (word → piece count from
    the final Viterbi pass); documents explode to (doc_id, word) and
    hash-join it — the corpus never re-enters the EM. Words the trainer
    excluded (> 12 chars) fall back to one piece per char, spelled
    identically in both engines."""
    _, seg = _unigram_train(t)
    d = spread(t["documents"])
    dwords = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        dwords.join(seg, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum(F.coalesce("wpieces", F.length("word")))
            .cast("bigint")
            .alias("n_pieces"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_pieces",
            (
                F.col("n_chars").cast("double")
                / F.col("n_pieces").cast("double")
            ).alias("chars_per_piece"),
        )
    )


def _unigram_estep_sql(r: int) -> str:
    """One unrolled DuckDB E-step over inv{r-1} → win{r}."""
    return f"""
pj{r} AS (
  SELECT c.word, c.n, c.mask, c.n_pieces,
         COUNT(i.piece) AS n_matched,
         SUM(i.score_micro) AS cost
  FROM cand_pieces c LEFT JOIN inv{r - 1} i ON c.piece = i.piece
  GROUP BY 1, 2, 3, 4
),
win{r} AS MATERIALIZED (
  SELECT word, n, mask, n_pieces FROM (
    SELECT word, n, mask, n_pieces,
           ROW_NUMBER() OVER (PARTITION BY word
                              ORDER BY cost, n_pieces, mask) AS rk
    FROM pj{r} WHERE n_matched = n_pieces
  ) WHERE rk = 1
)"""


def _unigram_mstep_sql(r: int) -> str:
    """One unrolled DuckDB M-step: win{r} + inv{r-1} → inv{r}."""
    return f"""
cnt{r} AS (
  SELECT c.piece, SUM(w.n) AS cnt
  FROM win{r} w JOIN cand_pieces c ON w.word = c.word AND w.mask = c.mask
  GROUP BY 1
),
inv{r} AS MATERIALIZED (
  SELECT piece, cnt,
         CAST(round(ln(CAST(SUM(cnt) OVER () + COUNT(*) OVER () AS DOUBLE)
                       / CAST(cnt + 1 AS DOUBLE)) * 1e6) AS BIGINT)
           AS score_micro
  FROM (
    SELECT i.piece, COALESCE(c.cnt, 0) AS cnt
    FROM (SELECT piece FROM inv{r - 1}) i LEFT JOIN cnt{r} c USING (piece)
    WHERE length(i.piece) = 1 OR COALESCE(c.cnt, 0) > 0
  )
)"""


_UNIGRAM_SQL_PREFIX = (
    r"""
WITH words AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
wf AS (
  SELECT word, COUNT(*) AS n FROM words
  WHERE length(word) <= """
    + str(UNIGRAM_MAX_WORD)
    + f"""
  GROUP BY 1
),
cands AS (
  SELECT piece, SUM(n) AS f FROM (
    SELECT n, substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
    FROM wf,
         unnest(range(1, length(word) + 1)) AS t(i),
         unnest(range(1, {UNIGRAM_MAX_PIECE + 1})) AS u(l)
    WHERE i + l - 1 <= length(word)
  ) GROUP BY 1
),
inv0 AS MATERIALIZED (
  SELECT piece, CAST(f AS BIGINT) AS cnt,
         CAST(round(ln(CAST(SUM(f) OVER () AS DOUBLE)
                       / CAST(f AS DOUBLE)) * 1e6) AS BIGINT)
           AS score_micro
  FROM (
    SELECT piece, f FROM cands WHERE length(piece) = 1
    UNION ALL
    SELECT piece, f FROM (
      SELECT piece, f FROM cands WHERE length(piece) >= 2
      ORDER BY f DESC, piece LIMIT {UNIGRAM_TOP_MULTI})
  )
),
cand_pieces AS MATERIALIZED (
  SELECT word, n, mask, len(pieces) AS n_pieces, unnest(pieces) AS piece
  FROM (
    SELECT word, n, mask,
           list_transform(range(1, len(starts) + 1), i ->
             substr(word, CAST(starts[i] AS INT),
                    CAST(CASE WHEN i < len(starts) THEN starts[i + 1]
                              ELSE length(word) + 1 END
                         - starts[i] AS INT))) AS pieces
    FROM (
      SELECT word, n, mask,
             list_concat([CAST(1 AS BIGINT)], list_transform(
               list_filter(range(1, length(word)),
                           k -> ((mask >> CAST(k - 1 AS INT)) & 1) = 1),
               k -> k + 1)) AS starts
      FROM wf, unnest(range(0, 1 << (length(word) - 1))) AS t(mask)
    )
  )
  WHERE list_max(list_transform(pieces, p -> length(p)))
        <= {UNIGRAM_MAX_PIECE}
)"""
    + ","
    + ",".join(
        _unigram_estep_sql(r) + "," + _unigram_mstep_sql(r)
        for r in range(1, UNIGRAM_EM_ROUNDS + 1)
    )
)

UNIGRAM_LM_TRAIN_SQL = (
    _UNIGRAM_SQL_PREFIX
    + f"""
SELECT piece, CAST(length(piece) AS INT) AS piece_len,
       CAST(cnt AS BIGINT) AS piece_count, score_micro
FROM inv{UNIGRAM_EM_ROUNDS}
ORDER BY piece_count DESC, piece
"""
)

UNIGRAM_LM_ENCODE_SQL = (
    _UNIGRAM_SQL_PREFIX
    + ","
    + _unigram_estep_sql(UNIGRAM_EM_ROUNDS + 1)
    + r""",
dwords AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS word
  FROM documents
)
SELECT doc_id, COUNT(*) AS n_words,
       CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
       CAST(SUM(COALESCE(s.n_pieces, length(d.word))) AS BIGINT) AS n_pieces,
       CAST(SUM(length(d.word)) AS DOUBLE)
         / CAST(SUM(COALESCE(s.n_pieces, length(d.word))) AS DOUBLE)
         AS chars_per_piece
FROM dwords d LEFT JOIN win"""
    + str(UNIGRAM_EM_ROUNDS + 1)
    + """ s ON d.word = s.word
GROUP BY doc_id
"""
)
