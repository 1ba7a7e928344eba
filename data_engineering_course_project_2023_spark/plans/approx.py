"""Sketch-based approximate variants (X5's at-scale path).

The exact forms (count distinct, percentile) are oracle-checked in
eventstream.py / relational.py; these sketch versions are what actually
runs at 100 TB — mergeable sketches partial-aggregate map-side and
shuffle O(sketch) bytes instead of O(distinct values). Two tiers here:
the JVM-internal hash families (HLL++, percentile_approx) are
engine-specific and get rows-only driver checks, while the sketches
built on the repo's own deterministic hash/integer arithmetic (KMV,
Count-Min, the HDR log-histogram quantile sketch) carry EXACT DuckDB
oracles — approximate algorithms with bit-identical cross-engine
answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import tokens

Tables = dict[str, DataFrame]


def approx_distinct_users(t: Tables) -> DataFrame:
    """HLL++ distinct users per event type (rsd 1%) next to the exact
    count so the error is visible in the output."""
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )


def approx_value_quantiles(t: Tables) -> DataFrame:
    """percentile_approx (accuracy 10k) — single-pass mergeable sketch."""
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.25, 0.5, 0.75], 10000).alias("q"),
        )
        .select(
            "event_type",
            F.col("q").getItem(0).alias("p25"),
            F.col("q").getItem(1).alias("p50"),
            F.col("q").getItem(2).alias("p75"),
        )
    )


# --- X5c: KMV (k-minimum-values) distinct sketch, exact-oracled --------------
# Unlike HLL++ (JVM-internal hash family → rows-only check), KMV built on
# the repo's md5-int60 hash is a DETERMINISTIC sketch: both engines
# compute identical hashes, identical k-th minima, and identical IEEE
# estimates (the only float ops are /2^60 — a power of two, exact — and
# one correctly-rounded division). An approx algorithm with an EXACT
# cross-engine oracle.
KMV_K = 64
_TWO60 = float(1 << 60)


def kmv_distinct_users(t: Tables) -> DataFrame:
    """KMV distinct-user estimate per event type next to the exact
    count: estimate = (k−1)/h_(k) with h normalized to [0,1).

    Scale shape: the sketch state is the k smallest DISTINCT hashes per
    group — the same bottom-k discipline as any top-k query: one
    distinct-agg shuffle, then a bounded per-group window on
    (groups × distinct-users) rows, never a global sort. Mergeable by
    construction (union of bottom-k sets → bottom-k)."""
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    hashes = (
        t["events"]
        .select("event_type", h.alias("h"))
        .distinct()
    )
    kth = (
        hashes.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h")
            ),
        )
        .filter(F.col("rk") == KMV_K)
        .select("event_type", (F.col("h") / F.lit(_TWO60)).alias("hk"))
    )
    exact = t["events"].groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(kth, "event_type")
        .select(
            "event_type",
            "exact_users",
            (F.lit(float(KMV_K - 1)) / F.col("hk")).alias("kmv_est"),
        )
    )


KMV_DISTINCT_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM events
),
kth AS (
  SELECT event_type, CAST(h AS DOUBLE) / {float(1 << 60)!r} AS hk
  FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM hashes
  ) WHERE rk = {KMV_K}
),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1
)
SELECT exact.event_type, exact_users, {float(KMV_K - 1)!r} / hk AS kmv_est
FROM exact JOIN kth USING (event_type)
"""


def _kmv_bottomk(events: DataFrame) -> DataFrame:
    """The KMV sketch state itself: the ≤ KMV_K smallest DISTINCT
    user-id hashes per group — bounded rows per group no matter the
    input size, so this frame is what would shuffle/merge at scale."""
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        events.select("event_type", h.alias("h"))
        .distinct()
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h")
            ),
        )
        .filter(F.col("rk") <= KMV_K)
        .select("event_type", "h")
    )


def kmv_sketch_merge(t: Tables) -> DataFrame:
    """X5d mergeability, driver-certified (the hdr_sketch_merge
    discipline for DISTINCT counts): the Spark side builds the KMV
    estimate from a MERGE of two independently-built partial sketches
    (history = event_id % 10 < 8, delta = the rest), where sketch merge
    is union → distinct → re-take bottom-k; the ORACLE recomputes the
    estimate DIRECT over all events. A green parity row is therefore a
    proof that merge == recompute — sound because every one of the
    global k smallest distinct hashes is necessarily among its own
    partial's k smallest, so the union of the two bottom-k sets always
    contains the global bottom-k."""
    from pyspark.sql.window import Window

    ev = t["events"]
    part_a = _kmv_bottomk(ev.where(F.col("event_id") % 10 < 8))
    part_b = _kmv_bottomk(ev.where(F.col("event_id") % 10 >= 8))
    kth = (
        part_a.unionByName(part_b)
        .distinct()  # one user can appear in both row-splits
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h")
            ),
        )
        .filter(F.col("rk") == KMV_K)
        .select("event_type", (F.col("h") / F.lit(_TWO60)).alias("hk"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(kth, "event_type").select(
        "event_type",
        "exact_users",
        (F.lit(float(KMV_K - 1)) / F.col("hk")).alias("kmv_est"),
    )


# merge == recompute is the claim under test, so the oracle IS the
# direct spelling.
KMV_SKETCH_MERGE_SQL = KMV_DISTINCT_SQL


# --- X5d: Count-Min sketch over the token stream, exact-oracled --------------
# Same idea: CMS counters are plain integer counts under md5-derived
# hash rows, so build AND probe are bit-reproducible in DuckDB. The
# sketch answers point frequency queries with one-sided error
# (est ≥ true); the output exposes the overestimate against true counts
# for the heavy-hitter probe set.
CMS_DEPTH = 4  # one md5 → four 32-bit slices, like the MinHash family
CMS_WIDTH = 1024


def cms_token_counts(t: Tables) -> DataFrame:
    """Count-Min frequency estimates for the corpus heavy hitters
    (tokens over 1/200 of the stream — the same probe set as
    heavy_hitter_tokens) next to their true counts.

    Scale shape: the sketch build is ONE shuffle of (depth × width)
    keyed partial counts — counters, not tokens, cross the wire
    (mergeability = partial aggregation); the probe is a broadcast
    join of the heavy-hitter dim against the counter frame. At 100 TB
    the counter frame is still depth·width rows."""
    toks = t["documents"].select(F.explode(tokens("text")).alias("tok"))
    digest = F.md5(F.col("tok"))
    buckets = F.array(
        *[
            (
                F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("long")
                % CMS_WIDTH
            )
            for j in range(CMS_DEPTH)
        ]
    )
    rows = toks.select(F.posexplode(buckets).alias("j", "bucket"))
    counters = rows.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_n"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    heavy = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("true_n") * 200 > F.col("total"))
        .select("tok", "true_n")
    )
    probe = heavy.select(
        "tok", "true_n", F.posexplode(buckets).alias("j", "bucket")
    )
    return (
        probe.join(counters, ["j", "bucket"])
        .groupBy("tok", "true_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "tok",
            "true_n",
            "cms_est",
            (F.col("cms_est") - F.col("true_n")).alias("overestimate"),
        )
    )


_CMS_BUCKET = (
    "CAST(('0x' || substr(md5(tok), 1 + 8 * {j}, 8)) AS BIGINT) % "
    + str(CMS_WIDTH)
)

CMS_TOKEN_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS tok
  FROM documents
),
rows_ AS (
  SELECT j, CASE j
      WHEN 0 THEN {_CMS_BUCKET.format(j=0)}
      WHEN 1 THEN {_CMS_BUCKET.format(j=1)}
      WHEN 2 THEN {_CMS_BUCKET.format(j=2)}
      WHEN 3 THEN {_CMS_BUCKET.format(j=3)}
    END AS bucket
  FROM toks, unnest(range(0, {CMS_DEPTH})) AS u(j)
),
counters AS (SELECT j, bucket, COUNT(*) AS c FROM rows_ GROUP BY 1, 2),
counts AS (SELECT tok, COUNT(*) AS true_n FROM toks GROUP BY 1),
total AS (SELECT COUNT(*) AS total FROM toks),
heavy AS (
  SELECT tok, true_n FROM counts CROSS JOIN total
  WHERE true_n * 200 > total
),
probe AS (
  SELECT tok, true_n, j, CASE j
      WHEN 0 THEN {_CMS_BUCKET.format(j=0)}
      WHEN 1 THEN {_CMS_BUCKET.format(j=1)}
      WHEN 2 THEN {_CMS_BUCKET.format(j=2)}
      WHEN 3 THEN {_CMS_BUCKET.format(j=3)}
    END AS bucket
  FROM heavy, unnest(range(0, {CMS_DEPTH})) AS u(j)
)
SELECT tok, true_n, MIN(c) AS cms_est, MIN(c) - true_n AS overestimate
FROM probe JOIN counters USING (j, bucket)
GROUP BY tok, true_n
"""


# --- X5e: mergeable quantile sketch (log-linear / HDR-style), exact-oracled --
# VERDICT_r4 #2 / VERDICT_r5 #1. KLL and t-digest — the usual mergeable
# quantile sketches — cannot be value-oracled across engines: KLL
# compaction flips coins and t-digest centroids depend on merge order.
# The DETERMINISTIC member of the mergeable-summaries family is the
# fixed-bucket log-histogram (q-digest leaves / DDSketch / HDR
# histogram): bucket = (floor(log2(u)), linear sub-bucket), count per
# bucket. Build is order-insensitive, merge is bucket-wise integer
# addition (commutative, associative, EXACT), and every step below is
# integer arithmetic — floor(log2) via length(bin(u)), powers of two
# via an array literal — so Spark and DuckDB produce bit-identical
# sketches and bit-identical quantile answers. Relative value error is
# bounded by 1/HDR_M per octave; the exact disc-quantile twin rides
# along in the same output (hdr_value_quantiles) so the driver hash
# also pins the error bound, and hdr_sketch_merge builds the sketch as
# a history+delta MERGE while its oracle recomputes direct — the
# parity gate itself certifies merge == recompute.
HDR_M = 32  # linear sub-buckets per power-of-two octave → rel. err ≤ 1/32
_POW2_CSV = ", ".join(str(1 << i) for i in range(63))


def _hdr_hist(df: DataFrame, group: str, units: str) -> DataFrame:
    """(group, lo, cnt): the sketch itself — bucket lower bound `lo`
    in integer units + occupancy. ≤ 63·HDR_M buckets per group no
    matter the input size; this frame IS the mergeable state.

    Domain: units must be a positive integer expression. Non-positive
    rows are filtered here (bin() of a negative long emits 64
    two's-complement bits, which would index past the octave array);
    values at or above 2^58 would overflow (u - p) * HDR_M — under the
    session's ANSI mode that FAILS LOUDLY (the nation_supplier_hhi
    posture) rather than silently diverging, so the practical contract
    is 1 ≤ units < 2^58."""
    return (
        df.selectExpr(group, f"{units} AS u")
        .where(F.col("u") >= 1)
        .selectExpr(group, "length(bin(u)) - 1 AS e", "u")
        .selectExpr(
            group,
            f"element_at(array({_POW2_CSV}), CAST(e + 1 AS INT)) AS p",
            "u",
        )
        .selectExpr(group, "p", f"((u - p) * {HDR_M}) div p AS sub")
        .selectExpr(group, f"p + (sub * p) div {HDR_M} AS lo")
        .groupBy(group, "lo")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _hist_quantiles(
    hist: DataFrame, group: str, prefix: str, scale: int = 100
) -> DataFrame:
    """p25/p50/p75 from a (group, lo, cnt) histogram: rank targets are
    pure-integer ceil(n·q); the answer is the smallest bucket whose
    running count reaches the target. Window spans ≤ 63·HDR_M rows per
    group — bounded regardless of data size. ``scale`` is the
    units-per-value factor the caller bucketed with (cents → 100);
    the emitted quantiles are values (lo / scale), doubles derived
    from integers < 2^53 so the conversion is bit-exact."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group)
        .orderBy("lo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        group,
        "lo",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(group)).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"(n * {a} + {b - 1}) div {b}"),
                F.col("lo"),
            )
        ).alias(f"_{name}")
        for name, a, b in (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4))
    ]
    out = cum.groupBy(group).agg(F.max("n").alias("n"), *picks)
    return out.select(
        group,
        "n",
        *[
            (F.col(f"_{q}").cast("double") / F.lit(float(scale))).alias(
                f"{prefix}{q}"
            )
            for q in ("p25", "p50", "p75")
        ],
    )


# Integer cents of events.value — the repo's established cross-engine
# freeze (rolling_avg_value / value_winsorized spelling): value is a
# 2-dp double, so round(value*100) is the same integer on both engines.
_UNITS_EXPR = "CAST(round(value * 100) AS BIGINT)"


def _event_units(t: Tables) -> DataFrame:
    return t["events"].selectExpr("event_id", "event_type", f"{_UNITS_EXPR} AS u")


def hdr_value_quantiles(t: Tables) -> DataFrame:
    """X5e: per-event-type p25/p50/p75 of events.value from the HDR
    log-histogram sketch, WITH the exact discrete-quantile twin in the
    same output — the driver hash therefore pins not just the sketch
    arithmetic but its error bound (hdr ≤ exact < hdr·(1 + 1/32)).

    Scale shape: the sketch build is one map-side bucket assignment +
    one keyed agg whose output is ≤ 63·HDR_M rows per group — that
    bounded frame IS the state that would shuffle/merge at 100 TB. The
    exact twin costs a (group, distinct-unit) agg — fine at any SF for
    a 2-dp bounded metric, and it exists precisely to ride shotgun on
    the sketch's answer."""
    u = _event_units(t)
    sketch = _hist_quantiles(
        _hdr_hist(u, "event_type", "u"), "event_type", "hdr_"
    )
    # exact twin: the identical rank rule over unit-width buckets
    exact_hist = (
        u.where(F.col("u") >= 1)
        .groupBy("event_type", F.col("u").alias("lo"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = _hist_quantiles(exact_hist, "event_type", "exact_").drop("n")
    return sketch.join(exact, "event_type").select(
        "event_type", "n",
        "hdr_p25", "hdr_p50", "hdr_p75",
        "exact_p25", "exact_p50", "exact_p75",
    )


def _hdr_sql_hist(src: str, group: str = "event_type") -> str:
    """The identical integer bucket spelling in DuckDB: floor(log2) via
    length(bin(u)), power of two via BIGINT shift, floor-div `//`
    (operands non-negative, so it matches Spark's truncating div)."""
    return f"""
  SELECT {group}, p + ((((u - p) * {HDR_M}) // p) * p) // {HDR_M} AS lo,
         COUNT(*) AS cnt
  FROM (SELECT {group}, u, (CAST(1 AS BIGINT) << (length(bin(u)) - 1)) AS p
        FROM {src} WHERE u >= 1)
  GROUP BY 1, 2"""


def _hdr_sql_quantiles(hist: str, prefix: str, group: str = "event_type") -> str:
    return f"""
  SELECT {group}, CAST(MAX(n) AS BIGINT) AS n,
         CAST(MIN(CASE WHEN cum >= (n * 1 + 3) // 4 THEN lo END) AS DOUBLE)
           / 100.0 AS {prefix}p25,
         CAST(MIN(CASE WHEN cum >= (n * 1 + 1) // 2 THEN lo END) AS DOUBLE)
           / 100.0 AS {prefix}p50,
         CAST(MIN(CASE WHEN cum >= (n * 3 + 3) // 4 THEN lo END) AS DOUBLE)
           / 100.0 AS {prefix}p75
  FROM (SELECT {group}, lo,
               SUM(cnt) OVER (PARTITION BY {group} ORDER BY lo
                              ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY {group}) AS n
        FROM {hist})
  GROUP BY 1"""


HDR_VALUE_QUANTILES_SQL = f"""
WITH u AS (
  SELECT event_type, {_UNITS_EXPR} AS u FROM events
),
hist AS ({_hdr_sql_hist("u")}),
sk AS ({_hdr_sql_quantiles("hist", "hdr_")}),
exact_hist AS (
  SELECT event_type, u AS lo, COUNT(*) AS cnt FROM u WHERE u >= 1 GROUP BY 1, 2
),
ex AS ({_hdr_sql_quantiles("exact_hist", "exact_")})
SELECT sk.event_type, sk.n,
       hdr_p25, hdr_p50, hdr_p75,
       exact_p25, exact_p50, exact_p75
FROM sk JOIN ex ON sk.event_type = ex.event_type
"""


def hdr_sketch_merge(t: Tables) -> DataFrame:
    """X5e mergeability, driver-certified: the Spark side builds the
    sketch as a MERGE of two independently-built partial sketches
    (history = event_id % 10 < 8, delta = the rest — the
    incremental_daily_merge split discipline), merging by bucket-wise
    integer addition; the ORACLE recomputes the histogram DIRECT over
    all events. A green parity row is therefore a proof that
    merge == recompute — the property that makes this the sketch you
    can partial-aggregate map-side and across micro-batches at
    100 TB."""
    u = _event_units(t)
    hist_history = _hdr_hist(u.where(F.col("event_id") % 10 < 8),
                             "event_type", "u")
    hist_delta = _hdr_hist(u.where(F.col("event_id") % 10 >= 8),
                           "event_type", "u")
    merged = (
        hist_history.unionByName(hist_delta)
        .groupBy("event_type", "lo")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _hist_quantiles(merged, "event_type", "hdr_")


HDR_SKETCH_MERGE_SQL = f"""
WITH u AS (
  SELECT event_type, {_UNITS_EXPR} AS u FROM events
),
hist AS ({_hdr_sql_hist("u")})
SELECT * FROM ({_hdr_sql_quantiles("hist", "hdr_")})
"""


def hdr_daily_quantiles(t: Tables) -> DataFrame:
    """X5e': the sketch keyed by TIME BUCKET — per (event_type, day)
    p25/p50/p75, the continuous-rollup shape a metrics store maintains
    at ingest: state is ≤ 63·HDR_M integer buckets per (type, day)
    cell, day cells never merge across boundaries, and older days'
    sketches are immutable — exactly the downsample-then-keep-forever
    layout. Reuses the oracled single-key helpers via a composite
    'type|day' group key (the day string is the repo's pinned UTC
    date_format ↔ strftime spelling from daily_event_counts)."""
    u = t["events"].select(
        F.concat_ws(
            "|", F.col("event_type"), F.date_format("ts", "yyyy-MM-dd")
        ).alias("grp"),
        F.expr(_UNITS_EXPR).alias("u"),
    )
    sk = _hist_quantiles(_hdr_hist(u, "grp", "u"), "grp", "hdr_")
    return sk.select(
        F.substring_index("grp", "|", 1).alias("event_type"),
        F.substring_index("grp", "|", -1).alias("day"),
        "n",
        "hdr_p25",
        "hdr_p50",
        "hdr_p75",
    )


HDR_DAILY_QUANTILES_SQL = f"""
WITH u AS (
  SELECT event_type || '|' || strftime(date_trunc('day', ts), '%Y-%m-%d')
           AS grp,
         {_UNITS_EXPR} AS u
  FROM events
),
hist AS ({_hdr_sql_hist("u", group="grp")}),
sk AS ({_hdr_sql_quantiles("hist", "hdr_", group="grp")})
SELECT split_part(grp, '|', 1) AS event_type,
       split_part(grp, '|', 2) AS day,
       n, hdr_p25, hdr_p50, hdr_p75
FROM sk
"""


# --- X5f: KMV cross-sketch set similarity ----------------------------------
def kmv_set_similarity(t: Tables) -> DataFrame:
    """X5f (theta-sketch-style set operations — the capability KMV
    sketches exist for beyond distinct counts): estimated Jaccard
    similarity between every pair of event types' USER SETS computed
    from their bottom-k sketches alone, next to the exact Jaccard as
    the error pin (the hdr_value_quantiles discipline).

    Estimator (Beyer et al. / theta-sketch): take the bottom-k of the
    UNION of the two sketches (union of bottom-k sets ⊇ global
    bottom-k, so this is the union's own sketch); the fraction of
    those ≤k union-minima present in BOTH input sketches estimates
    |A∩B|/|A∪B|. When the union has fewer than k distinct hashes the
    denominator is the union size and the estimate is exact. Ratios
    ship as floor-ppm integers so parity is bit-exact cross-engine.

    Scale shape: the ONLY corpus-sized work is the per-type distinct
    hash shuffle the sketch build already does (shared with
    kmv_distinct_users); everything after — pair enumeration, union
    ranking, membership counting — runs on (types × k)-row frames.
    The exact columns are the audit path a 100 TB run would sample or
    drop; the sketch columns are the product."""
    from pyspark.sql.window import Window

    ev = t["events"]
    # sk feeds both membership unions, types feeds pairs (itself read
    # four times), users feeds both exact-side unions: unmaterialized,
    # each reference re-ran a corpus-sized distinct from its own events
    # scan (12 scans in plans/r11/kmv_set_similarity_before.txt). All
    # three frames are post-aggregation small (types×k / 5 rows /
    # distinct users) — checkpoint once, reread everywhere.
    sk = _kmv_bottomk(ev).localCheckpoint(eager=False)
    types = ev.select("event_type").distinct().localCheckpoint(eager=False)
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    memb = (
        pairs.join(sk, sk["event_type"] == F.col("type_a"))
        .select("type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(sk, sk["event_type"] == F.col("type_b")).select(
                "type_a", "type_b", "h",
                F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
            )
        )
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("h")
    est = (
        memb.withColumn("rk", F.row_number().over(wu))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("denom_k"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("inter_in_k"),
        )
    )
    users = ev.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    ex = (
        pairs.join(
            users.select(
                F.col("event_type").alias("type_a"), "user_id"
            ),
            "type_a",
        )
        .select("type_a", "type_b", "user_id", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(
                users.select(
                    F.col("event_type").alias("type_b"), "user_id"
                ),
                "type_b",
            ).select(
                "type_a", "type_b", "user_id",
                F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
            )
        )
        .groupBy("type_a", "type_b", "user_id")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
        )
    )
    return est.join(ex, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        F.col("inter_in_k").cast("long").alias("inter_in_k"),
        F.col("denom_k").cast("long").alias("denom_k"),
        F.floor(
            F.lit(1000000) * F.col("inter_in_k") / F.col("denom_k")
        ).cast("long").alias("est_jaccard_ppm"),
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_union").cast("long").alias("n_union"),
        F.floor(
            F.lit(1000000) * F.col("n_inter") / F.col("n_union")
        ).cast("long").alias("exact_jaccard_ppm"),
    )


KMV_SET_SIMILARITY_SQL = f"""
WITH sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    )
  ) WHERE rk <= {KMV_K}
),
types AS (SELECT DISTINCT event_type FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
memb AS (
  SELECT type_a, type_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.type_a, p.type_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, s.h, 0, 1
    FROM pairs p JOIN sk s ON s.event_type = p.type_b
  ) GROUP BY 1, 2, 3
),
est AS (
  SELECT type_a, type_b,
         COUNT(*) AS denom_k,
         SUM(in_a * in_b) AS inter_in_k
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY type_a, type_b ORDER BY h
    ) AS rk
    FROM memb
  ) WHERE rk <= {KMV_K}
  GROUP BY 1, 2
),
users AS (SELECT DISTINCT event_type, user_id FROM events),
ex AS (
  SELECT type_a, type_b,
         COUNT(*) AS n_union, SUM(in_a * in_b) AS n_inter
  FROM (
    SELECT type_a, type_b, user_id,
           MAX(in_a) AS in_a, MAX(in_b) AS in_b
    FROM (
      SELECT p.type_a, p.type_b, u.user_id, 1 AS in_a, 0 AS in_b
      FROM pairs p JOIN users u ON u.event_type = p.type_a
      UNION ALL
      SELECT p.type_a, p.type_b, u.user_id, 0, 1
      FROM pairs p JOIN users u ON u.event_type = p.type_b
    ) GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT est.type_a, est.type_b,
       CAST(inter_in_k AS BIGINT) AS inter_in_k,
       CAST(denom_k AS BIGINT) AS denom_k,
       CAST(FLOOR(CAST(1000000 AS BIGINT) * inter_in_k / denom_k) AS BIGINT)
         AS est_jaccard_ppm,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_union AS BIGINT) AS n_union,
       CAST(FLOOR(CAST(1000000 AS BIGINT) * n_inter / n_union) AS BIGINT)
         AS exact_jaccard_ppm
FROM est JOIN ex ON est.type_a = ex.type_a AND est.type_b = ex.type_b
"""
