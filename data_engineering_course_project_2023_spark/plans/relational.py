"""Scan / projection / nested / join operator queries (SURVEY §2.1–2.4).

Each reference operator (cited per function) is exercised on the driver
benchmark tables with a DuckDB oracle, using exactly the Column
expressions the arXiv pipeline modules use — so the oracle gate covers
the same code paths the reference-parity pipeline runs.

String timestamps are exchanged as ISO strings and money as exact
decimals cast to double (see functions.expr) to keep cross-engine hashes
identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import (
    clean_text,
    iso_or_original,
    null_default,
    revenue,
    surrogate_key,
)

Tables = dict[str, DataFrame]


# --- S2: row-range subset (limit/offset) -----------------------------------
def scan_offset_limit(t: Tables) -> DataFrame:
    """S2 (ref: src/utils/utils.py:22-30,36-37): skip to start_row, read N
    rows — well-defined only against an ordering, so the subset is taken
    over o_orderkey. Spark plans this as a global-sort-free
    CollectLimit at small offsets."""
    return (
        t["orders"]
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


SCAN_OFFSET_LIMIT_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100
"""


# --- S4: drop rows where ALL of a column set is null ------------------------
def null_drop_any(t: Tables) -> DataFrame:
    """S4 (ref: src/utils/utils.py:39): dropna(how='all', subset=[...]).
    The driver tables have no nulls, so nulls are synthesized
    deterministically first (nullif), then dropped with na.drop —
    the operator under test."""
    seeded = t["customer"].select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.when(F.col("c_acctbal") < 0, F.col("c_acctbal")).alias("neg_bal"),
    )
    return (
        seeded.na.drop(how="all", subset=["seg_or_null", "neg_bal"])
        .groupBy(F.coalesce("seg_or_null", F.lit("<dropped-seg>")).alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


NULL_DROP_SQL = """
WITH seeded AS (
  SELECT c_custkey,
         nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
         CASE WHEN c_acctbal < 0 THEN c_acctbal END AS neg_bal
  FROM customer
)
SELECT COALESCE(seg_or_null, '<dropped-seg>') AS segment,
       COUNT(*) AS n_rows
FROM seeded
WHERE seg_or_null IS NOT NULL OR neg_bal IS NOT NULL
GROUP BY 1
"""


# --- P4: string split → array-of-struct, flattened --------------------------
def split_names(t: Tables) -> DataFrame:
    """P4 (ref: src/utils/utils.py:73-88): '"A, B"' → [{'name':'A'},...]
    with trim/empty-drop/null→[]. Applied to p_name tokens; output is
    flattened to primitives for the oracle (SURVEY §7 hard part e)."""
    toks = F.filter(
        F.transform(F.split(F.col("p_name"), " "), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    structs = F.transform(toks, lambda x: F.struct(x.alias("name")))
    return t["part"].select(
        "p_partkey",
        F.element_at(structs, 1).getField("name").alias("first_token"),
        F.element_at(structs, -1).getField("name").alias("last_token"),
        F.size(structs).alias("n_tokens"),
    )


SPLIT_NAMES_SQL = """
WITH toks AS (
  SELECT p_partkey,
         list_filter(list_transform(string_split(p_name, ' '), x -> trim(x)),
                     x -> x <> '') AS l
  FROM part
)
SELECT p_partkey, l[1] AS first_token, l[-1] AS last_token,
       CAST(len(l) AS INTEGER) AS n_tokens
FROM toks
"""


# --- P5+P6: token dedup/sort + dictionary remap with pass-through -----------
# Small category map, the analog of category_mapping.json
# (ref: src/resources/category_mapping.json, src/utils/utils.py:45-62).
TOKEN_MAP: dict[str, str] = {
    "red": "color",
    "blue": "color",
    "green": "color",
    "hot": "temp",
    "cold": "temp",
    "small": "size",
    "large": "size",
    "big": "size",
}


def remap_tokens(t: Tables) -> DataFrame:
    """P5 (dedup+sort tokens; ref utils.py:45-46,60) + P6 (map with
    unmapped pass-through; ref utils.py:53-62). The 156-entry category
    map becomes a create_map literal — semantically a broadcast join,
    but folded into the row expression so it never shuffles."""
    m = F.create_map(*[F.lit(x) for kv in TOKEN_MAP.items() for x in kv])
    toks = F.array_distinct(F.split(F.col("p_name"), " "))
    mapped = F.transform(toks, lambda x: F.coalesce(m[x], x))
    return t["part"].select(
        "p_partkey",
        F.concat_ws(" ", F.array_sort(toks)).alias("clean_tokens"),
        F.concat_ws(" ", F.array_sort(F.array_distinct(mapped))).alias(
            "general_tokens"
        ),
    )


_CASE = " ".join(
    f"WHEN x = '{k}' THEN '{v}'" for k, v in TOKEN_MAP.items()
)

REMAP_TOKENS_SQL = f"""
WITH toks AS (
  SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS l FROM part
)
SELECT p_partkey,
       array_to_string(list_sort(l), ' ') AS clean_tokens,
       array_to_string(list_sort(list_distinct(
           list_transform(l, x -> CASE {_CASE} ELSE x END))), ' ')
         AS general_tokens
FROM toks
"""


# --- P7: date reformat with keep-original-on-failure -------------------------
def date_reformat(t: Tables) -> DataFrame:
    """P7 (ref: src/utils/databases.py:56-64): reformat to ISO-8601,
    keeping the original string when parsing fails. Failures are
    synthesized deterministically (every 10th event carries garbage)."""
    raw = F.when(F.col("event_id") % 10 == 0, F.lit("not-a-date")).otherwise(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    df = t["events"].select("event_id", raw.alias("raw_ts"))
    return df.select(
        "event_id",
        iso_or_original("raw_ts", "yyyy-MM-dd HH:mm:ss").alias("iso_ts"),
    )


DATE_REFORMAT_SQL = """
WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN 'not-a-date'
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS raw_ts
  FROM events
)
SELECT event_id,
       COALESCE(strftime(try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S'),
                         '%Y-%m-%dT%H:%M:%S'), raw_ts) AS iso_ts
FROM raw
"""


# --- P8: text normalization ---------------------------------------------------
def normalize_text(t: Tables) -> DataFrame:
    """P8 (ref: src/utils/databases.py:66-74): strip CR/LF, collapse
    whitespace runs, trim. Mess is injected deterministically so the
    cleaner has something to clean."""
    messy = F.concat(
        F.lit("\n  "),
        F.regexp_replace(F.col("text"), " (the|a) ", "\n\t$1  "),
        F.lit(" \r"),
    )
    return t["documents"].select(
        "doc_id", clean_text(messy).alias("clean"), F.length(clean_text(messy)).alias("clean_len")
    )


NORMALIZE_TEXT_SQL = r"""
WITH messy AS (
  SELECT doc_id,
         chr(10) || '  ' ||
         regexp_replace(text, ' (the|a) ', chr(10) || chr(9) || '\1  ', 'g')
         || ' ' || chr(13) AS m
  FROM documents
)
SELECT doc_id,
       trim(regexp_replace(m, '[\s\p{Z}\x{85}\x{0B}]+', ' ', 'g')) AS clean,
       CAST(length(trim(regexp_replace(m, '[\s\p{Z}\x{85}\x{0B}]+', ' ', 'g'))) AS INTEGER)
         AS clean_len
FROM messy
"""


# --- P9: null defaulting ------------------------------------------------------
def null_defaulting(t: Tables) -> DataFrame:
    """P9 (ref: src/utils/databases.py:138-141): null → 'Unknown'."""
    seeded = F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY"))
    return (
        t["customer"]
        .select(null_default(seeded).alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


NULL_DEFAULTING_SQL = """
SELECT COALESCE(nullif(c_mktsegment, 'MACHINERY'), 'Unknown') AS segment,
       COUNT(*) AS n_rows
FROM customer GROUP BY 1
"""


# --- P12: conditional id formatting ------------------------------------------
def conditional_id(t: Tables) -> DataFrame:
    """P12 (ref: src/utils/api.py:182-187): ARXIV:/DOI:/null priority
    chain as when/otherwise."""
    return t["orders"].select(
        "o_orderkey",
        F.when(
            F.col("o_orderstatus") == "F",
            F.concat(F.lit("F:"), F.col("o_orderkey").cast("string")),
        )
        .when(
            F.col("o_orderstatus") == "O",
            F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("formatted_id"),
    )


CONDITIONAL_ID_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'F' THEN 'F:' || CAST(o_orderkey AS VARCHAR)
            WHEN o_orderstatus = 'O' THEN 'O:' || CAST(o_orderkey AS VARCHAR)
       END AS formatted_id
FROM orders
"""


# --- P14/X5: counts + exact distinct -----------------------------------------
def table_counts(t: Tables) -> DataFrame:
    """P14 row count (ref: src/utils/utils.py:90-95) + exact distinct
    counts (X5's exact baseline). Distincts are partial-aggregated
    (two-phase) — no single-reducer bottleneck at scale."""
    return t["lineitem"].agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


TABLE_COUNTS_SQL = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
"""


# --- N1–N4: explode ------------------------------------------------------------
def explode_tokens(t: Tables) -> DataFrame:
    """N1–N4 (ref: src/utils/databases.py:88-122 explode authors/
    references/versions): one output row per array element. Explode of a
    just-split array stays inside whole-stage codegen (Generate node) —
    no shuffle until the aggregation."""
    words = t["documents"].select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.length("word") > 3)
    )


EXPLODE_TOKENS_SQL = """
SELECT u AS word, COUNT(*) AS n_occurrences
FROM (SELECT unnest(string_split(text, ' ')) AS u FROM documents)
GROUP BY 1 HAVING length(u) > 3
"""


# --- N5 + P2: distinct entities with deterministic surrogate keys -------------
def distinct_entities(t: Tables) -> DataFrame:
    """N5 entity dedup (ref: src/utils/databases.py:51,91-93 — first-seen
    UUID per author name) + P2 surrogate keys. uuid4 → ``surrogate_key``
    of the natural key, so keys are stable across runs/retries (SURVEY
    §1.2); projected as lower-case hex for the oracle compare."""
    return (
        t["documents"]
        .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .distinct()
        .select("word", F.lower(F.hex(surrogate_key("word"))).alias("word_key"))
    )


DISTINCT_ENTITIES_SQL = """
SELECT u AS word, md5(u) AS word_key
FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS u FROM documents)
"""


# --- N6: re-nest via collect_list ----------------------------------------------
def collect_renest(t: Tables) -> DataFrame:
    """N6 (ref: src/utils/api.py:256-262): per-key list re-nesting.
    Output flattened to a sorted CSV string so the oracle compare stays
    primitive (SURVEY §7 hard part e)."""
    return (
        t["lineitem"]
        .select("l_orderkey", F.col("l_partkey").cast("string").alias("pk"))
        .groupBy("l_orderkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("pk")), ",").alias("part_csv"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


COLLECT_RENEST_SQL = """
SELECT l_orderkey,
       string_agg(CAST(l_partkey AS VARCHAR), ','
                  ORDER BY CAST(l_partkey AS VARCHAR)) AS part_csv,
       COUNT(*) AS n_parts
FROM lineitem GROUP BY 1
"""


# --- J5: enrichment lookup join -------------------------------------------------
def enrichment_join(t: Tables) -> DataFrame:
    """J5 (ref: src/utils/api.py:5-88): per-row CrossRef lookup by key →
    left join against the lookup table, broadcast (part is the dim)."""
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"), "left")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(revenue()).cast("double").alias("brand_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ENRICHMENT_JOIN_SQL = """
SELECT p_brand AS brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS brand_revenue,
       COUNT(*) AS n_lines
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


# --- J6: batched lookup with key fallback ---------------------------------------
def fallback_join(t: Tables) -> DataFrame:
    """J6 (ref: src/utils/api.py:199-241): primary-key lookup, misses
    retried on a fallback key, rows failing both dropped (J9 anti-join
    semantics). Primary hits are synthesized as the orders whose key is
    divisible by 3; the rest fall back to the plain customer join."""
    orders = t["orders"]
    cust = t["customer"]
    primary = cust.select(
        F.col("c_custkey").alias("pk_key"), F.col("c_name").alias("pk_name")
    )
    fallback = cust.select(
        F.col("c_custkey").alias("fb_key"), F.col("c_name").alias("fb_name")
    )
    joined = (
        orders.withColumn(
            "primary_key",
            F.when(F.col("o_orderkey") % 3 == 0, F.col("o_custkey")),
        )
        .join(F.broadcast(primary), F.col("primary_key") == F.col("pk_key"), "left")
        .join(F.broadcast(fallback), F.col("o_custkey") == F.col("fb_key"), "left")
    )
    return (
        joined.select(
            "o_orderkey",
            F.coalesce("pk_name", "fb_name").alias("cust_name"),
            F.when(F.col("pk_name").isNotNull(), F.lit("primary"))
            .when(F.col("fb_name").isNotNull(), F.lit("fallback"))
            .otherwise(F.lit("miss"))
            .alias("hit_source"),
        )
        .filter(F.col("cust_name").isNotNull())  # J9: drop both-miss rows
        .groupBy("hit_source")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


FALLBACK_JOIN_SQL = """
WITH joined AS (
  SELECT o.o_orderkey,
         pk.c_name AS pk_name, fb.c_name AS fb_name
  FROM orders o
  LEFT JOIN customer pk
    ON (CASE WHEN o.o_orderkey % 3 = 0 THEN o.o_custkey END) = pk.c_custkey
  LEFT JOIN customer fb ON o.o_custkey = fb.c_custkey
)
SELECT CASE WHEN pk_name IS NOT NULL THEN 'primary'
            WHEN fb_name IS NOT NULL THEN 'fallback'
            ELSE 'miss' END AS hit_source,
       COUNT(*) AS n_orders
FROM joined
WHERE COALESCE(pk_name, fb_name) IS NOT NULL
GROUP BY 1
"""


# --- J9: semi/anti joins -----------------------------------------------------------
def semi_anti_customers(t: Tables) -> DataFrame:
    """J9 (ref: src/utils/api.py:214-221,237-238): keep hits via
    left_semi, drop-misses via left_anti — the relational spelling of the
    reference's no_response_indices bookkeeping."""
    orders_keys = t["orders"].select("o_custkey")
    with_orders = (
        t["customer"]
        .join(orders_keys, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("c_mktsegment", "n", F.lit("with_orders").alias("cohort"))
    )
    without_orders = (
        t["customer"]
        .join(orders_keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("c_mktsegment", "n", F.lit("without_orders").alias("cohort"))
    )
    return with_orders.unionByName(without_orders)


SEMI_ANTI_SQL = """
SELECT c_mktsegment, COUNT(*) AS n, 'with_orders' AS cohort
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY 1
UNION ALL
SELECT c_mktsegment, COUNT(*) AS n, 'without_orders' AS cohort
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY 1
"""


# --- window frames: running totals / lag ------------------------------------------
def running_order_totals(t: Tables) -> DataFrame:
    """Window-frame operator: per-customer running order total and
    previous-order delta. Exact decimal arithmetic inside the frame; one
    shuffle on the partition key."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.sum(price).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_total"),
        (price - F.lag(price).over(w)).cast("double").alias("delta_prev"),
    )


RUNNING_TOTALS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
       CAST(CAST(o_totalprice AS DECIMAL(18,2))
            - LAG(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS DOUBLE) AS delta_prev
FROM orders
"""


# --- referential-integrity audit ----------------------------------------------
def referential_audit(t: Tables) -> DataFrame:
    """Data-quality audit: per foreign-key relationship, the row count
    and the number of orphan rows (FK value with no match in the
    parent), the check every warehouse load runs before trusting a
    star schema (the reference loads its DWH with no FK verification;
    ref: src/airflow/dags/populate_DWH.py).

    Scale shape: each orphan probe is a left-anti hash join where the
    parent key set is dimension-sized (broadcast) or co-keyed with the
    fact (orders→lineitem); the per-relation results are one-row
    aggregates unioned driver-free."""

    def audit(name, child, key, parent, pkey):
        par = (
            parent.select(F.col(pkey).alias(key))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        return (
            child.select(key)
            .join(par, key, "left")
            .agg(
                F.lit(name).alias("relationship"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("_hit").isNull(), 1)).alias("n_orphans"),
            )
            .select(
                "relationship",
                "n_rows",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("intact"),
            )
        )

    checks = [
        audit("lineitem.l_orderkey->orders", t["lineitem"], "l_orderkey",
              t["orders"], "o_orderkey"),
        audit("lineitem.l_partkey->part", t["lineitem"], "l_partkey",
              t["part"], "p_partkey"),
        audit("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey",
              t["supplier"], "s_suppkey"),
        audit("orders.o_custkey->customer", t["orders"], "o_custkey",
              t["customer"], "c_custkey"),
        audit("customer.c_nationkey->nation", t["customer"], "c_nationkey",
              t["nation"], "n_nationkey"),
        audit("supplier.s_nationkey->nation", t["supplier"], "s_nationkey",
              t["nation"], "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


REFERENTIAL_AUDIT_SQL = """
SELECT 'lineitem.l_orderkey->orders' AS relationship,
       (SELECT COUNT(*) FROM lineitem) AS n_rows,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) = 0 AS intact
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey)),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey)) = 0
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey)),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey)) = 0
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0
UNION ALL
SELECT 'customer.c_nationkey->nation',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)) = 0
UNION ALL
SELECT 'supplier.s_nationkey->nation',
       (SELECT COUNT(*) FROM supplier),
       (SELECT COUNT(*) FROM supplier s
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = s.s_nationkey)),
       (SELECT COUNT(*) FROM supplier s
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = s.s_nationkey)) = 0
"""


# --- P14+: dataset snapshot manifest -----------------------------------------
_MANIFEST_KEYS = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def table_manifest(t: Tables) -> DataFrame:
    """P14+ reproducibility manifest: per table, the row count and an
    ORDER-FREE key-set fingerprint — Σ over rows of a 60-bit md5 slice
    of the (composite) primary key, summed exactly in DECIMAL(38,0)
    (DuckDB: HUGEINT). Two snapshots with equal manifests hold the same
    key sets regardless of file layout, partitioning, or row order —
    the cheap dataset-versioning check a training run records next to
    its config (full content hashing adds columns to the same fold;
    keys are the stable cross-engine-renderable core).

    Scale shape: per table one map-side hash + a 1-row total agg
    (partial-aggregated — the sum never sees a single-reducer stream
    until 10 part-rows); the 10 one-row frames union into the report.
    The fingerprint is emitted as a digit STRING so every engine and
    every pandas layer hashes it identically (the r2 driver-err
    lesson: exotic numeric dtypes do not survive canonicalizers)."""
    outs = []
    for table, keys in _MANIFEST_KEYS:
        key_str = (
            F.col(keys[0]).cast("string")
            if len(keys) == 1
            else F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
        )
        h = (
            F.conv(F.substring(F.md5(key_str), 1, 15), 16, 10)
            .cast("decimal(38,0)")
        )
        outs.append(
            t[table]
            .select(h.alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("h").alias("fp"),
            )
            .select(
                F.lit(table).alias("tbl"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("fp").cast("string").alias("key_fingerprint"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _manifest_sql_one(table: str, keys: tuple[str, ...]) -> str:
    key = (
        f"CAST({keys[0]} AS VARCHAR)"
        if len(keys) == 1
        else " || '|' || ".join(f"CAST({k} AS VARCHAR)" for k in keys)
    )
    return f"""
SELECT '{table}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(('0x' || substr(md5({key}), 1, 15)) AS BIGINT))
            AS VARCHAR) AS key_fingerprint
FROM {table}
"""


TABLE_MANIFEST_SQL = "\nUNION ALL\n".join(
    _manifest_sql_one(tb, ks) for tb, ks in _MANIFEST_KEYS
)


# --- G1: SCD Type-2 dimension maintenance (gold layer) -----------------------
def scd2_dim_apply(t: Tables) -> DataFrame:
    """G1 (ref: src/airflow/dags/check_DWH.py:30-32,60-63 — the DWH
    declares is_current/start_date/end_date SCD-2 columns whose
    close-old/open-new maintenance the reference's insert-only loader
    never writes): apply a change batch to an SCD-2 dimension through
    :func:`operators.scd.scd2_apply` and emit the maintained dim.

    Both the base dim and the update batch are derived deterministically
    from ``customer`` so the oracle can rebuild them:

    - base current rows: custkey % 3 != 0 (opened 2024-01-01);
    - base history rows: of those, custkey % 10 == 1 carries a closed
      prior version (segment prefixed ``OLD_``, 2023→2024) — the
      pass-through case;
    - updates: custkey % 5 < 2; evens get segment ``_V2``, multiples of
      4 also get balance +100.0 → close+open; odd update keys are
      attribute-identical → idempotent untouched; update keys divisible
      by 3 are absent from the dim → brand-new open rows.

    Scale shape: one broadcast hash join per side (updates are a change
    BATCH — dim-sized × day-fraction, always the small side), history
    passes through scan-only, output unions are narrow. With a
    MERGE-capable table format the same semantics become a partition-
    pruned MERGE; the relational spelling here is the format-free twin.
    """
    from ..operators.scd import scd2_apply

    cust = t["customer"]
    k = F.col("c_custkey")
    base_cur = cust.filter(k % 3 != 0).select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit(True).alias("is_current"),
        F.lit("2024-01-01").cast("timestamp").alias("start_date"),
        F.lit(None).cast("timestamp").alias("end_date"),
    )
    base_hist = cust.filter((k % 3 != 0) & (k % 10 == 1)).select(
        "c_custkey",
        F.concat(F.lit("OLD_"), F.col("c_mktsegment")).alias("c_mktsegment"),
        "c_acctbal",
        F.lit(False).alias("is_current"),
        F.lit("2023-01-01").cast("timestamp").alias("start_date"),
        F.lit("2024-01-01").cast("timestamp").alias("end_date"),
    )
    dim = base_cur.unionByName(base_hist)
    upd = cust.filter(k % 5 < 2).select(
        "c_custkey",
        F.when(k % 2 == 0, F.concat(F.col("c_mktsegment"), F.lit("_V2")))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(k % 4 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    return scd2_apply(
        dim,
        upd,
        "c_custkey",
        ["c_mktsegment", "c_acctbal"],
        F.lit("2024-06-01").cast("timestamp"),
    )


_SCD2_CTE_BODY = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         TIMESTAMP '2024-01-01' AS start_date
  FROM customer WHERE c_custkey % 3 <> 0
),
hist AS (
  SELECT c_custkey, 'OLD_' || c_mktsegment AS c_mktsegment, c_acctbal,
         FALSE AS is_current,
         TIMESTAMP '2023-01-01' AS start_date,
         TIMESTAMP '2024-01-01' AS end_date
  FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 10 = 1
),
upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment || '_V2'
              ELSE c_mktsegment END AS u_seg,
         CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS u_bal
  FROM customer WHERE c_custkey % 5 < 2
),
j AS (
  SELECT cur.c_custkey, cur.c_mktsegment, cur.c_acctbal, cur.start_date,
         upd.c_custkey IS NOT NULL
           AND (cur.c_mktsegment IS DISTINCT FROM upd.u_seg
                OR cur.c_acctbal IS DISTINCT FROM upd.u_bal) AS chg
  FROM cur LEFT JOIN upd ON cur.c_custkey = upd.c_custkey
)"""

_SCD2_SELECT = """
SELECT c_custkey, c_mktsegment, c_acctbal, is_current, start_date, end_date
FROM hist
UNION ALL
SELECT c_custkey, c_mktsegment, c_acctbal, FALSE, start_date,
       TIMESTAMP '2024-06-01'
FROM j WHERE chg
UNION ALL
SELECT c_custkey, c_mktsegment, c_acctbal, TRUE, start_date,
       CAST(NULL AS TIMESTAMP)
FROM j WHERE NOT chg
UNION ALL
SELECT upd.c_custkey, upd.u_seg, upd.u_bal, TRUE,
       TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP)
FROM upd LEFT JOIN cur ON upd.c_custkey = cur.c_custkey
WHERE cur.c_custkey IS NULL
   OR upd.u_seg IS DISTINCT FROM cur.c_mktsegment
   OR upd.u_bal IS DISTINCT FROM cur.c_acctbal
"""

SCD2_DIM_APPLY_SQL = _SCD2_CTE_BODY + _SCD2_SELECT


# --- G1b: SCD-2 as-of (time-travel) read -------------------------------------
def scd2_as_of(t: Tables) -> DataFrame:
    """G1b: the read side of SCD-2 — reconstruct the dimension AS OF a
    past instant from the maintained history (the query a backfill or
    a point-in-time join runs against the gold dim): rows valid at T
    are start_date ≤ T < coalesce(end_date, ∞). Two instants ride in
    one output: 2023-07-01 (the pre-load history era — only the OLD_
    versions exist) and 2024-03-01 (after the initial load, before the
    2024-06-01 change batch). Input is the maintained dim from
    :func:`scd2_dim_apply`, so this also re-checks its output shape
    from the consumer side.

    Scale shape: two predicate-pushed scans of the dim (or one scan +
    flatMap in a real time-travel layer); no joins, no windows."""
    dim = scd2_dim_apply(t)
    outs = []
    for label in ("2023-07-01", "2024-03-01"):
        ts = F.lit(label).cast("timestamp")
        outs.append(
            dim.filter(
                (F.col("start_date") <= ts)
                & (F.col("end_date").isNull() | (F.col("end_date") > ts))
            ).select(
                F.lit(label).alias("as_of"),
                "c_custkey",
                "c_mktsegment",
                "c_acctbal",
            )
        )
    return outs[0].unionByName(outs[1])


SCD2_AS_OF_SQL = (
    _SCD2_CTE_BODY
    + ", dim AS ("
    + _SCD2_SELECT
    + """
)
SELECT '2023-07-01' AS as_of, c_custkey, c_mktsegment, c_acctbal
FROM dim
WHERE start_date <= TIMESTAMP '2023-07-01'
  AND (end_date IS NULL OR end_date > TIMESTAMP '2023-07-01')
UNION ALL
SELECT '2024-03-01' AS as_of, c_custkey, c_mktsegment, c_acctbal
FROM dim
WHERE start_date <= TIMESTAMP '2024-03-01'
  AND (end_date IS NULL OR end_date > TIMESTAMP '2024-03-01')
"""
)


# --- G2: CDC changelog apply (latest-wins upsert + tombstones) --------------
def cdc_apply(t: Tables) -> DataFrame:
    """G2 (ref: src/airflow/dags/check_DWH.py:30-32 — the DWH's
    insert-only loader has no path for upstream corrections or
    deletions; this is the lakehouse-standard CDC compaction that
    closes that gap): apply an ordered changelog of upserts and
    tombstones to a base snapshot and emit the final table state —
    the semantics of a Delta/Iceberg MERGE replayed as latest-wins.

    Base + changelog are derived deterministically from ``orders`` so
    the oracle can rebuild them:

    - base snapshot (seq 0): o_orderkey % 4 != 0, payload as loaded;
    - seq 1 upsert: key % 3 == 0 → status ``U1``, price +10 (keys
      absent from base become inserts — MERGE's not-matched arm);
    - seq 2 tombstone: key % 7 == 0 → delete;
    - seq 3 upsert: key % 21 == 0 → status ``RES``, price +20 — a
      delete-then-reinsert, exercising resurrection.

    Scale shape: ONE shuffle on the key shared by the ranking window;
    per-key state is the op count (bounded by the changelog, not the
    table). On a real lakehouse the base side is the stored table and
    only the changelog scans fresh — the window spelling here is the
    format-free twin of MERGE, exactly as scd2_dim_apply is for SCD-2.
    """
    return cdc_read_view(cdc_latest(cdc_synthetic_log(t)))


def cdc_synthetic_log(t: Tables) -> DataFrame:
    """The deterministic changelog ``cdc_apply`` replays (also written
    to files by the streaming twin's test so stream==batch runs over
    the identical log)."""
    o = t["orders"]
    k = F.col("o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")

    def row(flt, status, pr, seq, op):
        return o.filter(flt).select(
            k.alias("o_orderkey"),
            status.alias("status"),
            pr.cast("decimal(18,2)").alias("price"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    return (
        row(k % 4 != 0, F.col("o_orderstatus"), price, 0, "U")
        .unionByName(row(k % 3 == 0, F.lit("U1"), price + F.lit(10), 1, "U"))
        .unionByName(
            row(
                k % 7 == 0,
                F.lit(None).cast("string"),
                F.lit(None).cast("decimal(18,2)"),
                2,
                "D",
            )
        )
        .unionByName(row(k % 21 == 0, F.lit("RES"), price + F.lit(20), 3, "U"))
    )


def cdc_latest(log: DataFrame) -> DataFrame:
    """Latest-wins compaction of a (key, seq, op, payload) changelog —
    KEEPS tombstones (a delete must survive compaction so later merges
    with lower-seq strays still lose); ``cdc_read_view`` hides them.
    Shared by the batch query and the streaming materialized view."""
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def cdc_read_view(state: DataFrame) -> DataFrame:
    """The queryable face of the compacted state: live rows only."""
    return state.filter(F.col("op") != "D").select(
        "o_orderkey", "status", F.col("price").cast("double").alias("price")
    )


CDC_APPLY_SQL = """
WITH log AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 4 <> 0
  UNION ALL
  SELECT o_orderkey, 'U1',
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DECIMAL(18,2)),
         1, 'U'
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, 2, 'D'
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 'RES',
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 20 AS DECIMAL(18,2)),
         3, 'U'
  FROM orders WHERE o_orderkey % 21 = 0
)
SELECT o_orderkey, status, CAST(price AS DOUBLE) AS price
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_orderkey ORDER BY seq DESC
  ) AS rn
  FROM log
)
WHERE rn = 1 AND op <> 'D'
"""
