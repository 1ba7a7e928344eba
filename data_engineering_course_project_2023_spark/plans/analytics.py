"""Analytical query library (SURVEY §2.5 A1–A9, §2.3 J-family).

The reference's analytical workload is declared in
``/root/reference/docs/neo4j_analytical_ideas.md`` (collaboration
networks, most-cited, trends, prolific authors, topic popularity) and its
one shipped query ``create_collaboration_graph.cql``. Here each becomes a
named Spark query over the driver benchmark tables, shaped so the same
operator does the same work the reference's serving layers were built for.

Every function takes the loaded tables dict and returns a lazy DataFrame.
Aggregate columns are aliased to match the DuckDB oracle exactly.

Scale notes (100 TB):
- All dim joins (region/nation/customer/supplier/part) are broadcastable
  at real TPC-H proportions; ``F.broadcast`` hints the small sides so
  plans never sort-merge a dimension.
- The co-order pairs (``copair_counts`` and its graph consumers) come
  from one pair kernel, :func:`pair_stream`: one shuffle of the fact on
  the order key into per-order sets, pairs expanded map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import MONEY, money, revenue
from ..operators.dedup import connected_components, run_memo
from ..session import fixpoint, iterative_shuffle_parts as _iterative_shuffle_parts

Tables = dict[str, DataFrame]


# --- flagship (entry): star join, J8 + A-family --------------------------
def star_revenue_by_region_year(t: Tables) -> DataFrame:
    """Revenue by region × order-year: full star join over the fact table.

    J8 star-join pattern (ref DWH wiring: src/airflow/dags/check_DWH.py:
    39,48,68,94,104). Catalyst broadcasts every dim; the only shuffle is
    the final groupBy — partial aggregation runs map-side.
    """
    return (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.sum(revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


STAR_REVENUE_SQL = """
SELECT r_name AS region,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


# --- A1/J4: the pair kernel (co-occurrence pairs within a set) -------------
def set_pairs(
    sets: DataFrame, keys: list[str], ps: str, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The one within-set pair enumerator: for each row of ``sets``
    (key columns plus ``ps``, an ascending array of distinct non-null
    items) one row ``(keys…, src, dst)`` per unordered pair src < dst.
    ``posexplode`` emits each item with its position and ``explode``
    pairs it with the tail of the set after it, so a row holds one set
    and one item, never the set's square. Fan-out is quadratic in the
    set size. Callers that already hold a sorted set (basket
    marginals, a checkpointed prefix index) pass it here directly."""
    return sets.select(*keys, ps, F.posexplode(ps).alias("_i", src)).select(
        *keys, src, F.explode(F.slice(ps, F.col("_i") + 2, F.size(ps))).alias(dst)
    )


def pair_stream(
    rows: DataFrame, keys: list[str], item: str, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Co-occurrence pairs: one ``(keys…, src, dst)`` row per unordered
    pair src < dst of the distinct non-null ``item`` values under each
    non-null key. Equal to the equi-join ``x JOIN y USING (keys) WHERE
    x.item < y.item`` over the distinct (keys, item) frame, built with
    one shuffle of ``rows`` (the sorted set per key) and
    :func:`set_pairs` map-side."""
    sets = (
        rows.dropna(subset=keys)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_set(item)).alias("_ps"))
    )
    return set_pairs(sets, keys, "_ps", src, dst)


# --- shared co-order pair/edge builds (J4 family) --------------------------
def coorder_edges(li: DataFrame) -> DataFrame:
    """Canonical co-order edge list (src < dst, co-order weight ≥ 2),
    lazy: the pair aggregation over ``li``. Its one caller is
    :func:`coorder_graph`."""
    return (
        pair_stream(li, ["l_orderkey"], "l_partkey")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )


def coorder_graph(li: DataFrame) -> DataFrame:
    """:func:`coorder_edges`, built once per run: an in-memory
    checkpoint memoized by :func:`operators.dedup.run_memo` on
    ``li``'s file identity, so overwriting lineitem rebuilds it and a
    new session never sees it. The edge frame is graph-sized (3.5k rows
    at sf0.1, KB not GB). ``li`` must be the unfiltered lineitem scan.
    Consumers: copair_components, triangle_counts and, through
    :func:`coorder_adjacency`, community_labels, kcore_nodes,
    node_jaccard and adamic_adar. In memory rather than
    ``stage_parquet``: a parquet stage would add stored bytes and buy
    nothing within one run (NOTES.md, "Local finish and one co-order
    graph per run")."""
    return run_memo(
        li, ("coorder_edges",), lambda: coorder_edges(li).localCheckpoint()
    )


def coorder_adjacency(li: DataFrame) -> DataFrame:
    """Directed adjacency (both directions of every weight-≥2 edge):
    :func:`coorder_graph` plus its reverse, a projection of the
    in-memory frame. The naive und ∪ flip(und) spelling re-computed
    the whole pair aggregation per union branch (6.0 s cold at sf0.1);
    aggregating a doubled (x,y)+(y,x) pair stream pushes 2× the rows
    through the aggregate. Consumers: community_labels, kcore_nodes,
    node_jaccard and adamic_adar."""
    und = coorder_graph(li)
    return und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def copair_counts(t: Tables) -> DataFrame:
    """Canonical undirected pair counts of parts co-occurring in an order.

    The reference's co-authorship graph (create_collaboration_graph.cql:
    1-5): authors sharing a publication → parts sharing an order. Cypher
    MERGE produces both edge directions over iterations; we define the
    engine semantics as the canonical pair part_a < part_b (SURVEY
    §4.4). Self-pairs excluded as in the Cypher (`a1 <> a2`).

    Scale: the pairs come from the pair kernel (:func:`pair_stream`:
    one fact shuffle into per-order sets, pairs expanded map-side);
    hot PAIRS remain the aggregation-skew risk — the salted twin below
    handles that, bit-equal.
    """
    return (
        pair_stream(t["lineitem"], ["l_orderkey"], "l_partkey", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


COPAIR_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS n_orders
FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
WHERE a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


# --- A2: most-referenced (top-k with deterministic tiebreak) --------------
def top_parts_by_revenue(t: Tables) -> DataFrame:
    """Top-20 parts by revenue — 'most cited publications' analog
    (neo4j_analytical_ideas.md:8). orderBy+limit → TakeOrderedAndProject,
    a per-partition top-k then single merge; no full sort at scale."""
    return (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(revenue()).cast("double").alias("part_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("part_revenue"), F.asc("l_partkey"))
        .limit(20)
    )


TOP_PARTS_SQL = """
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS part_revenue,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY 1
ORDER BY part_revenue DESC, l_partkey ASC
LIMIT 20
"""


# --- A3: trends over time -------------------------------------------------
def orders_per_year(t: Tables) -> DataFrame:
    """Publications-per-year analog (neo4j_analytical_ideas.md:9)."""
    return (
        t["orders"]
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("total_value"),
        )
    )


ORDERS_PER_YEAR_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_value
FROM orders GROUP BY 1
"""


# --- A4: most prolific ----------------------------------------------------
def prolific_customers(t: Tables) -> DataFrame:
    """Most-prolific-authors analog (neo4j_analytical_ideas.md:12)."""
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        .limit(15)
    )


PROLIFIC_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders GROUP BY 1
ORDER BY n_orders DESC, o_custkey ASC
LIMIT 15
"""


# --- A5: specialization via window ----------------------------------------
def segment_top_customers(t: Tables) -> DataFrame:
    """Author-specialization analog (neo4j_analytical_ideas.md:13):
    rank customers inside their market segment by total spend, keep top 3.
    Window partitioned by segment — one shuffle, no driver collect."""
    spend = (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(money("o_totalprice")).cast("double").alias("spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("spend"), F.asc("c_custkey")
    )
    return (
        spend.withColumn("rank_in_segment", F.row_number().over(w))
        .filter(F.col("rank_in_segment") <= 3)
        .select("c_mktsegment", "c_custkey", "spend", "rank_in_segment")
    )


SEGMENT_TOP_SQL = """
WITH spend AS (
  SELECT c_mktsegment, c_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS spend
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment, c_custkey, spend,
       CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
            ORDER BY spend DESC, c_custkey ASC) AS INTEGER)
         AS rank_in_segment
FROM spend
QUALIFY rank_in_segment <= 3
"""


# --- A6: popularity -------------------------------------------------------
def popular_segments(t: Tables) -> DataFrame:
    """Popular-topics analog (neo4j_analytical_ideas.md:16)."""
    return (
        t["customer"]
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(money("c_acctbal")).cast("double").alias("total_balance"),
        )
    )


POPULAR_SEGMENTS_SQL = """
SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS total_balance
FROM customer GROUP BY 1
"""


# --- A7: year × category matrix (cube) ------------------------------------
def year_priority_cube(t: Tables) -> DataFrame:
    """Topic-evolution matrix analog (neo4j_analytical_ideas.md:17):
    CUBE over (year, priority) gives the matrix plus both margins in one
    pass (partial aggregation handles the grouping-set expansion)."""
    return (
        t["orders"]
        .cube(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


YEAR_PRIORITY_CUBE_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderpriority AS priority, COUNT(*) AS n_orders
FROM orders GROUP BY CUBE (1, 2)
"""


# --- A8: impact percentiles ------------------------------------------------
def customer_spend_percentile(t: Tables) -> DataFrame:
    """Citation-impact-score analog (neo4j_analytical_ideas.md:19-21):
    percent_rank of each customer by total spend. percent_rank is
    (rank-1)/(n-1) — exact integer arithmetic then one IEEE division,
    deterministic across engines."""
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(money("o_totalprice")).cast("double").alias("spend"))
    )
    w = Window.orderBy(F.asc("spend"), F.asc("o_custkey"))
    return spend.withColumn(
        "spend_pctile", F.percent_rank().over(w)
    ).select("o_custkey", "spend", "spend_pctile")


SPEND_PCTILE_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS spend
  FROM orders GROUP BY 1
)
SELECT o_custkey, spend,
       PERCENT_RANK() OVER (ORDER BY spend ASC, o_custkey ASC)
         AS spend_pctile
FROM spend
"""


# --- A9: institutional collaboration (nation-pair trade volume) ------------
def nation_trade_pairs(t: Tables) -> DataFrame:
    """Institutional-collaboration analog (neo4j_analytical_ideas.md:5):
    volume between (customer nation, supplier nation) pairs — TPC-H Q7
    shape. Dims broadcast; one shuffle for the groupBy."""
    cust_nation = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    )
    supp_nation = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    )
    return (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum(revenue()).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


NATION_TRADE_SQL = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS volume,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY 1, 2
"""


# --- TPC-H Q1-shaped pricing summary (scan + wide agg) ---------------------
def pricing_summary(t: Tables) -> DataFrame:
    """Wide aggregation over the fact table — the canonical full-scan agg
    (TPC-H Q1 shape). Everything is partial-aggregatable; the shuffle
    carries only (flag, status) groups."""
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(money("l_extendedprice")).cast("double").alias("sum_base_price"),
            # high-scale decimal sums round to cents BEFORE the double
            # cast: a decimal(38,6) sum at 1e10 magnitude carries >2^53
            # units, and the decimal->double conversion is off-by-one-
            # ulp BETWEEN engines at that width (sf1 parity census
            # catch) — at scale 2 the conversion is exact in both.
            F.sum(revenue())
            .cast("decimal(38,2)").cast("double").alias("sum_disc_price"),
            F.sum(
                revenue() * (F.lit(1).cast(MONEY) + money("l_tax"))
            ).cast("decimal(38,2)").cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       -- ROUND, not a DECIMAL(38,2) cast: DuckDB's decimal cast
       -- TRUNCATES where Spark's rounds HALF_UP; ROUND() matches.
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE)
         AS sum_disc_price,
       -- the tax multiply must stay inside DECIMAL(38): DuckDB widens
       -- a triple product past precision 38 and silently promotes to
       -- DOUBLE, which diverged from Spark's exact decimal(38,6) at
       -- sf1 magnitudes (caught by the sf1 parity census) — so the
       -- revenue product is clamped to DECIMAL(30,4) and the tax
       -- factor to DECIMAL(6,2) before multiplying (36,6): exact.
       CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))
                           AS DECIMAL(30,4))
                      * CAST(1 + CAST(l_tax AS DECIMAL(4,2))
                             AS DECIMAL(6,2))), 2)
            AS DOUBLE)
         AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


# --- J4 at scale: salted variant of the pair-count aggregation -------------
def copair_counts_salted(t: Tables, n_salts: int = 8) -> DataFrame:
    """Skew-hardened spelling of :func:`copair_counts` — same result,
    same oracle.

    Salting splits each pair key across ``n_salts`` partial aggregates
    and re-aggregates the partials — the classic two-stage skew fix,
    kept semantically invisible: salt in, salt out.

    **Measured verdict (round 9, VERDICT_r8 #5)**: on a generated axis
    with REAL Zipf(0.9) part keys (``gen_sf --keys zipf``, hot parts in
    ~3% of all lineitems), the salt still LOSES — 3.71 s plain vs
    4.34 s salted at sf1k (uniform sf1: 4.12 vs 4.68). The reason is
    structural, not noise: ``count(*)`` has map-side partial
    aggregation, so every task pre-collapses its local hot-pair rows
    and each reducer receives at most n_tasks partials per hot key —
    Spark already two-stages the aggregation, and the explicit salt
    only adds a second Exchange. The query is KEPT as the technique
    witness for the aggregations where salting IS the remedy: aggs
    with no partial form (exact ``collect_list``/``collect_set`` per
    key, percentile_approx over a hot key), where the single reducer
    really does receive every raw row.
    """
    pairs = pair_stream(
        t["lineitem"], ["l_orderkey"], "l_partkey", "part_a", "part_b"
    ).select(
        "part_a",
        "part_b",
        # deterministic salt: spreads each hot key over n_salts buckets
        (F.col("l_orderkey") % n_salts).alias("salt"),
    )
    partials = pairs.groupBy("part_a", "part_b", "salt").agg(
        F.count(F.lit(1)).alias("partial_n")
    )
    return (
        partials.groupBy("part_a", "part_b")
        .agg(F.sum("partial_n").cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


# --- rollup: hierarchical margins (A7 companion) ---------------------------
def rollup_year_status(t: Tables) -> DataFrame:
    """ROLLUP (year → status) — hierarchical subtotals + grand total in
    one pass; the grouping-set expansion partial-aggregates map-side
    like CUBE."""
    return (
        t["orders"]
        .rollup(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("total_value"),
        )
    )


ROLLUP_YEAR_STATUS_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders GROUP BY ROLLUP (1, 2)
"""


# --- Q3 shape: shipping priority (filter + join + topk on computed agg) ----
def shipping_priority(t: Tables) -> DataFrame:
    """TPC-H Q3 shape: segment filter → fact join → revenue per order →
    top-10 by revenue with date tiebreak. Filters push into both scans;
    the segment dim filter prunes before the broadcast."""
    cutoff = "1997-06-01"
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") > cutoff)
        .join(
            t["orders"].filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(revenue()).cast("double").alias("order_revenue"))
        .orderBy(F.desc("order_revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS order_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND c_mktsegment = 'BUILDING'
GROUP BY 1, 2, 3
ORDER BY order_revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- Q4 shape: order-priority counts via EXISTS semi-join ------------------
def order_priority_check(t: Tables) -> DataFrame:
    """TPC-H Q4 shape: orders in a date range having at least one line
    item — EXISTS spelled as left_semi (no fan-out, no dedup needed)."""
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .join(
            t["lineitem"].select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY 1
"""


# --- Q18 shape: large-volume customers (HAVING over grouped subquery) ------
def large_volume_customers(t: Tables) -> DataFrame:
    """TPC-H Q18 shape: customers whose single order exceeds a quantity
    threshold — grouped HAVING feeding a join back to the dims."""
    big_orders = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big_orders.join(
            t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
    )


LARGE_VOLUME_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- Q17 shape: correlated scalar subquery → join rewrite -------------------
def small_quantity_revenue(t: Tables) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity is below
    half their part's average quantity. The correlated scalar subquery
    is spelled as an aggregate + self-side join — exactly the rewrite
    Catalyst's decorrelation produces, stated explicitly so the plan is
    one agg + one broadcast join over a single fact scan pair."""
    avg_qty = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.avg(money("l_quantity")).cast("double").alias("avg_qty"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            F.sum(money("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SMALL_QUANTITY_SQL = """
WITH avg_qty AS (
  SELECT l_partkey,
         CAST(AVG(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS small_qty_revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN avg_qty a ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
"""


# --- set operations: intersect / except ------------------------------------
def nation_set_ops(t: Tables) -> DataFrame:
    """INTERSECT / EXCEPT over nation key sets: nations having both
    BUILDING and MACHINERY customers, and nations with customers but no
    suppliers. Both distinct-based set ops partial-aggregate; output
    tagged union keeps the oracle one query."""
    cust = t["customer"]
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("nk")
    )
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_nationkey").alias("nk")
    )
    both = building.intersect(machinery).select(
        "nk", F.lit("building_and_machinery").alias("tag")
    )
    cust_nations = cust.select(F.col("c_nationkey").alias("nk"))
    supp_nations = t["supplier"].select(F.col("s_nationkey").alias("nk"))
    # subtract = EXCEPT DISTINCT (exceptAll would keep multiset dups)
    no_supp = cust_nations.subtract(supp_nations).select(
        "nk", F.lit("customers_no_suppliers").alias("tag")
    )
    return both.unionByName(no_supp)


NATION_SET_OPS_SQL = """
SELECT nk, 'building_and_machinery' AS tag FROM (
  SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'MACHINERY'
)
UNION ALL
SELECT nk, 'customers_no_suppliers' AS tag FROM (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier
)
"""


# --- window feature engineering: ntile / lead / first_value ----------------
def customer_order_features(t: Tables) -> DataFrame:
    """Training-feature shape: per-customer order timeline features —
    first order date, next-order gap (lead), spend quartile (ntile).
    One shuffle on the window key; everything else is frame math."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wq = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    per_order = t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.date_format(
            F.first_value("o_orderdate").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            "yyyy-MM-dd",
        ).alias("first_order_date"),
        (
            F.datediff(
                F.lead("o_orderdate").over(w), F.col("o_orderdate")
            )
        ).alias("days_to_next_order"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    spend = per_order.groupBy("o_custkey").agg(
        F.min("first_order_date").alias("first_order_date"),
        F.max("days_to_next_order").alias("max_gap_days"),
        F.sum("p").cast("double").alias("total_spend"),
    )
    return spend.select(
        "o_custkey",
        "first_order_date",
        "max_gap_days",
        "total_spend",
        F.ntile(4).over(wq).alias("spend_quartile"),
    )


CUSTOMER_FEATURES_SQL = """
WITH per_order AS (
  SELECT o_custkey, o_orderkey,
         strftime(FIRST_VALUE(o_orderdate) OVER w, '%Y-%m-%d')
           AS first_order_date,
         datediff('day', o_orderdate, LEAD(o_orderdate) OVER w)
           AS days_to_next_order,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), spend AS (
  SELECT o_custkey,
         MIN(first_order_date) AS first_order_date,
         CAST(MAX(days_to_next_order) AS INTEGER) AS max_gap_days,
         CAST(SUM(p) AS DOUBLE) AS total_spend
  FROM per_order GROUP BY 1
)
SELECT o_custkey, first_order_date, max_gap_days, total_spend,
       CAST(NTILE(4) OVER (ORDER BY total_spend DESC, o_custkey ASC)
            AS INTEGER) AS spend_quartile
FROM spend
"""


# --- iterative algorithm: connected components of the co-order graph -------
def copair_components(t: Tables, max_iter: int = 40) -> DataFrame:
    """Connected components over the part co-order graph (edges =
    copair_counts pairs, weight ≥ 2): the engine's one CC kernel,
    :func:`operators.dedup.connected_components`, over every part that
    appears in an order. The edges are the run's
    one :func:`coorder_graph`; a graph at or under the kernel's bound
    is collected and finished on the driver, a larger one runs the
    distributed loop, whose round cap raises a typed ScaleGuard instead
    of a partial answer. Oracle: a DuckDB recursive CTE computing
    min-reachable-label — so both branches are exact-checked.
    """
    li = t["lineitem"]
    edges = coorder_graph(li)
    nodes = li.select(F.col("l_partkey").alias("node")).distinct()
    return connected_components(nodes, edges, max_iter).select(
        F.col("node").alias("l_partkey"), F.col("lbl").alias("component")
    )


COPAIR_COMPONENTS_SQL = """
WITH RECURSIVE
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
walk(node, lbl) AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.dst AS node, w.lbl
  FROM walk w JOIN edges e ON w.node = e.src
)
SELECT node AS l_partkey, MIN(lbl) AS component
FROM walk GROUP BY 1
"""


# --- SQL-API surface: same engine, spark.sql entry point -------------------
def sql_revenue_by_status(t: Tables) -> DataFrame:
    """The SQL front door (SURVEY §3.3: the reference ships query TEXT;
    here the engine's SQL surface runs it): registered temp views +
    spark.sql. Same Catalyst plan as the DataFrame spelling — this query
    exists to pin that the SQL API is a first-class entry point."""
    spark = t["orders"].sparkSession
    t["orders"].createOrReplaceTempView("v_orders")
    t["lineitem"].createOrReplaceTempView("v_lineitem")
    return spark.sql("""
        SELECT o.o_orderstatus AS status,
               COUNT(DISTINCT o.o_orderkey) AS n_orders,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM v_orders o JOIN v_lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderstatus
    """)


SQL_REVENUE_BY_STATUS_SQL = """
SELECT o_orderstatus AS status,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


# --- fixed-value pivot (A7's wide spelling) --------------------------------
PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def pivot_year_priority(t: Tables) -> DataFrame:
    """groupBy().pivot() with a FIXED value list (dynamic pivots need a
    driver-side distinct pass; pinning the list keeps the plan static
    and the schema deterministic). One shuffle, conditional partial
    aggregation per pivot column."""
    piv = (
        t["orders"]
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .count()
    )
    renames = {p: f"n_{p.split('-')[0]}" for p in PIVOT_PRIORITIES}
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    return piv.na.fill(0, list(renames.values()))


_PIVOT_COLS = ",\n       ".join(
    f"COUNT(*) FILTER (o_orderpriority = '{p}') AS \"n_{p.split('-')[0]}\""
    for p in PIVOT_PRIORITIES
)

PIVOT_YEAR_PRIORITY_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       {_PIVOT_COLS}
FROM orders GROUP BY 1
"""


# --- Q21 shape: multi-EXISTS / NOT-EXISTS anti-join chain -------------------
def late_sole_suppliers(t: Tables) -> DataFrame:
    """TPC-H Q21 shape (adapted: the testdata lineitem carries shipdate
    only, so "late" = shipped >60 days after the order date): suppliers
    who were the ONLY late supplier on a multi-supplier order.

    EXISTS (another supplier touched the order) is a left_semi join;
    NOT EXISTS (another supplier was also late) is a left_anti join —
    both equi on l_orderkey with the <> residual, so Catalyst keeps
    them hash joins, never a nested loop. The `late` frame is built
    once (localCheckpoint — round 11: the lazy spelling re-ran the
    lineitem⋈orders build for the anti side too, 3 lineitem scans in
    plans/r11/late_sole_suppliers_before.txt) and reused for the probe
    and the anti side; at scale all three shuffles share the
    l_orderkey partitioning."""
    late = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(t["orders"].select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .localCheckpoint(eager=False)
    )
    others = t["lineitem"].select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    return (
        late
        .join(others,
              (F.col("l_orderkey") == F.col("ok2"))
              & (F.col("l_suppkey") != F.col("sk2")),
              "left_semi")
        .join(late_others,
              (F.col("l_orderkey") == F.col("ok3"))
              & (F.col("l_suppkey") != F.col("sk3")),
              "left_anti")
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


LATE_SOLE_SUPPLIERS_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY 1
"""


# --- Q22 shape: global scalar subquery + anti-join --------------------------
def idle_rich_customers(t: Tables) -> DataFrame:
    """TPC-H Q22 shape: per nation, customers whose balance is above the
    global positive-balance average and who placed no orders in 1997.

    The global average is a one-row agg broadcast via cross join; the
    comparison is multiplied out (bal * n > total) so both engines
    decide it in exact DECIMAL arithmetic — no float threshold flips.
    NOT EXISTS is a left_anti on the 1997 order keys."""
    stats = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(money("c_acctbal")).alias("bal_total"),
            F.count(F.lit(1)).alias("bal_n"),
        )
    )
    orders_97 = (
        t["orders"]
        .filter(F.year("o_orderdate") == 1997)
        .select("o_custkey")
    )
    return (
        t["customer"]
        # one-row scalar broadcast: BroadcastNestedLoopJoin with a
        # single-row build side — the plan Spark itself produces for a
        # scalar subquery; sanctioned in the plan-hygiene sweep
        .crossJoin(F.broadcast(stats))
        .filter(money("c_acctbal") * F.col("bal_n") > F.col("bal_total"))
        .join(orders_97, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(money("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


IDLE_RICH_SQL = """
WITH stats AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_total,
         COUNT(*) AS bal_n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer, stats
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal_n > bal_total
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND year(o_orderdate) = 1997)
GROUP BY 1
"""


# --- Q2 shape: correlated MIN subquery → join-back --------------------------
def cheapest_supplier_per_nation(t: Tables) -> DataFrame:
    """TPC-H Q2 shape (no partsupp table in the testdata, so the
    correlated MIN runs over supplier balances): for each nation, the
    supplier(s) holding the minimum account balance. The correlated
    scalar subquery is spelled as groupBy-min + equality join-back —
    the decorrelation Catalyst would produce. The per-nation min frame
    is nation-count sized → broadcast; the equality compare happens in
    DECIMAL so both engines pick identical rows."""
    min_bal = (
        t["supplier"]
        .groupBy(F.col("s_nationkey").alias("mn_nationkey"))
        .agg(F.min(money("s_acctbal")).alias("min_bal"))
    )
    return (
        t["supplier"]
        .join(F.broadcast(min_bal),
              (F.col("s_nationkey") == F.col("mn_nationkey"))
              & (money("s_acctbal") == F.col("min_bal")))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "s_suppkey", "s_name",
                money("s_acctbal").cast("double").alias("acctbal"))
    )


CHEAPEST_SUPPLIER_SQL = """
WITH min_bal AS (
  SELECT s_nationkey AS mn_nationkey,
         MIN(CAST(s_acctbal AS DECIMAL(18,2))) AS min_bal
  FROM supplier GROUP BY 1
)
SELECT n_name, s_suppkey, s_name,
       CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
FROM supplier
JOIN min_bal ON s_nationkey = mn_nationkey
            AND CAST(s_acctbal AS DECIMAL(18,2)) = min_bal
JOIN nation ON s_nationkey = n_nationkey
"""


# --- Q11 shape: HAVING against a global scalar aggregate --------------------
def nation_revenue_share(t: Tables) -> DataFrame:
    """TPC-H Q11 shape: supplier nations contributing more than 1/25th
    of global revenue. The global total is a one-row agg cross-joined
    in (broadcast); the HAVING threshold is multiplied out
    (rev * 25 > total) to stay in exact DECIMAL on both engines."""
    enriched = (
        t["lineitem"]
        .select("l_suppkey", revenue().alias("rev"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
    )
    total = enriched.agg(F.sum("rev").alias("total_rev"))
    return (
        enriched
        .groupBy("s_nationkey")
        .agg(F.sum("rev").alias("nation_rev"))
        # one-row scalar broadcast (see idle_rich_customers)
        .crossJoin(F.broadcast(total))
        .filter(F.col("nation_rev") * 25 > F.col("total_rev"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.col("nation_rev").cast("double").alias("nation_revenue"))
    )


NATION_REVENUE_SHARE_SQL = """
WITH enriched AS (
  SELECT s_nationkey,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
),
per_nation AS (
  SELECT s_nationkey, SUM(rev) AS nation_rev FROM enriched GROUP BY 1
),
total AS (SELECT SUM(rev) AS total_rev FROM enriched)
SELECT n_name, CAST(nation_rev AS DOUBLE) AS nation_revenue
FROM per_nation
JOIN nation ON s_nationkey = n_nationkey
CROSS JOIN total
WHERE nation_rev * 25 > total_rev
"""


# --- Q13 shape: left-outer count distribution -------------------------------
def order_count_distribution(t: Tables) -> DataFrame:
    """TPC-H Q13 shape: the distribution of finished-order counts per
    customer, zero included — customer LEFT JOIN orders, count the
    non-null side, then aggregate the counts themselves. Two shuffles
    (custkey, then c_count); the second input is customer-count sized."""
    return (
        t["customer"].select("c_custkey")
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


ORDER_COUNT_DIST_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus = 'F'
  GROUP BY 1
)
GROUP BY 1
"""


# --- A10: integer PageRank over the trade graph ------------------------------
PR_SCALE = 10**12
PR_ITERS = 3
_SUPP_OFFSET = 10**9


def integer_pagerank(
    edges: DataFrame, seeds: DataFrame | None = None
) -> DataFrame:
    """PageRank with restart on ``seeds``, in integer units: distinct
    ``edges`` (src, dst) → (node, pr). ``seeds`` is a frame of distinct
    ``node`` ids; without it every node is a seed, which is global
    PageRank.

    Rule: each seed starts at ``init = PR_SCALE // |seeds|``; each of
    the ``PR_ITERS`` rounds sets ``pr = restart + (85 * Σ pr DIV deg)
    DIV 100``, where ``restart = (15 * init) DIV 100`` on seeds and 0
    elsewhere. Nodes without out-edges are sinks and their mass leaves.
    Integer sums make the answer the same under any partitioning, so it
    is checked exactly against :func:`pagerank_ctes`. Zero seeds give
    an empty frame (the SQL's ``// 0`` is NULL). The two checkpoints are
    the only build-time actions: the seed count is observed on the node
    checkpoint, and the rounds unroll into the returned plan. Evidence:
    building pagerank_trade on its test fixture runs 9 jobs, with no
    ``count()`` job (NOTES.md "One PageRank kernel").
    """
    # Measured negative: a count window over src instead of this
    # agg + join saves one job but shuffles every edge unaggregated
    # (sf0.1, 4 cores: 2.4 → 4.6 MB shuffle write, +1 s executor CPU).
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = edges.join(deg, "src").localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is None:
        nodes = nodes.withColumn("seed", F.lit(True))
    else:
        nodes = nodes.join(
            seeds.select("node", F.lit(True).alias("seed")), "node", "left"
        )
    n_seeds = Observation()
    nodes = nodes.observe(
        n_seeds, F.count(F.when(F.col("seed"), 1)).alias("n")
    ).localCheckpoint()
    s = n_seeds.get["n"]
    if s == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("pr")).limit(0)

    def on_seeds(v: int) -> Column:
        return F.when(F.col("seed"), F.lit(v)).otherwise(F.lit(0)).cast("long")

    init = PR_SCALE // s
    pr = nodes.select("node", on_seeds(init).alias("pr"))
    nodes = nodes.select("node", on_seeds((15 * init) // 100).alias("restart"))
    for _ in range(PR_ITERS):
        insum = (
            edges.join(pr, edges["src"] == pr["node"])
            .groupBy("dst")
            .agg(F.sum(F.expr("pr DIV deg")).alias("s"))
        )
        pr = nodes.join(insum, nodes["node"] == insum["dst"], "left").select(
            "node",
            (
                F.col("restart")
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
            ).cast("long").alias("pr"),
        )
    return pr


def pagerank_ctes(edges: str, seeds: str | None = None) -> str:
    """The DuckDB twin of :func:`integer_pagerank`, as the body of a
    WITH list: ``pr0`` … ``pr{PR_ITERS}`` are the (node, pr) rounds
    over the query ``edges`` (distinct src, dst). ``seeds`` is a query
    of seed node ids; without it every node is a seed."""
    seed = "TRUE" if seeds is None else f"node IN ({seeds})"
    rounds = "".join(
        f""", c{k} AS (
  SELECT e.dst, SUM(r.pr // e.deg) AS s
  FROM edges e JOIN pr{k - 1} r ON r.node = e.src
  GROUP BY 1
), pr{k} AS (
  SELECT nd.node,
         CAST(CASE WHEN nd.seed THEN (SELECT restart FROM consts) ELSE 0 END
              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes nd LEFT JOIN c{k} c ON c.dst = nd.node
)"""
        for k in range(1, PR_ITERS + 1)
    )
    return f"""edges AS (
  SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS deg FROM ({edges})
), nodes AS (
  SELECT node, {seed} AS seed
  FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
), consts AS (
  SELECT {PR_SCALE} // COUNT(*) AS init,
         (15 * ({PR_SCALE} // COUNT(*))) // 100 AS restart
  FROM nodes WHERE seed
), pr0 AS (
  SELECT node,
         CAST(CASE WHEN seed THEN (SELECT init FROM consts) ELSE 0 END
              AS BIGINT) AS pr
  FROM nodes
){rounds}"""


def _trade_edges(t: Tables) -> DataFrame:
    """Distinct customer → supplier edges: the customer ordered from the
    supplier at least once. Supplier ids are offset by _SUPP_OFFSET so
    both kinds share one node id space."""
    li = t["lineitem"].select("l_orderkey", "l_suppkey")
    o = t["orders"].select("o_orderkey", "o_custkey")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )


def _trade_node_type() -> Column:
    return (
        F.when(F.col("node") >= _SUPP_OFFSET, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type")
    )


_TRADE_EDGES_SQL = f"""
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + {_SUPP_OFFSET} AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""
_TRADE_NODE_TYPE_SQL = (
    f"CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END"
    " AS node_type"
)


def pagerank_trade(t: Tables) -> DataFrame:
    """A10: global :func:`integer_pagerank` over the customer→supplier
    trade graph; suppliers are sinks."""
    return integer_pagerank(_trade_edges(t)).select(
        "node", _trade_node_type(), F.col("pr").alias("pr_units")
    )


PAGERANK_SQL = f"""
WITH {pagerank_ctes(_TRADE_EDGES_SQL)}
SELECT node, {_TRADE_NODE_TYPE_SQL}, pr AS pr_units
FROM pr{PR_ITERS}
"""


# --- A10b: personalized PageRank ---------------------------------------------
PPR_SEED_NATION = 7


def ppr_trade(t: Tables) -> DataFrame:
    """A10b: personalized PageRank over the same trade graph, restarting
    on the customers of nation PPR_SEED_NATION, so rank measures
    proximity to the seeds rather than global importance. Nodes without
    mass are dropped: with a localized restart most of the graph holds
    none."""
    seeds = (
        t["customer"]
        .filter(F.col("c_nationkey") == PPR_SEED_NATION)
        .select(F.col("c_custkey").alias("node"))
    )
    return (
        integer_pagerank(_trade_edges(t), seeds)
        .filter(F.col("pr") > 0)
        .select("node", _trade_node_type(), F.col("pr").alias("ppr_units"))
    )


_PPR_SEEDS_SQL = (
    f"SELECT c_custkey FROM customer WHERE c_nationkey = {PPR_SEED_NATION}"
)
PPR_SQL = f"""
WITH {pagerank_ctes(_TRADE_EDGES_SQL, _PPR_SEEDS_SQL)}
SELECT node, {_TRADE_NODE_TYPE_SQL}, pr AS ppr_units
FROM pr{PR_ITERS}
WHERE pr > 0
"""


# --- A11: triangle counting ---------------------------------------------------
def triangle_counts(t: Tables) -> DataFrame:
    """A11: per-node triangle participation in the part co-order graph
    (edges = canonical copair pairs with weight ≥ 2, as in
    copair_components). The a<b<c edge orientation enumerates each
    triangle exactly once, so the two self-joins stay linear in the
    wedge count — the standard distributed triangle algorithm (no
    per-node adjacency materialization). The edge list is orders of
    magnitude smaller than lineitem; the joins shuffle only edges."""
    edges = coorder_graph(t["lineitem"])
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("na"),
            F.col("e1.dst").alias("nb"),
            F.col("e2.dst").alias("nc"),
        )
    )
    return (
        tri.select(F.explode(F.array("na", "nb", "nc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


TRIANGLE_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
), tri AS (
  SELECT e1.src AS na, e1.dst AS nb, e2.dst AS nc
  FROM edges e1
  JOIN edges e2 ON e2.src = e1.dst
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT node, COUNT(*) AS n_triangles
FROM (SELECT unnest([na, nb, nc]) AS node FROM tri)
GROUP BY 1
"""


# --- materialized-aggregate maintenance (partial-agg merge) -------------------
def incremental_agg_merge(t: Tables) -> DataFrame:
    """Incremental materialized-view maintenance: the gold aggregate is
    kept as MERGEABLE partials (decimal sum + count) so a new
    partition's delta folds into the stored state with a delta-sized
    agg instead of a full recompute — the warehouse-refresh pattern the
    reference re-runs populate_DWH for on every DAG cycle (ref:
    src/airflow/dags/populate_DWH.py full-reload loop). Spelled here as
    base(<cut) ⊎ delta(>=cut) merged and proven equal to the one-shot
    aggregate by the oracle. AVG is re-derived from merged sum/count —
    the reason avg itself is never the stored state. Decimal partials
    make the merge exact under any partitioning/arrival order."""
    orders = t["orders"]
    cut = F.lit("1996-01-01").cast("timestamp_ntz")

    def _partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").alias("order_year"), "o_orderpriority"
        ).agg(
            F.sum(money("o_totalprice")).alias("_sum"),
            F.count(F.lit(1)).alias("_n"),
        )

    merged = (
        _partial(orders.filter(F.col("o_orderdate") < cut))
        .unionByName(_partial(orders.filter(F.col("o_orderdate") >= cut)))
        .groupBy("order_year", "o_orderpriority")
        .agg(F.sum("_sum").alias("_sum"), F.sum("_n").alias("_n"))
    )
    return merged.select(
        "order_year",
        "o_orderpriority",
        F.col("_n").alias("n_orders"),
        F.col("_sum").cast("double").alias("total_price"),
        (F.col("_sum").cast("double") / F.col("_n")).alias("avg_price"),
    )


INCREMENTAL_AGG_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_price
FROM orders GROUP BY 1, 2
"""


# --- Z-order (Morton) clustering keys -----------------------------------------
def _morton_sql(k1: str, k2: str, bits: int, spark_dialect: bool) -> str:
    """Bit-interleave expression for (k1, k2) & (2^bits−1), emitted in
    either Spark SQL (shiftleft/shiftright functions) or DuckDB
    (<< / >> operators) spelling — same arithmetic, same result."""
    terms = []
    for i in range(bits):
        if spark_dialect:
            terms.append(
                f"shiftleft(shiftright({k1}, {i}) & 1, {2 * i + 1})"
                f" + shiftleft(shiftright({k2}, {i}) & 1, {2 * i})"
            )
        else:
            terms.append(
                f"((({k1} >> {i}) & 1) << {2 * i + 1})"
                f" + ((({k2} >> {i}) & 1) << {2 * i})"
            )
    return " + ".join(terms)


def zorder_keys(t: Tables) -> DataFrame:
    """Z-order (Morton) clustering: interleave 16 bits of l_orderkey ×
    l_partkey into one sort key so a single range-clustered layout
    serves point/range predicates on EITHER column — the multi-dim
    data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER) that plain
    range-partitioning on one key can't give. Pure codegen bit math,
    zero shuffle before the bucket agg; per-bucket key spans are the
    min/max file-skipping stats a writer would persist. At 100 TB the
    zval is the repartitionByRange + sortWithinPartitions key (see the
    range-clustered export); this query IS the stats manifest."""
    li = t["lineitem"].select(
        (F.col("l_orderkey") % 65536).alias("k1"),
        (F.col("l_partkey") % 65536).alias("k2"),
    )
    zval = F.expr(_morton_sql("k1", "k2", 16, spark_dialect=True))
    return (
        li.withColumn("zval", zval)
        .groupBy(F.shiftright("zval", 22).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k1").alias("min_k1"),
            F.max("k1").alias("max_k1"),
            F.min("k2").alias("min_k2"),
            F.max("k2").alias("max_k2"),
        )
    )


ZORDER_KEYS_SQL = f"""
WITH keyed AS (
  SELECT l_orderkey % 65536 AS k1, l_partkey % 65536 AS k2 FROM lineitem
), z AS (
  SELECT k1, k2, {_morton_sql('k1', 'k2', 16, spark_dialect=False)} AS zval
  FROM keyed
)
SELECT CAST(zval >> 22 AS BIGINT) AS zbucket, COUNT(*) AS n_rows,
       MIN(k1) AS min_k1, MAX(k1) AS max_k1,
       MIN(k2) AS min_k2, MAX(k2) AS max_k2
FROM z GROUP BY 1
"""


# --- exact Pearson correlation ------------------------------------------------
def corr_quantity_discount(t: Tables) -> DataFrame:
    """Per-returnflag Pearson correlation between quantity and discount
    via the closed-form moment sums over exact integers (quantity is
    integral, discount is 2dp -> whole percent points), so the final
    double expression — products, sqrt, division — is bit-identical
    across engines (profiling/feature-selection shape; DuckDB's corr()
    computes the same quantity in streaming double, we pin exact).

    Scale shape: pure partial-aggregable sums — one shuffle to a
    handful of flag groups, no second pass, no window."""
    li = t["lineitem"].select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varx_n = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vary_n = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(varx_n) * F.sqrt(vary_n)
    return sums.select(
        "l_returnflag",
        "n",
        (F.col("sx") / F.col("n").cast("double")).alias("mean_qty"),
        (F.col("sy") / (F.col("n") * F.lit(100.0))).alias("mean_discount"),
        F.when(den != 0, cov_n / den).alias("corr_qty_discount"),
    )


CORR_QTY_DISCOUNT_SQL = """
WITH sums AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
         CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                  * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS syy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
       CAST(sy AS DOUBLE) / (n * 100.0) AS mean_discount,
       CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) <> 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS corr_qty_discount
FROM sums
"""


# --- blocked fuzzy string matching --------------------------------------------
def fuzzy_part_pairs(t: Tables) -> DataFrame:
    """Entity-resolution candidate pairs: block parts by
    (brand, size) — a standard blocking key — and keep within-block
    name pairs whose Levenshtein edit distance is small. The classic
    fuzzy-dedup shape (reference dedups entities by exact key only;
    ref: src/airflow/dags/transform_dataset_stage_3.py authors dedup),
    here with the quadratic cost bounded per block.

    Scale shape (r7 restructure, measured at the sf1 scale census):
    the naive record-level self-join re-evaluates Levenshtein on every
    candidate pair — O(block²) string compares that scale quadratically
    when block occupancy grows (exponent 1.74 at 10×, the worst in the
    repo). Names are low-cardinality relative to records (every real
    catalog's property), so the compare now runs ONCE per distinct
    (name_a, name_b) pair per block — group records to
    (block, name) → keys[], name-level self-join (distinct-name
    cardinality is bounded, so this stage's cost stops growing with
    corpus size once blocks saturate their name space), then expand
    record pairs MAP-SIDE from the two key arrays. Same-name record
    pairs (edit 0) come from each group's own sorted key array through
    the pair kernel (:func:`set_pairs`).
    Output rows are identical to the naive spelling (the oracle is
    unchanged — parity is the losslessness proof); the output itself is
    inherently per-block-quadratic, but it is now produced by pure
    array expansion inside the scan/join stage, not by a quadratic
    stream of string-distance evaluations. Measured 28.7 s → see
    SCALE.md (r7) at sf1; the pair canonicalization (least/greatest)
    makes the row set independent of collect_list's partition order."""
    p = t["part"].select("p_partkey", "p_brand", "p_size", "p_name")
    g = (
        p.groupBy("p_brand", "p_size", "p_name")
        .agg(F.collect_list("p_partkey").alias("keys"))
        .localCheckpoint()
    )
    a = g.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_name").alias("name_a"),
        F.col("keys").alias("keys_a"),
    )
    b = g.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_name").alias("name_b"),
        F.col("keys").alias("keys_b"),
    )
    cross = (
        a.join(b, ["brand", "size"])
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 6)
        .select(
            "brand",
            "edit_dist",
            F.explode("keys_a").alias("ka"),
            "keys_b",
        )
        .select(
            "brand",
            "edit_dist",
            "ka",
            F.explode("keys_b").alias("kb"),
        )
        .select(
            F.least("ka", "kb").alias("key_a"),
            F.greatest("ka", "kb").alias("key_b"),
            "brand",
            "edit_dist",
        )
    )
    same = set_pairs(
        g.select(F.col("p_brand").alias("brand"), F.sort_array("keys").alias("keys")),
        ["brand"],
        "keys",
        "key_a",
        "key_b",
    ).select("key_a", "key_b", "brand", F.lit(0).alias("edit_dist"))
    return cross.unionByName(same)


def part_golden_records(t: Tables) -> DataFrame:
    """Entity resolution END-TO-END (the MDM completion of
    fuzzy_part_pairs): blocked fuzzy match pairs → connected components
    → one GOLDEN RECORD per entity cluster with survivorship rules
    (canonical id = min key — deterministic; name from the canonical
    row; members + max price aggregated across the cluster). The
    reference dedups entities by exact key only
    (src/airflow/dags/transform_dataset_stage_3.py); this is the fuzzy
    upgrade a real master-data pipeline ships.

    Scale shape (r8 restructure, forced by the sf10 second-decade
    census): the r7 spelling ran CC over RECORD-level match pairs —
    474 M pairs at sf10 (measured; block occupancy is quadratic in SF
    once the fixture's 80 k-name space saturates), which killed the
    context after 485 s. But the match predicate depends only on
    (brand, size, name), so records sharing a name-node are
    interchangeable: CC now runs over DISTINCT NAME-NODES (node id =
    the node's min p_partkey — min-label CC then converges to the
    cluster-min record key, i.e. exactly the old entity_id), and
    records never expand into pairs at all — each name-node carries
    its record count and price max as pre-aggregated survivorship
    state. Corpus-scale work: ONE groupBy of part + broadcast-able
    joins; the name-level match join and the CC iterate on the
    bounded name graph (80 k nodes at sf10 vs 2 M records). Output
    rows identical to the r7 spelling; the oracle (naive
    record-level recursive-CTE walk) is UNCHANGED, so the parity row
    is the losslessness proof (the fuzzy_part_pairs precedent).
    Measured: >485 s (context death) → 4.3 s at sf10.
    Singleton name-nodes are their own golden record — the LEFT join
    + coalesce keeps them."""
    p = t["part"].select("p_partkey", "p_brand", "p_size", "p_name",
                         "p_retailprice")
    g = (
        p.groupBy("p_brand", "p_size", "p_name")
        .agg(
            F.min("p_partkey").alias("node"),
            F.count(F.lit(1)).alias("n_records"),
            F.max("p_retailprice").alias("node_max_price"),
        )
        .localCheckpoint()
    )
    na = g.select(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("size"),
        F.col("p_name").alias("name_a"), F.col("node").alias("src"),
    )
    nb = g.select(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("size"),
        F.col("p_name").alias("name_b"), F.col("node").alias("dst"),
    )
    edges = (
        na.join(nb, ["brand", "size"])
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 6)
        .select("src", "dst")
        .localCheckpoint()
    )
    # iterate CC only over name-nodes that MATCHED something (the r7
    # matched-subgraph rule, now one more level up the cardinality
    # ladder): singleton nodes keep their own label via the coalesce.
    matched = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    comp = connected_components(matched, edges)
    labeled = g.join(comp, "node", "left").select(
        F.col("node"),
        F.coalesce(F.col("lbl"), F.col("node")).alias("entity_id"),
        "p_name",
        "n_records",
        "node_max_price",
    )
    agg = labeled.groupBy("entity_id").agg(
        F.sum("n_records").alias("n_members"),
        F.round(F.max("node_max_price"), 2).alias("max_price"),
    )
    canonical = labeled.filter(
        F.col("node") == F.col("entity_id")
    ).select("entity_id", F.col("p_name").alias("canonical_name"))
    return agg.join(canonical, "entity_id").select(
        "entity_id", "canonical_name", "n_members", "max_price"
    )


PART_GOLDEN_RECORDS_SQL = """
WITH RECURSIVE
p AS (SELECT p_partkey, p_brand, p_size, p_name, p_retailprice FROM part),
und AS (
  SELECT a.p_partkey AS src, b.p_partkey AS dst
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 6
),
edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
walk(node, lbl) AS (
  SELECT p_partkey AS node, p_partkey AS lbl FROM p
  UNION
  SELECT e.dst AS node, w.lbl
  FROM walk w JOIN edges e ON w.node = e.src
),
comp AS (SELECT node, MIN(lbl) AS entity_id FROM walk GROUP BY 1),
labeled AS (
  SELECT p.p_partkey, c.entity_id, p.p_name, p.p_retailprice
  FROM p JOIN comp c ON p.p_partkey = c.node
),
agg AS (
  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         ROUND(MAX(p_retailprice), 2) AS max_price
  FROM labeled GROUP BY 1
)
SELECT a.entity_id, l.p_name AS canonical_name, a.n_members, a.max_price
FROM agg a JOIN labeled l ON l.p_partkey = a.entity_id
"""


FUZZY_PART_PAIRS_SQL = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_brand AS brand,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 6
"""


# --- Benford first-digit profile ----------------------------------------------
def first_digit_profile(t: Tables) -> DataFrame:
    """Benford's-law audit: distribution of the first significant
    digit of l_extendedprice vs the Benford expectation log10(1+1/d)
    (fraud/data-quality screening shape). The digit comes from the
    decimal string of exact integer cents — identical across engines —
    and the expectation is rounded to 6dp to absorb libm ulp skew.

    Scale shape: map + partial-agg count to 9 groups; the expectation
    is a constant expression — nothing shuffles but 9 rows."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        t["lineitem"]
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy()
    return counts.select(
        "digit",
        "n",
        (F.col("n") / F.sum("n").over(tot).cast("double")).alias("observed"),
        F.round(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")),
            6,
        ).alias("benford_expected"),
    )


FIRST_DIGIT_SQL = """
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT digit, n,
       CAST(n AS DOUBLE)
         / CAST(CAST(SUM(n) OVER () AS BIGINT) AS DOUBLE) AS observed,
       ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
         AS benford_expected
FROM counts
"""


# --- BFS shortest hops over the trade graph -----------------------------------
def trade_hops(t: Tables) -> DataFrame:
    """Minimum-hop BFS distance from customer #1 over the undirected
    customer↔supplier trade graph, 4 levels (the "how close is this
    entity" graph query the reference's Neo4j ideas list sketches as
    shortestPath; ref: docs/neo4j_analytical_ideas.md). Exact integer
    hops, checked against a DuckDB recursive-CTE twin whose UNION
    dedup bounds the working set to (node × hop).

    Scale shape: per level one equi-join frontier-expand + distinct +
    anti-join against the visited set — the standard scalable BFS;
    the frontier is localCheckpoint-ed so lineage stays flat. Levels
    are fixed (4), so the plan is statically bounded."""
    pairs = _trade_edges(t)
    n_edges = Observation()
    edges = (
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .observe(n_edges, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    seed = edges.sparkSession.range(1).select(
        F.lit(1).cast("bigint").alias("node"), F.lit(0).alias("hop")
    )
    # Only each level's frontier is checkpointed; the visited set is a
    # union of those already-materialized frontiers, so re-checkpointing
    # it every round would double the materialization work.
    #
    # Round 10 (VERDICT_r9 #8): the frontier and the anti-join's
    # visited set are NODES-ONLY frames — the hop is constant within a
    # level and only the final output needs it, so carrying it through
    # the per-level expand/distinct/anti-join shuffles dead weight
    # exactly where sf30 spills. Hop labels are re-attached to the
    # already-materialized level frames at the end. (sf30 A/B numbers:
    # NOTES.md round-10 log.)
    frontier = seed.select("node")
    visited_nodes = frontier
    levels = [seed]
    # per-level reducer sizing: the expand/distinct/anti-join chain
    # moves edge/frontier-sized data — same scoped iterative clamp as
    # the CC kernel, sized by the count observed on the edge checkpoint.
    with _iterative_shuffle_parts(edges.sparkSession, n_edges.get["n"]):
        for h in range(1, 5):
            nxt = (
                edges.join(frontier, edges["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited_nodes, "node", "left_anti")
                .localCheckpoint()
            )
            levels.append(nxt.select("node", F.lit(h).alias("hop")))
            visited_nodes = visited_nodes.unionByName(nxt)
            frontier = nxt
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


TRADE_HOPS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT o.o_custkey AS src, l.l_suppkey + {{supp_offset}} AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
  UNION ALL
  SELECT l.l_suppkey + {{supp_offset}} AS src, o.o_custkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), bfs(node, hop) AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
  UNION
  SELECT e.dst AS node, b.hop + 1 AS hop
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.hop < 4
)
SELECT node, MIN(hop) AS hop FROM bfs GROUP BY 1
""".replace("{supp_offset}", str(_SUPP_OFFSET))


# --- explicit GROUPING SETS with grouping-id disambiguation --------------------
def grouping_sets_revenue(t: Tables) -> DataFrame:
    """Explicit GROUPING SETS — (year), (priority), () — with
    GROUPING() flags so all-rows aggregates are distinguishable from
    genuine NULL keys (the cube/rollup cousins cover the hierarchical
    cases; this is the hand-picked-sets one). Single pass, map-side
    partial aggregation across the set expansion."""
    o = t["orders"].select(
        F.year("o_orderdate").alias("order_year"),
        F.col("o_orderpriority").alias("priority"),
        money("o_totalprice").alias("price"),
    )
    return (
        o.groupingSets(
            [["order_year"], ["priority"], []],
            "order_year",
            "priority",
        )
        .agg(
            F.grouping("order_year").cast("int").alias("g_year"),
            F.grouping("priority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_value"),
        )
    )


GROUPING_SETS_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderpriority AS priority,
       CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_value
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority), ())
"""


# --- ntile decile banding ------------------------------------------------------
def customer_ltv_deciles(t: Tables) -> DataFrame:
    """Customer lifetime-value deciles: total spend per customer,
    ntile(10) banding (deterministic under the spend-then-key total
    order), then per-decile size and exact decimal value range — the
    marketing-segmentation shape. One keyed agg shuffle + one global
    window over customer-sized data, then a 10-row agg."""
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(money("o_totalprice")).alias("spend"))
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("spend").cast("double").alias("min_spend"),
            F.max("spend").cast("double").alias("max_spend"),
            F.sum("spend").cast("double").alias("total_spend"),
        )
    )


CUSTOMER_LTV_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1
), banded AS (
  SELECT spend,
         NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
  FROM spend
)
SELECT decile, COUNT(*) AS n_customers,
       CAST(MIN(spend) AS DOUBLE) AS min_spend,
       CAST(MAX(spend) AS DOUBLE) AS max_spend,
       CAST(SUM(spend) AS DOUBLE) AS total_spend
FROM banded GROUP BY 1
"""


# --- A13: label-propagation communities ---------------------------------------
_LPA_ROUNDS = 3


def community_labels(t: Tables) -> DataFrame:
    """A13: synchronous label propagation (LPA) over the part co-order
    graph — the community-detection counterpart to copair_components
    (CC answers "connected at all?", LPA answers "which dense cluster?").

    Update rule, chosen for exactness: each round every node adopts the
    MOST FREQUENT label among its neighbors AND ITSELF (the self-vote
    prevents the classic synchronous-LPA two-cycle where an isolated
    pair swaps labels forever), ties broken by MIN label; nodes with no
    neighbors keep their own. Synchronous rounds + deterministic
    tie-break make the algorithm a pure function of the graph, so the
    fixed {n} rounds UNROLL into one statically-bounded plan (like
    pagerank_trade) and the whole iteration is exact-checked against an
    unrolled DuckDB twin. Per round: one edge⋈label join, one
    (node,label) count, one per-node argmax window over label-sized
    data.

    Scale: messages are edge-sized, the count collapses to (node,
    distinct neighbor label) before the window, and the window
    partitions by node — no global sort, no all-pairs anything.
    """
    nodes = (
        t["lineitem"].select(F.col("l_partkey").alias("node")).distinct()
        .localCheckpoint()
    )
    edges = (
        coorder_adjacency(t["lineitem"])
        # self-loops = the self-vote in the update rule
        .unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .localCheckpoint()
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl").asc())
    for _ in range(_LPA_ROUNDS):
        msgs = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            msgs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl"),
            )
        )
    return labels.select("node", F.col("lbl").alias("community"))


def _lpa_round_sql(r: int) -> str:
    prev = f"lab_{r - 1}"
    return f"""
msgs_{r} AS (
  SELECT e.dst AS node, l.lbl, COUNT(*) AS c
  FROM edges e JOIN {prev} l ON e.src = l.node
  GROUP BY 1, 2
),
best_{r} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM msgs_{r}
  ) WHERE rn = 1
),
lab_{r} AS (
  SELECT p.node, COALESCE(b.lbl, p.lbl) AS lbl
  FROM {prev} p LEFT JOIN best_{r} b ON p.node = b.node
)"""


COMMUNITY_LABELS_SQL = (
    """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nodes0 AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und
          UNION ALL SELECT node, node FROM nodes0),
lab_0 AS (SELECT node, node AS lbl FROM nodes0),"""
    + ",".join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))
    + f"""
SELECT node, lbl AS community FROM lab_{_LPA_ROUNDS}
"""
)


# --- A14: unpivot (wide → long reshaping) --------------------------------------
def unpivot_measures(t: Tables) -> DataFrame:
    """A14: melt/unpivot — the inverse of pivot_year_priority: a wide
    per-flag measure frame reshaped to (key, measure, value) rows.
    Unpivot is a zero-shuffle map operation (each input row fans out to
    k rows locally), so the plan is agg → melt with no extra Exchange.
    Measures are summed exactly in DECIMAL then cast to double for the
    common unpivot value type."""
    li = t["lineitem"]
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_disc"),
        F.sum(F.col("l_tax").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_tax"),
    )
    return wide.unpivot(
        "l_returnflag",
        ["sum_price", "sum_disc", "sum_tax"],
        "measure",
        "value",
    )


UNPIVOT_MEASURES_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
         CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, measure, value
FROM wide
UNPIVOT (value FOR measure IN (sum_price, sum_disc, sum_tax))
"""


# --- A15: 2-D skyline (Pareto frontier) ---------------------------------------
def brand_frontier(t: Tables) -> DataFrame:
    """A15: per-brand Pareto frontier over (maximize p_retailprice,
    minimize p_size) — the "best tradeoff set" query (skyline operator).

    The textbook spelling is a quadratic NOT-EXISTS dominance anti-join;
    for a 2-D skyline the sort trick makes it one window pass: dedupe
    each (brand, size) to its best price (same-size lower prices are
    dominated), order sizes ascending, and keep a row iff its price
    STRICTLY exceeds the running max over all smaller sizes — exactly
    the non-dominated set. Cost: one keyed shuffle + two windows over
    brand-sized partitions; never O(n²). Ties on price at the same size
    resolve to the lowest partkey (deterministic representative)."""
    p = t["part"]
    w_best = Window.partitionBy("p_brand", "p_size").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    best = (
        p.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .select("p_brand", "p_size", "p_retailprice", "p_partkey")
    )
    w_run = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_size").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        best.withColumn("_prevmax", F.max("p_retailprice").over(w_run))
        .filter(
            F.col("_prevmax").isNull()
            | (F.col("p_retailprice") > F.col("_prevmax"))
        )
        .select("p_brand", "p_size", "p_retailprice", "p_partkey")
    )


BRAND_FRONTIER_SQL = """
WITH best AS (
  SELECT p_brand, p_size, p_retailprice, p_partkey FROM (
    SELECT p_brand, p_size, p_retailprice, p_partkey,
           ROW_NUMBER() OVER (PARTITION BY p_brand, p_size
                              ORDER BY p_retailprice DESC, p_partkey) AS rn
    FROM part
  ) WHERE rn = 1
),
run AS (
  SELECT p_brand, p_size, p_retailprice, p_partkey,
         MAX(p_retailprice) OVER (
           PARTITION BY p_brand ORDER BY p_size
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prevmax
  FROM best
)
SELECT p_brand, p_size, p_retailprice, p_partkey
FROM run
WHERE prevmax IS NULL OR p_retailprice > prevmax
"""


# --- A16: k-core peeling -------------------------------------------------------
_KCORE_K = 2
_KCORE_ROUNDS = 6


def kcore_nodes(t: Tables) -> DataFrame:
    """A16: k-core decomposition (k={k}) of the part co-order graph by
    iterative peeling — at most {r} rounds of "drop every node whose
    current degree < k", the dense-subgraph extraction used to find the
    stable heart of a collaboration/co-purchase network.

    The round cap keeps the query a TOTAL function of the input —
    semantics are "{r} peels", which the unrolled DuckDB twin
    reproduces exactly. Peels run on :func:`session.fixpoint` with the
    surviving-edge count as probe: peeling only removes edges, so an
    unchanged count is an unchanged edge set and the remaining peels
    are no-ops — stopping there returns the same rows as the full {r}.
    On both test SFs the peel reaches its fixpoint within the cap
    (sf0.01 after 3 peels, sf0.1 after 5), so the result IS the 2-core
    there. Per round: one degree agg + one semi-join pair, both keyed —
    no all-pairs anything.

    Output: (l_partkey, core_degree) for surviving nodes.
    """

    def peel(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("src")
        return cur.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    # a capped peel is the contract, so non-convergence is not an error
    cur, _converged = fixpoint(
        coorder_adjacency(t["lineitem"]), peel, F.count(F.lit(1)), _KCORE_ROUNDS,
        label="kcore_nodes",
    )
    return (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("src").alias("l_partkey"), "core_degree")
    )


kcore_nodes.__doc__ = kcore_nodes.__doc__.format(k=_KCORE_K, r=_KCORE_ROUNDS)


def _kcore_round_sql(r: int) -> str:
    prev = f"e_{r - 1}"
    return f"""
deg_{r} AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM {prev} GROUP BY 1),
keep_{r} AS MATERIALIZED (SELECT src FROM deg_{r} WHERE deg >= {_KCORE_K}),
e_{r} AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM {prev} e
  JOIN keep_{r} k1 ON e.src = k1.src
  JOIN keep_{r} k2 ON e.dst = k2.src
)"""


KCORE_NODES_SQL = (
    """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
e_0 AS MATERIALIZED (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),"""
    + ",".join(_kcore_round_sql(r) for r in range(1, _KCORE_ROUNDS + 1))
    + f"""
SELECT src AS l_partkey, COUNT(*) AS core_degree
FROM e_{_KCORE_ROUNDS} GROUP BY 1
"""
)


# --- A17: RFM segmentation -----------------------------------------------------
def customer_rfm(t: Tables) -> DataFrame:
    """A17: recency/frequency/monetary segmentation — the classic
    customer-base health matrix. One keyed agg builds the per-customer
    (R, F, M) triple; three ntile(4) windows band them (customer-sized
    data — same single-sort caveat and fix as customer_ltv_deciles);
    deterministic tiebreak by custkey everywhere. Output: one row per
    (r_band, f_band, m_band) cell with its population and value."""
    o = t["orders"]
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    w_r = Window.orderBy(F.col("last_order").desc(), F.col("o_custkey"))
    w_f = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    w_m = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    banded = per_cust.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(w_r).alias("r_band"),
        F.ntile(4).over(w_f).alias("f_band"),
        F.ntile(4).over(w_m).alias("m_band"),
    )
    return banded.groupBy("r_band", "f_band", "m_band").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("total_value"),
    )


CUSTOMER_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY 1
),
banded AS (
  SELECT o_custkey, monetary,
         NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_band,
         NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_band,
         NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_band
  FROM per_cust
)
SELECT r_band, f_band, m_band, COUNT(*) AS n_customers,
       CAST(SUM(monetary) AS DOUBLE) AS total_value
FROM banded GROUP BY 1, 2, 3
"""


# --- A18: market concentration (HHI) ------------------------------------------
def nation_supplier_hhi(t: Tables) -> DataFrame:
    """A18: Herfindahl–Hirschman concentration of supplier revenue
    within each nation — the market-structure metric (10000·Σ share²).

    Determinism, the hard way (both naive spellings fail): summing
    per-supplier ``share²`` doubles is partition-order dependent, and
    even exact decimal moments diverge at the final DECIMAL(38)→DOUBLE
    cast (engines round that conversion differently, and ROUND(…,6)
    still flips when a value lands on the half-digit boundary — seen
    live at sf0.01). So the metric is integer end-to-end, the
    pagerank_trade micro-unit discipline: exact cent sums Σrev·100 and
    Σ(rev·100)² in DECIMAL(38,0), then
    hhi_micro = (Σrev²·10¹⁰) div (Σrev)² — integer div, exact on both
    engines; hhi = hhi_micro/1e6 is derived from an int < 2^53, so even
    the double is bit-identical. Two keyed aggs; nation dim broadcasts.

    Precision ceiling, REMOVED (r3 ADVICE / VERDICT_r5 #3): the naive
    Σ(rev_c²)·10¹⁰ intermediate caps Σ(rev_c²) at 10²⁸ in decimal(38,0)
    — a single supplier above ~$10¹² revenue (or enough of them) would
    fail-loud under ANSI. The hardened spelling pre-divides each
    nation's cents to a coarser power-of-TEN unit chosen from that
    nation's own (supplier count, max revenue) with pure digit-length
    arithmetic, identically on both engines:

        D   = (26 - digits(n)) div 2     # unit digit budget
        e10 = max(0, digits(max_c) - D)  # per-nation shrink exponent
        u   = rev_c div 10^e10

    Then max(u) < 10^D ⇒ Σu² < n·10^(2D) ≤ 10²⁶ and
    Σu < 10^((26+digits(n))/2) ≤ 10¹⁸ ⇒ (Σu)² ≤ 10³⁶ — every
    intermediate fits decimal(38,0) for ANY revenue a decimal(18,2)
    supp_rev can express, at any supplier count. 10^e10 materializes as
    a digit string ('1' + e10 zeros), never float power (10²³⁺ is not
    double-exact). At benchmark-realistic scales e10 = 0, so u = rev_c
    and the result is bit-identical to the unscaled spelling the driver
    verified in r3; past the old ceiling, shares lose only the trailing
    pre-divided digits (relative error < 10^-11 of each share). The
    scale choice costs one extra nation-keyed agg whose output is
    nation-sized (broadcast back). Overflow behavior on sf10⁵-shaped
    revenue is pinned in tests/test_hhi_ceiling.py against the same
    DuckDB twin."""
    li = t["lineitem"].select("l_suppkey", "l_extendedprice", "l_discount")
    s = t["supplier"].select("s_suppkey", "s_nationkey")
    n = t["nation"].select("n_nationkey", "n_name")
    rev = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_nationkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,2)")
            ).alias("supp_rev")
        )
    )
    cents = rev.select(
        "s_nationkey",
        (F.col("supp_rev") * 100).cast("decimal(38,0)").alias("rev_c"),
    )
    scale = (
        cents.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.max("rev_c").alias("max_c"),
        )
        .withColumn(
            "e10",
            F.greatest(
                F.lit(0),
                F.length(F.col("max_c").cast("string"))
                - F.expr(
                    "(26 - length(CAST(n_suppliers AS STRING))) div 2"
                ).cast("int"),
            ),
        )
        .withColumn(
            "scale",
            F.expr(
                "CAST(concat('1', repeat('0', CAST(e10 AS INT)))"
                " AS DECIMAL(38,0))"
            ),
        )
        .select("s_nationkey", "n_suppliers", "scale")
    )
    units = cents.join(F.broadcast(scale), "s_nationkey").select(
        "s_nationkey",
        "n_suppliers",
        F.expr("rev_c div scale").alias("u"),  # BIGINT, < 10^13
    )
    hhi = (
        units.groupBy("s_nationkey")
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            F.sum(F.col("u").cast("decimal(19,0)"))
            .cast("decimal(19,0)")
            .alias("su"),
            F.sum(
                (
                    F.col("u").cast("decimal(19,0)")
                    * F.col("u").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            ).alias("susq"),
        )
        .withColumn(
            "hhi_micro",
            F.expr(
                "(susq * CAST(10000000000 AS DECIMAL(38,0)))"
                " div (su * su)"
            ).cast("long"),
        )
        .withColumn("hhi", F.col("hhi_micro").cast("double") / 1000000.0)
    )
    return (
        hhi.join(F.broadcast(n), hhi["s_nationkey"] == n["n_nationkey"])
        .select("n_name", "n_suppliers", "hhi_micro", "hhi")
    )


NATION_SUPPLIER_HHI_SQL = """
WITH rev AS (
  SELECT s_suppkey, s_nationkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,2)))
           AS supp_rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
cents AS (
  SELECT s_nationkey, CAST(supp_rev * 100 AS HUGEINT) AS rev_c FROM rev
),
sc AS (
  -- the identical per-nation pre-divide exponent, pure digit-length
  -- integer arithmetic (see nation_supplier_hhi docstring)
  SELECT s_nationkey, COUNT(*) AS n_suppliers,
         CAST('1' || repeat('0', GREATEST(0,
              length(CAST(MAX(rev_c) AS VARCHAR))
              - (26 - length(CAST(COUNT(*) AS VARCHAR))) // 2))
           AS HUGEINT) AS scale
  FROM cents GROUP BY 1
),
units AS (
  SELECT cents.s_nationkey, sc.n_suppliers, cents.rev_c // sc.scale AS u
  FROM cents JOIN sc ON cents.s_nationkey = sc.s_nationkey
),
hhi AS (
  SELECT s_nationkey,
         MAX(n_suppliers) AS n_suppliers,
         SUM(u) AS su,
         SUM(u * u) AS susq
  FROM units GROUP BY 1
)
SELECT n_name, n_suppliers,
       CAST((susq * CAST(10000000000 AS HUGEINT))
            // (su * su) AS BIGINT) AS hhi_micro,
       CAST(CAST((susq * CAST(10000000000 AS HUGEINT))
                 // (su * su) AS BIGINT) AS DOUBLE) / 1000000.0
         AS hhi
FROM hhi JOIN nation ON s_nationkey = n_nationkey
"""


# --- A19: neighborhood Jaccard (link-prediction similarity) -------------------
def node_jaccard(t: Tables) -> DataFrame:
    """A19: Jaccard similarity of co-order graph neighborhoods — the
    classic link-prediction / entity-similarity score ("parts bought
    alongside the same parts"), over the same edge build as
    copair_components.

    Scale shape: common-neighbor counts come from an INVERTED-INDEX
    self-join on the shared neighbor (hash-partitioned equi-join, the
    ngram_jaccard pattern on graph adjacency) — never an all-pairs
    product; degrees are one keyed agg; jaccard = i/(da+db−i) is exact
    int counts + one correctly-rounded division, so the 0.5 threshold
    is bit-stable cross-engine.

    The edge build (pair kernel + agg) feeds FIVE consumers (adj
    twice, deg, both inter sides); without materialization Catalyst
    replans it per consumer — 32 parquet scans / 39 exchanges, zero
    reuse, measured 4.1 s warm at sf0.1. localCheckpoint of the
    edge-sized frame (copair_components discipline) collapses that to
    one build + in-memory rereads: 1.1 s. At cluster scale the edge
    frame is the natural stage boundary anyway.
    """
    adj = (
        coorder_adjacency(t["lineitem"])
        .withColumnsRenamed({"src": "node", "dst": "nb"})
        .localCheckpoint()
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    inter = (
        x.join(y, "nb")
        .filter(F.col("x.node") < F.col("y.node"))
        .groupBy(
            F.col("x.node").alias("node_a"), F.col("y.node").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("d").alias("db"))
    jac = F.col("n_common").cast("double") / (
        F.col("da") + F.col("db") - F.col("n_common")
    ).cast("double")
    return (
        inter.join(da, "node_a")
        .join(db, "node_b")
        .select("node_a", "node_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


NODE_JACCARD_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
adj AS (SELECT src AS node, dst AS nb FROM und
        UNION ALL SELECT dst, src FROM und),
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY 1),
inter AS (
  SELECT x.node AS node_a, y.node AS node_b, COUNT(*) AS n_common
  FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node
  GROUP BY 1, 2
)
SELECT node_a, node_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(da.d + db.d - n_common AS DOUBLE)
         AS jaccard
FROM inter
JOIN deg da ON inter.node_a = da.node
JOIN deg db ON inter.node_b = db.node
WHERE CAST(n_common AS DOUBLE) / CAST(da.d + db.d - n_common AS DOUBLE) >= 0.5
"""


# --- A19b: Adamic–Adar link prediction ---------------------------------------
def adamic_adar(t: Tables) -> DataFrame:
    """A19b: Adamic–Adar link-prediction score over the co-order graph
    — Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg(z)), the common-neighbor count's
    degree-discounted refinement (a shared RARE neighbor is stronger
    evidence than a shared hub). Complements node_jaccard: pairs with
    EQUAL common-neighbor counts rank differently by the rarity of
    those neighbors (pinned in tests/test_adamic_adar.py).

    Cross-engine exactness: 1/ln(d) is frozen to an integer micro-nat
    weight once per NODE (graph-sized, one keyed agg), so per-pair
    scores are exact order-free integer sums; the reported score is the
    exact-integer / 1e6 IEEE quotient (the dsir_importance_weights
    discipline). Nodes with d = 1 are excluded from the weight table
    (ln 1 = 0) — sound, since a degree-1 node can never be a common
    neighbor.

    Scale shape: the inverted-index self-join on the shared neighbor
    (the node_jaccard pattern — hash-partitioned equi-join, never
    all-pairs), with the weight attached to ONE side before the join so
    the pair stream carries it for free; per-neighbor fan-out is
    deg², the same bound node_jaccard already carries, and the hot-hub
    mitigation is the same (AQE skew split on the nb key). The edge
    frame is localCheckpoint-ed once (node_jaccard's measured 4× win)
    and feeds adjacency, degrees, and both join sides."""
    adj = (
        coorder_adjacency(t["lineitem"])
        .withColumnsRenamed({"src": "node", "dst": "nb"})
        .localCheckpoint()
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    w = deg.filter(F.col("d") >= 2).select(
        F.col("node").alias("nb"),
        F.round(F.lit(1e6) / F.log(F.col("d").cast("double")))
        .cast("bigint")
        .alias("w_micro"),
    )
    x = adj.join(w, "nb")
    y = adj.select(F.col("node").alias("node_b"), "nb")
    return (
        x.join(y, "nb")
        .filter(F.col("node") < F.col("node_b"))
        .groupBy(F.col("node").alias("node_a"), "node_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("w_micro").alias("aa_micro"),
        )
        .filter(F.col("n_common") >= 2)
        .select(
            "node_a",
            "node_b",
            "n_common",
            "aa_micro",
            # exact integer / 1e6: bit-identical IEEE quotient across
            # engines (round(x, 6) is not — see dsir_importance_weights)
            (F.col("aa_micro").cast("double") / F.lit(1e6)).alias(
                "aa_score"
            ),
        )
    )


ADAMIC_ADAR_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
adj AS (SELECT src AS node, dst AS nb FROM und
        UNION ALL SELECT dst, src FROM und),
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY 1),
w AS (
  SELECT node AS nb,
         CAST(round(1e6 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS w_micro
  FROM deg WHERE d >= 2
),
inter AS (
  SELECT x.node AS node_a, y.node AS node_b,
         COUNT(*) AS n_common,
         CAST(SUM(w.w_micro) AS BIGINT) AS aa_micro
  FROM adj x
  JOIN w ON w.nb = x.nb
  JOIN adj y ON x.nb = y.nb AND x.node < y.node
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT node_a, node_b, n_common, aa_micro,
       CAST(aa_micro AS DOUBLE) / 1e6 AS aa_score
FROM inter
"""


# --- A20: 2-D skyline / Pareto frontier ----------------------------------
def skyline_parts(t: Tables) -> DataFrame:
    """Pareto-optimal parts: cheapest-for-their-size frontier (minimize
    p_retailprice, maximize p_size). q dominates p iff q is no more
    expensive AND no smaller, with at least one strict inequality.

    Scale shape: the naive skyline is an all-pairs NOT EXISTS. Here the
    dominance test collapses onto the per-price GROUP frame: a part is
    dominated iff (max size at any strictly lower price) >= its size,
    or (max size at its own price) > its size. The global window runs
    over DISTINCT prices — dimension-sized (bounded by the part price
    domain, ~50k values in TPC-H at any SF), not fact-sized — and the
    result joins back broadcast-side, so no all-pairs comparison ever
    exists in the plan."""
    p = t["part"]
    per_price = p.groupBy("p_retailprice").agg(
        F.max("p_size").alias("price_max_size")
    )
    w = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = per_price.withColumn(
        "cheaper_max_size", F.max("price_max_size").over(w)
    )
    dominated = (
        F.coalesce(
            F.col("cheaper_max_size") >= F.col("p_size"), F.lit(False)
        )
        | (F.col("price_max_size") > F.col("p_size"))
    )
    return (
        p.join(F.broadcast(bounds), "p_retailprice")
        .filter(~dominated)
        .select("p_partkey", "p_name",
                F.col("p_retailprice").alias("price"),
                F.col("p_size").alias("size"))
    )


SKYLINE_PARTS_SQL = """
SELECT p_partkey, p_name, p_retailprice AS price, p_size AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


# --- A19: shuffle-key skew diagnostics ---------------------------------------
_SKEW_FAMILIES = (
    ("lineitem", "l_suppkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("documents", "source"),
)


def skew_profile(t: Tables) -> DataFrame:
    """A19 ops governance: per join/aggregation-key family, the hot-key
    statistics that decide WHEN to salt — row count, distinct keys,
    the hottest key's absolute count and share, and the max/mean ratio
    (a uniform key family sits near 1; the 50% hot key the salting test
    injects would show ~n_keys/2). This is the measurement step in
    front of copair_counts_salted / AQE skew joins: salting costs an
    extra shuffle stage, so a pipeline should prove skew before paying
    for the cure.

    Scale shape: per family one partial-aggregated keyed count plus a
    4-way scalar agg — never collects keys; the per-family 1-row
    results union into a 5-row report. Exactness: counts are BIGINTs;
    share/ratio are single divisions rounded once, spelled identically
    in the oracle."""
    outs = []
    for table, key in _SKEW_FAMILIES:
        counts = (
            t[table]
            .groupBy(F.col(key).cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        outs.append(
            counts.agg(
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("c").alias("max_cnt"),
            ).select(
                F.lit(f"{table}.{key}").alias("family"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_keys").cast("bigint").alias("n_keys"),
                F.col("max_cnt").cast("bigint").alias("max_cnt"),
                F.round(
                    F.col("max_cnt").cast("double")
                    / F.col("n_rows").cast("double"),
                    6,
                ).alias("max_share"),
                F.round(
                    F.col("max_cnt").cast("double")
                    * F.col("n_keys").cast("double")
                    / F.col("n_rows").cast("double"),
                    6,
                ).alias("max_over_mean"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _skew_family_sql(table: str, key: str) -> str:
    return f"""
SELECT '{table}.{key}' AS family,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_cnt,
       ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS max_share,
       ROUND(CAST(MAX(c) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS max_over_mean
FROM (SELECT CAST({key} AS VARCHAR) AS k, COUNT(*) AS c
      FROM {table} GROUP BY 1)
"""


SKEW_PROFILE_SQL = "\nUNION ALL\n".join(
    _skew_family_sql(tb, k) for tb, k in _SKEW_FAMILIES
)


# --- A23: co-occurrence recommendations --------------------------------------
REC_TOP_K = 3


def part_recommendations(t: Tables) -> DataFrame:
    """A23: the serving table an item-to-item recommender ships — for
    every part, the top-3 co-ordered partners by co-order count
    (count desc, partner-key asc total-order tie-break). Classic
    "customers also bought", built on the shared map-side co-order
    pair stream (:func:`pair_stream`): symmetrize the canonical pairs
    with one union, one keyed count, one bounded per-key window.

    Scale shape: the pair stream shuffles once into the (part, rec)
    count; the row_number window rides the same hash partitioning
    (partitionBy = the groupBy key), and its frame is bounded by each
    part's partner count. Hot parts are exactly the skew the salted
    twin measures (skew_profile's lineitem.l_partkey row) — at 100 TB
    cap partner lists first (count cut) if a super-item appears."""
    # count the CANONICAL pairs once, then symmetrize the counts —
    # the union runs over the aggregated pair table (near-dup-sized),
    # not the raw per-order pair stream, so the corpus shuffles once
    canon = (
        pair_stream(t["lineitem"], ["l_orderkey"], "l_partkey")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    counts = canon.select(
        F.col("src").alias("part"), F.col("dst").alias("rec"), "n_orders"
    ).unionAll(
        canon.select(
            F.col("dst").alias("part"), F.col("src").alias("rec"), "n_orders"
        )
    )
    w = Window.partitionBy("part").orderBy(
        F.col("n_orders").desc(), F.col("rec").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= REC_TOP_K)
        .select("part", "rec", "n_orders", "rank")
    )


PART_RECOMMENDATIONS_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part, b.l_partkey AS rec, COUNT(*) AS n_orders
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT part, rec, n_orders,
         ROW_NUMBER() OVER (PARTITION BY part
                            ORDER BY n_orders DESC, rec ASC) AS rank
  FROM pairs
)
SELECT part, rec, CAST(n_orders AS BIGINT) AS n_orders,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {REC_TOP_K}
"""


# --- A24: supplier operations scorecard --------------------------------------
def supplier_scorecard(t: Tables) -> DataFrame:
    """A24 metrics layer: ONE partial-aggregated pass over the fact
    builds the per-supplier ops scorecard — line volume, distinct parts
    carried, exact-decimal revenue, and return rate — then a broadcast
    join attaches the supplier dimension. The wide-conditional-agg
    shape every BI metrics layer compiles to; defining all metrics in
    one groupBy (not one query per metric) is what keeps the fact scan
    single-pass at 100 TB.

    Exactness: revenue sums in DECIMAL(18,2) and casts to double once
    (the pricing_summary discipline); return_rate is an integer-count
    division rounded once, spelled identically in the oracle."""
    per_supp = (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.sum(revenue()).cast("double").alias("revenue"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_returned"),
        )
    )
    return (
        per_supp.join(
            F.broadcast(
                t["supplier"].select("s_suppkey", "s_name", "s_nationkey")
            ),
            per_supp["l_suppkey"] == F.col("s_suppkey"),
        )
        .select(
            F.col("s_suppkey").alias("suppkey"),
            "s_name",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.col("n_parts").cast("bigint").alias("n_parts"),
            "revenue",
            F.round(
                F.col("n_returned").cast("double")
                / F.col("n_lines").cast("double"),
                6,
            ).alias("return_rate"),
        )
    )


SUPPLIER_SCORECARD_SQL = """
SELECT s.s_suppkey AS suppkey, s.s_name,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       ROUND(CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS return_rate
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2
"""


# --- A11b: per-node graph feature assembly -------------------------------------
def node_features(t: Tables) -> DataFrame:
    """A11b: the graph-ML feature table — one row per co-order-graph
    node with degree, weighted degree (Σ co-order counts), triangle
    participation, and local clustering coefficient 2T/(d·(d−1)) —
    the node-feature assembly a GNN / graph-feature training pipeline
    materializes before sampling. Single-op consumers exist separately
    (triangle_counts, copair_counts); this is their joined, null-safe
    assembly (nodes in no triangle get 0, degree-1 nodes get
    clustering 0.0, not NULL/NaN).

    Exactness: every feature is an exact integer except clustering,
    the IEEE quotient of two exact ints. Scale shape: the weighted
    edge list builds once (localCheckpoint, edge-sized) and feeds the
    degree agg and all three triangle-join sides; per-node features
    are keyed aggs + one left join — no all-pairs anywhere."""
    ew = (
        pair_stream(t["lineitem"], ["l_orderkey"], "l_partkey")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .localCheckpoint()
    )
    adj = ew.select("src", "dst", "n").unionByName(
        ew.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "n"
        )
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree"),
        F.sum("n").alias("weighted_degree"),
    )
    e1, e2, e3 = ew.alias("e1"), ew.alias("e2"), ew.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.src"), F.col("e1.dst"), F.col("e2.dst"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    joined = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        "weighted_degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
    return joined.select(
        "node",
        "degree",
        "weighted_degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


NODE_FEATURES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), ew AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
), adj AS (
  SELECT src, dst, n FROM ew UNION ALL SELECT dst, src, n FROM ew
), deg AS (
  SELECT src AS node, COUNT(*) AS degree,
         CAST(SUM(n) AS BIGINT) AS weighted_degree
  FROM adj GROUP BY 1
), tri AS (
  SELECT node, COUNT(*) AS n_triangles
  FROM (
    SELECT unnest([e1.src, e1.dst, e2.dst]) AS node
    FROM ew e1
    JOIN ew e2 ON e2.src = e1.dst
    JOIN ew e3 ON e3.src = e1.src AND e3.dst = e2.dst
  ) GROUP BY 1
)
SELECT deg.node, degree, weighted_degree,
       CAST(COALESCE(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN degree >= 2
            THEN CAST(2 * COALESCE(tri.n_triangles, 0) AS DOUBLE)
                 / CAST(degree * (degree - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN tri ON tri.node = deg.node
"""


# --- A10c: HITS hubs & authorities (bipartite customer→part) -----------------
def hits_scores(t: Tables) -> DataFrame:
    """A10c: Kleinberg HITS over the bipartite customer→part purchase
    graph — hub customers (buy many well-bought parts) and authority
    parts (bought by strong hubs), the link-analysis complement of
    pagerank_trade/ppr_trade. Two full unrolled mutual-reinforcement
    rounds (a = Σ h over in-edges, h = Σ a over out-edges).

    Exactness: the textbook L2 normalization per round needs sqrt —
    cross-engine-divergent — and only fixes the SCALE, never the
    ranking. Degrees here are SF-invariant (orders/customer and
    lines/order are fixed distributions), so unnormalized integer
    scores (h₀ = 10⁶ micro-units) stay < 10¹² through both rounds and
    every sum is exact bigint arithmetic in both engines (pagerank's
    integer-mass discipline; DuckDB's HUGEINT sums cast back — the
    dsir lesson). Deterministic top-20 per side (score desc, key asc).

    Scale shape: the edge build is one fact-fact equi-join + distinct
    (the only corpus-sized shuffles); each half-round is a hash join of
    the edge list with a dimension-sized score frame + one keyed agg;
    top-k is TakeOrderedAndProject. The edge frame feeds 4 consumers —
    localCheckpoint once (the node_features discipline)."""
    edges = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    a1 = edges.groupBy("p").agg(
        (F.count(F.lit(1)) * F.lit(1_000_000)).alias("s")
    )
    h1 = edges.join(a1, "p").groupBy("c").agg(F.sum("s").alias("s"))
    a2 = edges.join(h1, "c").groupBy("p").agg(F.sum("s").alias("s"))
    h2 = edges.join(a2, "p").groupBy("c").agg(F.sum("s").alias("s"))
    hub = (
        h2.orderBy(F.col("s").desc(), "c")
        .limit(20)
        .select(
            F.lit("hub").alias("kind"),
            F.col("c").alias("node_key"),
            F.col("s").cast("bigint").alias("score"),
        )
    )
    auth = (
        a2.orderBy(F.col("s").desc(), "p")
        .limit(20)
        .select(
            F.lit("authority").alias("kind"),
            F.col("p").alias("node_key"),
            F.col("s").cast("bigint").alias("score"),
        )
    )
    w = Window.partitionBy("kind").orderBy(F.col("score").desc(), "node_key")
    return (
        hub.unionByName(auth)
        .withColumn("rk", F.row_number().over(w).cast("int"))
    )


HITS_SCORES_SQL = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
a1 AS (SELECT p, COUNT(*) * 1000000 AS s FROM edges GROUP BY 1),
h1 AS (SELECT c, SUM(s) AS s FROM edges JOIN a1 USING (p) GROUP BY 1),
a2 AS (SELECT p, SUM(s) AS s FROM edges JOIN h1 USING (c) GROUP BY 1),
h2 AS (SELECT c, SUM(s) AS s FROM edges JOIN a2 USING (p) GROUP BY 1),
hub AS (
  SELECT 'hub' AS kind, c AS node_key, CAST(s AS BIGINT) AS score
  FROM h2 ORDER BY s DESC, c LIMIT 20
),
auth AS (
  SELECT 'authority' AS kind, p AS node_key, CAST(s AS BIGINT) AS score
  FROM a2 ORDER BY s DESC, p LIMIT 20
)
SELECT kind, node_key, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY kind
                               ORDER BY score DESC, node_key) AS INT) AS rk
FROM (SELECT * FROM hub UNION ALL SELECT * FROM auth)
"""
