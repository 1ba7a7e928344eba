"""Edge semantics for the custom temporal join operators."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from data_engineering_course_project_2023_spark.operators.temporal import (
    asof_join,
    bucketized_range_join,
)


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "L1"),  # match r@09:59
            (1, _ts("2024-01-01 11:00:00"), "L2"),  # exact-tie match r@11:00
            (2, _ts("2024-01-01 10:00:00"), "L3"),  # no prior right → null
        ],
        "k int, ts timestamp, lid string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:59:00"), 100),
            (1, _ts("2024-01-01 11:00:00"), 200),  # ties resolve to right
            (2, _ts("2024-01-01 10:00:01"), 300),  # 1s AFTER left → excluded
        ],
        "k int, ts timestamp, v int",
    )
    out = {
        r["lid"]: r["asof_v"]
        for r in asof_join(left, right, "k", "ts", "ts", ["v"]).collect()
    }
    assert out == {"L1": 100, "L2": 200, "L3": None}


def test_range_join_boundary_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 10)], "k int, lts timestamp, lid int"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:10:00"), 20),  # exactly +600s → kept
            (1, _ts("2024-01-01 09:50:00"), 21),  # exactly -600s → kept
            (1, _ts("2024-01-01 10:10:01"), 22),  # +601s → dropped
            (2, _ts("2024-01-01 10:00:00"), 23),  # other key → dropped
        ],
        "k int, rts timestamp, rid int",
    )
    got = sorted(
        r["rid"]
        for r in bucketized_range_join(
            left, right, "k", "lts", "rts", max_gap_seconds=600
        ).collect()
    )
    assert got == [20, 21]


def test_range_join_matches_naive(spark):
    """Bucketized result == naive inequality join on random-ish data."""
    left = spark.range(200).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(1700000000 + F.col("id") * 97).alias("lts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(300).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(1700000000 + F.col("id") * 61).alias("rts"),
        F.col("id").alias("rid"),
    )
    fast = {
        (r["lid"], r["rid"])
        for r in bucketized_range_join(
            left, right, "k", "lts", "rts", 500
        ).collect()
    }
    naive = {
        (r["lid"], r["rid"])
        for r in left.join(right, "k")
        .filter(
            F.abs(F.unix_timestamp("lts") - F.unix_timestamp("rts")) <= 500
        )
        .collect()
    }
    assert fast == naive and len(fast) > 0


def test_ivf_recall_vs_brute_force(spark):
    """IVF with 2-of-8 probes must recover a reasonable share of the
    exact top-10 (random vectors: the probed cells hold ~25% of the
    corpus, so recall well above that baseline indicates the quantizer
    is actually clustering)."""
    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = [
        r["vec_id"]
        for r in similarity.brute_force_topk(emb, query_vec_id=0, k=10).collect()
    ]
    ivf = [
        r["vec_id"]
        for r in similarity.ivf_topk(emb, query_vec_id=0, k=10).collect()
    ]
    assert len(ivf) == 10
    recall = len(set(exact) & set(ivf)) / 10
    # Measured 0.9 on this fixture with the exact-integer-mean trainer
    # (r2 advice: the old 0.2 pin was far weaker than COVERAGE.md's
    # claim); 0.7 matches the documented contract with headroom.
    assert recall >= 0.7, f"recall {recall}"
    # determinism: re-run gives identical ranking
    ivf2 = [
        r["vec_id"]
        for r in similarity.ivf_topk(emb, query_vec_id=0, k=10).collect()
    ]
    assert ivf == ivf2


def test_ann_multiprobe_recall_vs_brute_force(spark):
    """Multi-probe LSH (exact bucket + hamming-1 neighbors, 4 of 8
    buckets) must recover >=0.7 of the exact top-10 — the r1
    single-bucket probe sat at 0.2 on this near-random fixture."""
    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = [
        r["vec_id"]
        for r in similarity.brute_force_topk(emb, query_vec_id=0, k=10).collect()
    ]
    ann = [
        r["vec_id"]
        for r in similarity.lsh_topk(emb, query_vec_id=0, k=10).collect()
    ]
    assert len(ann) == 10
    recall = len(set(exact) & set(ann)) / 10
    assert recall >= 0.7, f"recall {recall}"


def test_session_window_exact_gap_boundary(spark):
    """Pin the exact-gap semantics: an event landing exactly at
    prev + 30 min MERGES into the session under Spark's native
    session_window — the same rule as the lag/cumsum oracle's
    ``diff > 1800`` (strictly-greater starts a new session). A genuine
    boundary row here makes any future engine/oracle drift fail loudly
    instead of depending on fixture luck."""
    import duckdb

    from data_engineering_course_project_2023_spark.plans import eventstream

    rows = [
        # user 1: 0s, exactly +1800s, then +1799s more → ONE session of 3
        (1, 1, _ts("2024-01-01 00:00:00")),
        (2, 1, _ts("2024-01-01 00:30:00")),
        (3, 1, _ts("2024-01-01 00:59:59")),
        # user 2: gap of 1801s → TWO sessions
        (4, 2, _ts("2024-01-01 00:00:00")),
        (5, 2, _ts("2024-01-01 00:30:01")),
    ]
    sdf = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in eventstream.session_window_counts({"events": sdf}).collect()
    }
    assert got == {(1, 1, 3), (2, 2, 2)}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({e}, {u}, TIMESTAMP '{t}')" for e, u, t in rows
        )
        + ") v(event_id, user_id, ts)"
    )
    oracle = {
        tuple(r) for r in con.execute(eventstream.SESSION_WINDOW_SQL).fetchall()
    }
    assert oracle == got


def test_pq_codes_and_adc_recall(spark):
    """PQ: codes are m=8 values in [0,16) per vector (64 floats → 8
    nibbles); ADC+rerank recovers >=0.7 of the exact top-10; re-running
    gives identical output (deterministic codebook)."""
    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codes = similarity.pq_codes(emb).collect()
    assert len(codes) == emb.count()
    assert all(
        len(r["codes"]) == similarity.PQ_M
        and all(0 <= c < similarity.PQ_K for c in r["codes"])
        for r in codes
    )
    exact = [
        r["vec_id"]
        for r in similarity.brute_force_topk(emb, query_vec_id=0, k=10).collect()
    ]
    pq = [
        r["vec_id"] for r in similarity.pq_topk(emb, query_vec_id=0, topk=10).collect()
    ]
    assert len(pq) == 10
    assert len(set(exact) & set(pq)) / 10 >= 0.7
    pq2 = [
        r["vec_id"] for r in similarity.pq_topk(emb, query_vec_id=0, topk=10).collect()
    ]
    assert pq == pq2


def test_pq_codebook_pinned_sf001(spark):
    """The sf0.01-trained codebook must equal the constant embedded in
    the DuckDB oracle (``plans/pq_fixture.py``) — training drift would
    silently invalidate the pq_codes oracle, so re-train and compare.
    Training is bit-deterministic (exact nano-unit mean sums), so this
    is an equality check, not a tolerance check."""
    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.plans import pq_fixture
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = similarity._pq_train(
        emb, similarity.PQ_M, similarity.PQ_K, 2, "vec_id", "embedding"
    )
    assert cents == pq_fixture.PQ_CODEBOOK_SF001


def test_ivfpq_recall_and_determinism(spark):
    """IVFADC (coarse probe + residual-PQ ADC + exact rerank) recovers
    >=0.7 of the exact top-10 despite scanning only ~2/8 cells, and
    re-running yields an identical ranking (both codebooks are
    deterministic)."""
    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = [
        r["vec_id"]
        for r in similarity.brute_force_topk(emb, query_vec_id=0, k=10).collect()
    ]
    got = similarity.ivfpq_topk(emb, query_vec_id=0, topk=10).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 10
    assert len(set(exact) & set(ids)) / 10 >= 0.7
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in got)
    ids2 = [
        r["vec_id"]
        for r in similarity.ivfpq_topk(emb, query_vec_id=0, topk=10).collect()
    ]
    assert ids == ids2


def test_daily_gapfill_fills_and_carries(spark):
    """Pin densification semantics on a corpus with REAL gaps (the
    testdata has events every day, so the oracle run exercises the
    no-gap case only): missing days appear with n_events=0 and carry
    the last observed daily value forward; days before the first
    observation never materialize."""
    from data_engineering_course_project_2023_spark.plans import eventstream

    rows = [
        (1, "a", _ts("2024-01-01 10:00:00"), 10.0),
        (2, "a", _ts("2024-01-01 11:00:00"), 5.0),
        # Jan 2-3 missing entirely for type a
        (3, "a", _ts("2024-01-04 09:00:00"), 7.0),
        (4, "b", _ts("2024-01-02 00:00:00"), 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["carried_value"])
        for r in eventstream.daily_gapfill({"events": ev}).collect()
    }
    assert got == {
        ("a", "2024-01-01"): (2, 15.0),
        ("a", "2024-01-02"): (0, 15.0),   # gap row, value carried
        ("a", "2024-01-03"): (0, 15.0),
        ("a", "2024-01-04"): (1, 7.0),
        ("b", "2024-01-02"): (1, 1.0),    # single-day span, no padding
    }


def test_cohort_retention_offsets(spark):
    """Pin the cohort triangle semantics: offset 0 is the cohort week
    itself (retention 1.0 by construction for any non-empty cohort),
    later activity lands at floor(week-delta/7), users count once per
    active week."""
    from data_engineering_course_project_2023_spark.plans import eventstream

    rows = [
        # user 1: first seen week of Jan 1 (Mon), active again 2 weeks later
        (1, 1, _ts("2024-01-02 10:00:00"), "view", 1.0),
        (2, 1, _ts("2024-01-03 10:00:00"), "view", 1.0),  # same week, no dup
        (3, 1, _ts("2024-01-16 10:00:00"), "click", 1.0),
        # user 2: same cohort, never returns
        (4, 2, _ts("2024-01-04 10:00:00"), "view", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    got = {
        (r["cohort_week"], r["week_offset"]): (r["n_active"], r["retention"])
        for r in eventstream.cohort_retention({"events": ev}).collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 1.0),
        ("2024-01-01", 2): (1, 0.5),
    }


def test_event_transitions_rows_and_probabilities(spark):
    """Per-user lag pairs only (no cross-user transitions); ties broken
    by event_id; probabilities normalize per prev_type."""
    from data_engineering_course_project_2023_spark.plans import eventstream

    rows = [
        (1, 1, _ts("2024-01-01 10:00:00"), "view", 0.0),
        (2, 1, _ts("2024-01-01 10:01:00"), "click", 0.0),
        (3, 1, _ts("2024-01-01 10:02:00"), "view", 0.0),
        (4, 2, _ts("2024-01-01 09:00:00"), "view", 0.0),
        (5, 2, _ts("2024-01-01 09:01:00"), "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    got = {
        (r["prev_type"], r["next_type"]): (r["n_transitions"], r["p_transition"])
        for r in eventstream.event_transitions({"events": ev}).collect()
    }
    assert got == {
        ("view", "click"): (1, 0.5),
        ("click", "view"): (1, 1.0),
        ("view", "view"): (1, 0.5),
    }


def test_rolling_avg_range_frame_skips_missing_days(spark):
    """RANGE (not ROWS) frame: a day 10 days after the previous one
    must not see it in its 7-day window."""
    from data_engineering_course_project_2023_spark.plans import eventstream

    rows = [
        (1, 1, _ts("2024-01-01 10:00:00"), "a", 10.0),
        (2, 1, _ts("2024-01-03 10:00:00"), "a", 20.0),
        (3, 1, _ts("2024-01-20 10:00:00"), "a", 40.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    got = {
        r["day"]: (r["n_days_window"], r["avg_7d"])
        for r in eventstream.rolling_avg_value({"events": ev}).collect()
    }
    assert got == {
        "2024-01-01": (1, 10.0),
        "2024-01-03": (2, 15.0),
        "2024-01-20": (1, 40.0),  # gap > 6 days: window resets
    }


def test_regr_trend_recovers_exact_line(spark):
    """y = 2x + 5 daily totals must come back as slope 2, intercept 5
    exactly (closed form over exact integer sums)."""
    from data_engineering_course_project_2023_spark.plans import eventstream

    rows = [
        (i, 1, _ts(f"2024-01-{i + 1:02d} 10:00:00"), "a", 2.0 * i + 5.0)
        for i in range(5)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    [r] = eventstream.regr_value_trend({"events": ev}).collect()
    assert (r["n"], r["slope_per_day"], r["intercept"]) == (5, 2.0, 5.0)


def test_fuzzy_part_pairs_blocking_and_threshold(spark):
    """Pairs only within the (brand, size) block; distance from
    Spark's levenshtein; a<b canonical order; threshold excludes far
    names."""
    from data_engineering_course_project_2023_spark.plans import analytics

    rows = [
        (1, "B1", 1, "misty salmon steel"),
        (2, "B1", 1, "misty salmon stell"),       # dist 1 -> pair
        (3, "B1", 2, "misty salmon steel"),       # other size: blocked out
        (4, "B1", 1, "completely different name"),  # too far
    ]
    part = spark.createDataFrame(
        rows, "p_partkey long, p_brand string, p_size int, p_name string"
    )
    got = [
        (r["key_a"], r["key_b"], r["edit_dist"])
        for r in analytics.fuzzy_part_pairs({"part": part}).collect()
    ]
    assert got == [(1, 2, 1)]


def test_referential_audit_counts_orphans(spark):
    """An orphan FK row must be counted and flip intact to False;
    clean relations report zero orphans."""
    from data_engineering_course_project_2023_spark.plans import relational

    t = {
        "orders": spark.createDataFrame(
            [(1, 10), (2, 99)], "o_orderkey long, o_custkey long"
        ),
        "customer": spark.createDataFrame(
            [(10, 0)], "c_custkey long, c_nationkey long"
        ),
        "lineitem": spark.createDataFrame(
            [(1, 5, 7)], "l_orderkey long, l_partkey long, l_suppkey long"
        ),
        "part": spark.createDataFrame([(5,)], "p_partkey long"),
        "supplier": spark.createDataFrame(
            [(7, 0)], "s_suppkey long, s_nationkey long"
        ),
        "nation": spark.createDataFrame([(0,)], "n_nationkey long"),
    }
    got = {
        r["relationship"]: (r["n_rows"], r["n_orphans"], r["intact"])
        for r in relational.referential_audit(t).collect()
    }
    assert got["orders.o_custkey->customer"] == (2, 1, False)
    assert got["lineitem.l_orderkey->orders"] == (1, 0, True)
    assert got["customer.c_nationkey->nation"] == (1, 0, True)


def test_trade_hops_bfs_levels(spark):
    """Min-hop levels on a hand-built chain: cust1 -> suppA -> cust2 ->
    suppB; nodes outside the 4-hop radius don't appear."""
    from data_engineering_course_project_2023_spark.plans import analytics

    # orders: (orderkey, custkey); lineitem: (orderkey, suppkey)
    orders = spark.createDataFrame(
        [(100, 1), (200, 2), (300, 3)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(100, 11), (200, 11), (200, 12), (300, 13)],
        "l_orderkey long, l_suppkey long",
    )
    got = {
        r["node"]: r["hop"]
        for r in analytics.trade_hops(
            {"lineitem": lineitem, "orders": orders}
        ).collect()
    }
    off = 10**9
    assert got == {
        1: 0,
        11 + off: 1,   # supplier A via order 100
        2: 2,          # customer 2 shares supplier A
        12 + off: 3,   # supplier B via customer 2
    }
    # customer 3 / supplier 13 form a disconnected component
    assert 3 not in got and 13 + off not in got


def test_ivf_centroids_pinned_sf001(spark):
    """The sf0.01-trained IVF coarse centroids must equal the constant
    embedded in the DuckDB oracle (plans/ivf_fixture.py) — same
    discipline as the PQ codebook pin: bit-deterministic training
    (exact nano-unit mean sums) makes this an equality check, and a
    training drift would silently invalidate the ivf_topk oracle."""
    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.plans import ivf_fixture
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = similarity._kmeans_list(emb, k=8, n_iter=3)
    assert cents == ivf_fixture.IVF_CENTROIDS_SF001


def test_ivfpq_residual_codebook_pinned_sf001(spark):
    """The residual-trained PQ codebook behind the ivfpq_topk oracle
    must equal the pinned constant — re-derive the full path (pinned
    IVF assignment → residuals → PQ train) and compare exactly."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.plans import ivf_fixture
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cent_list = ivf_fixture.IVF_CENTROIDS_SF001
    cent_lookup = ", ".join(
        "struct({} AS cid, array({}) AS c)".format(
            int(cid), ",".join(repr(float(x)) + "D" for x in c)
        )
        for cid, c in cent_list
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = vecs.withColumn(
        "centroid_id", similarity._argmin_expr(cent_list)
    ).withColumn(
        "resid",
        F.expr(
            f"zip_with(v, filter(array({cent_lookup}),"
            " s -> s.cid = centroid_id)[0].c, (a, b) -> a - b)"
        ),
    )
    cents_pq = similarity._pq_train(
        assigned.select("vec_id", "resid"), 8, 16, 2, "vec_id", "resid"
    )
    assert cents_pq == ivf_fixture.IVFPQ_RESID_CODEBOOK_SF001


def test_jl_projection_unbiased_distance_sketch(spark):
    """JL ±1 projection: projected squared L2 / k is an UNBIASED
    estimator of original squared L2 (Achlioptas 2003), with mean
    relative error ~ sqrt(2/k) ≈ 0.5 at k=8. Both properties are
    deterministic on the fixed fixture + md5 sign matrix; pins carry
    headroom over the measured values (noted inline)."""
    import itertools

    from data_engineering_course_project_2023_spark.plans import llmops, registry

    sf = "/root/testdata/sf0.001"
    proj = {}
    for r in registry.run_query("jl_projection", spark, sf).collect():
        proj.setdefault(r["vec_id"], {})[r["proj_dim"]] = r["proj_micro"]
    assert all(len(v) == llmops.JL_PROJ_DIMS for v in proj.values())

    import duckdb

    orig = {
        vid: [round(float(x) * 1e6) for x in emb]
        for vid, emb in duckdb.sql(
            f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
        ).fetchall()
    }
    ids = sorted(proj)[:60]
    k = llmops.JL_PROJ_DIMS
    ratios = []
    for a, b in itertools.combinations(ids, 2):
        d_orig = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
        d_proj = sum(
            (proj[a][j] - proj[b][j]) ** 2 for j in range(k)
        ) / k
        ratios.append(d_proj / d_orig)
    mean_ratio = sum(ratios) / len(ratios)
    mean_err = sum(abs(r - 1) for r in ratios) / len(ratios)
    # measured on this fixture: mean_ratio ≈ 1.0x, mean_err ≈ 0.38
    assert 0.85 < mean_ratio < 1.15, f"biased: {mean_ratio}"
    assert mean_err < 0.5, f"distortion: {mean_err}"
