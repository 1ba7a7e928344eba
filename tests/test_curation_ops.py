"""Independent cross-checks for the late-round curation/stats operators:
numpy and pure-Python references on constructed fixtures — a second
verification axis besides the DuckDB oracles (which could in principle
share a systematic modeling error with the Spark expression)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_engineering_course_project_2023_spark.plans import analytics, llmops


def test_embedding_covariance_matches_numpy(spark):
    """Exact micro-int covariance == the same arithmetic done in numpy
    int64 — including the floor-to-micro quantization step."""
    rng = [
        (0, [0.5, -0.25, 0.125], 0),
        (1, [1.0, 0.75, -0.5], 1),
        (2, [-0.125, 0.0, 0.25], 0),
        (3, [0.333, -0.667, 0.999], 1),
    ]
    df = spark.createDataFrame(
        rng, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["i"], r["j"]): (r["sum_x"], r["sum_y"], r["sum_xy"], r["cov_micro2"])
        for r in llmops.embedding_covariance({"embeddings": df}).collect()
    }
    # numpy reference with the identical quantization (note: floor of
    # the FLOAT32-exact double, like the Spark cast chain)
    vecs = np.array(
        [np.floor(np.array(v, dtype=np.float32).astype(np.float64) * 1e6)
         for _, v, _ in rng],
        dtype=np.int64,
    )
    n = len(vecs)
    d = vecs.shape[1]
    assert len(got) == d * (d + 1) // 2
    for i in range(d):
        for j in range(i, d):
            sx = int(vecs[:, i].sum())
            sy = int(vecs[:, j].sum())
            sxy = int((vecs[:, i] * vecs[:, j]).sum())
            cov = (sxy / n) - (sx / n) * (sy / n)
            assert got[(i, j)][:3] == (sx, sy, sxy)
            assert abs(got[(i, j)][3] - cov) < 1e-9


def test_bpe_merge_pairs_matches_pure_python(spark):
    """Weighted adjacent-pair counts == a dict-based reference."""
    docs = [
        (1, "aab ab"),
        (2, "aab aab cd"),
        (3, "x"),  # single char: no pairs
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["sym_a"], r["sym_b"]): r["pair_count"]
        for r in llmops.bpe_merge_pairs({"documents": df}).collect()
    }
    from collections import Counter

    wf = Counter(w for _, t in docs for w in t.split() if w)
    ref = Counter()
    for w, nn in wf.items():
        for a, b in zip(w, w[1:]):
            ref[(a, b)] += nn
    assert got == dict(ref)


def test_source_cap_deterministic_and_bounded(spark):
    """Cap holds per source; the kept set is identical under a
    different input partitioning (content-stable order, not scan
    order)."""
    rows = [(i, f"text {i}", "l", f"src{i % 3}", 10) for i in range(100)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r1 = llmops.source_cap({"documents": df})
    r2 = llmops.source_cap({"documents": df.repartition(13)})
    s1 = {(r["source"], r["doc_id"]) for r in r1.collect()}
    s2 = {(r["source"], r["doc_id"]) for r in r2.collect()}
    assert s1 == s2
    per_src = {}
    for src, _ in s1:
        per_src[src] = per_src.get(src, 0) + 1
    assert all(v == 15 for v in per_src.values())  # 34/33/33 docs → all capped


def test_community_labels_on_two_cliques(spark):
    """LPA separates two disjoint co-order cliques and each converges
    to its min member label."""
    # orders 1,2 share parts {10,11,12} twice (>=2 co-orders); orders
    # 3,4 share parts {20,21} twice; no cross-links
    rows = []
    for ok in (1, 2):
        rows += [(ok, p) for p in (10, 11, 12)]
    for ok in (3, 4):
        rows += [(ok, p) for p in (20, 21)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        r["node"]: r["community"]
        for r in analytics.community_labels({"lineitem": li}).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_brand_frontier_is_exactly_the_nondominated_set(spark):
    """The window-trick skyline == brute-force dominance filter on a
    constructed fixture with ties in both coordinates."""
    rows = [
        # (partkey, brand, size, price)
        (1, "B", 5, 100.0),   # frontier (smallest size)
        (2, "B", 5, 90.0),    # dominated: same size, lower price
        (3, "B", 7, 120.0),   # frontier (bigger but pricier)
        (4, "B", 9, 120.0),   # dominated: same price as 3, bigger
        (5, "B", 11, 130.0),  # frontier
        (6, "C", 4, 50.0),    # frontier (other brand independent)
        (7, "C", 6, 50.0),    # dominated by 6
    ]
    df = spark.createDataFrame(
        [(k, f"part{k}", b, "t", s, p) for k, b, s, p in rows],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    from data_engineering_course_project_2023_spark.plans import analytics

    got = {r["p_partkey"] for r in analytics.brand_frontier({"part": df}).collect()}
    # brute-force reference: strict dominance
    keep = set()
    for k, b, s, p in rows:
        dominated = any(
            b2 == b and ((p2 >= p and s2 < s) or (p2 > p and s2 <= s))
            for _, b2, s2, p2 in rows
        )
        if not dominated:
            keep.add(k)
    assert got == keep == {1, 3, 5, 6}


def test_snapshot_diff_statuses_on_constructed_versions(spark):
    """All four diff statuses materialize correctly: the id-hash split
    plus the bucket-5 marker edit must classify every doc_id into
    exactly one status, and the spark statuses must equal a pure-Python
    replay of the same split rule."""
    import hashlib

    from data_engineering_course_project_2023_spark.plans import llmops
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        r["doc_id"]: r["status"]
        for r in llmops.snapshot_diff({"documents": docs}).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    expect = {}
    for r in rows:
        b = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16) % 10
        in_v1, in_v2 = b < 9, b >= 1
        if in_v1 and not in_v2:
            expect[r["doc_id"]] = "removed"
        elif in_v2 and not in_v1:
            expect[r["doc_id"]] = "added"
        elif b == 5:
            expect[r["doc_id"]] = "changed"
        else:
            expect[r["doc_id"]] = "unchanged"
    assert got == expect
    assert set(expect.values()) == {"added", "removed", "changed", "unchanged"}


def test_source_overlap_extremes(spark):
    """Union-MinHash overlap: two sources with identical corpora match
    on all 8 components (est_jaccard = 1.0); fully disjoint vocabularies
    share none (pair absent from the report)."""
    from data_engineering_course_project_2023_spark.plans import llmops

    base = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, base, "l", "sA", 1),
            (2, base, "l", "sB", 1),   # sB mirrors sA exactly
            (3, other, "l", "sC", 1),  # sC shares no shingles
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        (r["source_a"], r["source_b"]): r["est_jaccard"]
        for r in llmops.source_overlap({"documents": df}).collect()
    }
    assert rows == {("sA", "sB"): 1.0}


def test_badword_filter_rule(spark):
    """Blocklist semantics on a constructed corpus (the synthetic
    documents never trip the list, so the sf parity sweep alone would
    leave the rule unexercised): case-insensitive token membership,
    count + ratio + keep, empty docs kept with ratio 0."""
    from data_engineering_course_project_2023_spark.plans import llmops

    df = spark.createDataFrame(
        [
            (1, "clean words only here", "l", "s", 1),
            (2, "the CASINO took my money", "l", "s", 1),
            (3, "Damn hell damn", "l", "s", 1),
            (4, "", "l", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["n_bad"], round(r["bad_ratio"], 6), r["keep"])
        for r in llmops.badword_filter({"documents": df}).collect()
    }
    assert got[1] == (0, 0.0, True)
    assert got[2] == (1, 0.2, False)
    assert got[3] == (3, 1.0, False)
    assert got[4] == (0, 0.0, True)
