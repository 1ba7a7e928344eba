"""Semantics of the round-2 cluster/graph operators on constructed
fixtures: near-dup cluster resolution (transitivity), the SemDeDup
keep-filter (first-seen-wins), blocked kNN (k + tiebreak), and TF-IDF
ranking. The sf0.01 oracle-parity sweep covers the same queries
end-to-end; these pin the *rules* on inputs built to exercise them."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_course_project_2023_spark.operators import dedup, similarity


def test_neardup_clusters_transitive(spark):
    # a~b and b~c share most shingles; a and c are farther apart — the
    # cluster must still merge all three (connected components, not
    # pairwise threshold), with min id as canonical representative.
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (1, base + " tail_a common common2"),
            (2, base + " tail_a tail_b common2"),
            (3, base + " tail_b tail_c common3"),
            (10, "entirely different words here nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup.neardup_clusters(docs).collect()
    }
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[3] == (1, False)
    assert got[10] == (10, True)


def test_connected_components_chain(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "node long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    got = {
        r["node"]: r["lbl"]
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_semdedup_first_seen_wins(spark):
    # v2 duplicates v1 (kept: v1 is lower id); v3 duplicates v2 but not
    # v1 — still dropped (its lower-id near-neighbor v2 exists, even
    # though v2 itself is dropped): the a<b orientation is per-pair,
    # not per-survivor — the documented greedy-by-id rule.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.01, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0, 0.0], 1),  # same vector, other block: kept
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    kept = {
        r["vec_id"]
        for r in similarity.semdedup_keep(df, threshold=0.9).collect()
    }
    assert kept == {1, 3, 4}


def test_knn_graph_k_and_blocking(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 0),
        (4, [1.0, 0.0], 1),  # other block: never a neighbor of 1-3
        (5, [1.0, 0.1], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.knn_graph(df, k=2).collect()
    by_vec = {}
    for r in out:
        by_vec.setdefault(r["vec_id"], []).append(r["neighbor_id"])
    # block 0 has 3 members → each gets exactly 2 neighbors, in-block
    assert sorted(by_vec[1]) == [2, 3]
    assert by_vec[1][0] == 2  # most similar first
    # block 1 has 2 members → only 1 possible neighbor despite k=2
    assert by_vec[4] == [5] and by_vec[5] == [4]


def _vec(seed: int) -> list[float]:
    import random

    rnd = random.Random(seed)
    return [rnd.uniform(-1.0, 1.0) for _ in range(similarity.EMBED_DIM)]


_ZERO_ID = 7
# Each input is an embeddings table the retrieval family must stay total
# on: (vec_id, embedding, label) rows. vec_id 0 is the fixed query row.
_EDGE_EMBEDDINGS = {
    "empty": [],
    "only_query": [(0, _vec(0), 0)],
    "no_query": [(i, _vec(i), i % 2) for i in range(1, 13)],
    "five_vecs": [(i, _vec(i), i % 2) for i in range(5)],
    "zero_vec": [
        (i, [0.0] * similarity.EMBED_DIM if i == _ZERO_ID else _vec(i), i % 2)
        for i in range(30)
    ],
}
_RETRIEVAL_FAMILY = [
    "cosine_topk", "ann_lsh_topk", "ivf_topk", "pq_codes", "pq_topk",
    "ivfpq_topk", "embedding_neardup", "knn_graph", "semdedup_keep",
    "hard_negatives", "retrieval_metrics", "hybrid_rrf", "mmr_rerank",
]
# Their twins embed codebooks trained on sf0.01, so they agree with a
# codebook trained on another table only where the answer is empty.
_PINNED_CODEBOOK = {"ivf_topk", "pq_codes", "pq_topk", "ivfpq_topk"}
_ID_COLS = ("vec_id", "neighbor_id", "vec_a", "vec_b", "query_id", "neg_id", "id")


@pytest.mark.parametrize("case", sorted(_EDGE_EMBEDDINGS))
@pytest.mark.parametrize("query", _RETRIEVAL_FAMILY)
def test_retrieval_family_edge_inputs_match_oracles(spark, tmp_path, query, case):
    """Every retrieval query answers on an empty table, on the query row
    alone, without the query row, under PQ_K vectors and with a
    zero-norm vector, and matches its DuckDB twin. A zero vector has no
    cosine: its own scores are NULL here (DuckDB's
    list_cosine_similarity says -1.0), so its rows are compared apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_course_project_2023_spark.plans import registry
    from data_engineering_course_project_2023_spark.sources.readers import (
        load_tables,
    )
    from tests.parity import compare

    rows = _EDGE_EMBEDDINGS[case]
    pq.write_table(
        pa.table(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
                "label": [r[2] for r in rows],
            },
            schema=pa.schema([
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]),
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    texts = [" ".join(words[(d + j) % 8] for j in range(d % 5 + 2)) for d in range(12)]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(12), pa.int64()),
            "text": texts,
            "lang": ["en"] * 12,
            "source": ["web"] * 12,
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }),
        str(tmp_path / "documents.parquet"),
    )
    q = registry.REGISTRY[query]
    out = q.builder(load_tables(spark, str(tmp_path), list(q.tables)))
    got = out.collect()  # must not raise
    if query in _PINNED_CODEBOOK and got:
        return
    oracle = q.oracle
    if case == "zero_vec":
        ids = [c for c in _ID_COLS if c in out.columns]
        zero = F.lit(False)
        for c in ids:
            zero = zero | F.coalesce(F.col(c) == _ZERO_ID, F.lit(False))
        if "cos_sim" in out.columns:
            assert all(r["cos_sim"] is None for r in out.filter(zero).collect())
        out = out.filter(~zero)
        oracle = f"SELECT * FROM ({oracle}) WHERE " + " AND ".join(
            f"COALESCE({c} <> {_ZERO_ID}, TRUE)" for c in ids
        )
    assert not compare(out, oracle, str(tmp_path))


def test_tfidf_ranks_rare_terms(spark):
    from data_engineering_course_project_2023_spark.plans.llmops import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "shared shared rare1 rare1 rare1"),
            (2, "shared unique2"),
            (3, "shared filler filler"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms({"documents": docs}).collect()
    top = {}
    for r in out:
        top.setdefault(r["doc_id"], []).append((r["term"], r["tfidf"]))
    # 'shared' appears in every doc → idf = ln(1) = 0 everywhere
    assert all(s == 0.0 for d in top.values() for t, s in d if t == "shared")
    # doc 1's top term is the tf=3 doc-unique one
    assert top[1][0][0] == "rare1"
    assert top[2][0][0] == "unique2"


def test_pagerank_fixed_point_semantics(spark):
    """Fixed-point PageRank on a hand-checkable graph: two customers,
    two suppliers; c1 buys from both suppliers, c2 only from s1 — s1
    must outrank s2, customers (no in-edges) hold the base mass, and
    every unit matches the driver-side integer recurrence exactly."""
    from data_engineering_course_project_2023_spark.plans.analytics import (
        PR_ITERS,
        PR_SCALE,
        _SUPP_OFFSET,
        pagerank_trade,
    )

    li = spark.createDataFrame(
        [(100, 11), (100, 12), (200, 11)],
        "l_orderkey long, l_suppkey long",
    )
    o = spark.createDataFrame(
        [(100, 1), (200, 2)], "o_orderkey long, o_custkey long"
    )
    got = {
        r["node"]: (r["node_type"], r["pr_units"])
        for r in pagerank_trade({"lineitem": li, "orders": o}).collect()
    }

    # reference recurrence in plain ints
    edges = {1: [11 + _SUPP_OFFSET, 12 + _SUPP_OFFSET], 2: [11 + _SUPP_OFFSET]}
    nodes = [1, 2, 11 + _SUPP_OFFSET, 12 + _SUPP_OFFSET]
    init = PR_SCALE // len(nodes)
    base = (15 * init) // 100
    pr = {v: init for v in nodes}
    for _ in range(PR_ITERS):
        s = {v: 0 for v in nodes}
        for u, outs in edges.items():
            for v in outs:
                s[v] += pr[u] // len(outs)
        pr = {v: base + (85 * s[v]) // 100 for v in nodes}

    assert got == {
        v: ("supplier" if v >= _SUPP_OFFSET else "customer", pr[v])
        for v in nodes
    }
    assert got[11 + _SUPP_OFFSET][1] > got[12 + _SUPP_OFFSET][1]
    assert got[1][1] == base


def test_triangle_counts_enumeration(spark):
    """K4 on parts {1,2,3,4} minus edge (2,3): triangles (1,2,4),
    (1,3,4) — node 1 and 4 in two each, 2 and 3 in one. Edges need
    co-occurrence in ≥2 orders, so each pair appears twice."""
    from data_engineering_course_project_2023_spark.plans.analytics import (
        triangle_counts,
    )

    pairs = [(1, 2), (1, 3), (1, 4), (2, 4), (3, 4)]
    rows = []
    for i, (x, y) in enumerate(pairs):
        for rep in (0, 1):
            okey = 1000 + i * 10 + rep
            rows += [(okey, x), (okey, y)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts({"lineitem": li}).collect()
    }
    assert got == {1: 2, 2: 1, 3: 1, 4: 2}


def test_kcore_nodes_restores_shuffle_conf(spark):
    """kcore_nodes peels inside the scoped reducer override of
    session.fixpoint (8 reducers at sf0.01); the session shuffle setting
    must be restored after the loop, and the sf0.01 2-core is
    non-empty."""
    from data_engineering_course_project_2023_spark.plans import analytics, registry

    sf = "/root/testdata/sf0.01"
    t = registry.load_tables(spark, sf, ("lineitem",))
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "64")
    try:
        assert analytics.kcore_nodes(t).count() > 0
        assert spark.conf.get(conf) == "64"
    finally:
        spark.conf.set(conf, before)


def _chain(spark, n):
    """Nodes 1..n joined as one path: n - 1 label moves, so min-label
    propagation needs n rounds (the last one sees the probe repeat)."""
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src long, dst long"
    )
    return nodes, edges


def test_cc_raises_past_round_cap(spark, monkeypatch):
    """A component whose diameter outruns max_iter must not come back
    half-propagated from the distributed loop (bound 0): the 26-node
    chain (26 rounds) raises the typed ScaleGuard at max_iter=20."""
    monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", 0)
    nodes, edges = _chain(spark, 26)
    with pytest.raises(dedup.AlgorithmScaleLimit,
                       match="labels still changing after 20 rounds"):
        dedup.connected_components(nodes, edges, max_iter=20)


def test_cc_runs_one_action_per_round(spark, monkeypatch):
    """The label-move probe rides each round's checkpoint job via
    observe(), so an extra round of the distributed loop (bound 0)
    costs exactly one round's jobs. Under AQE one round's checkpoint
    action runs 5 jobs (its query stages plus the checkpoint itself) —
    the per-round count the pre-helper loop measured too; a separate
    probe job per round would make it 6."""
    monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", 0)
    sc = spark.sparkContext

    def jobs(n):
        nodes, edges = _chain(spark, n)
        group = f"cc-rounds-{n}"
        sc.setJobGroup(group, group)
        try:
            dedup.connected_components(nodes, edges).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(16) - jobs(6) == 5 * (16 - 6)


def test_cc_local_finish_has_no_round_cap(spark):
    """The round cap guards only the loop: under the default bound the
    26-node chain that raises at max_iter=20 above comes back exact
    from the driver finish."""
    nodes, edges = _chain(spark, 26)
    got = dedup.connected_components(nodes, edges, max_iter=20).collect()
    assert {(r["node"], r["lbl"]) for r in got} == {(i, 1) for i in range(1, 27)}


def _job_descriptions(sc, group):
    """The ``spark.job.description`` of each job of ``group``, in job
    order (None for a job run without one)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        d = store.job(jid).description()
        out.append(d.get() if d.isDefined() else None)
    return out


@pytest.mark.parametrize("bound, branch", [
    (0, "connected_components: round "),
    (float("inf"), "connected_components: local-finish (n=6)"),
])
def test_cc_jobs_name_their_branch(spark, monkeypatch, bound, branch):
    """Every kernel job carries a description naming its phase and
    branch, and the caller's description is back afterwards: the
    result's own jobs run under it."""
    monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", bound)
    sc = spark.sparkContext
    group = f"cc-branch-{bound}"
    nodes, edges = _chain(spark, 4)
    sc.setJobGroup(group, "caller")
    try:
        labels = dedup.connected_components(nodes, edges)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        labels.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    got = _job_descriptions(sc, group)
    assert got[0] == "connected_components: edges"
    assert got[-1] == "caller"
    kernel = [d for d in got if d != "caller"]
    assert all(d.startswith(branch) for d in kernel[1:]), got
    other = "local-finish" if bound == 0 else ": round "
    assert not any(other in d for d in kernel), got


def test_fixpoint_restores_shuffle_conf_when_step_raises(spark):
    """The reducer override is scoped: a step that raises mid-loop must
    leave the session shuffle setting as it found it."""
    from data_engineering_course_project_2023_spark.session import fixpoint

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    seen = []

    def step(df):
        seen.append(spark.conf.get(conf))
        if len(seen) == 2:
            raise RuntimeError("step failed")
        return df.select((F.col("x") - 1).alias("x"))

    spark.conf.set(conf, "64")
    try:
        with pytest.raises(RuntimeError, match="step failed"):
            fixpoint(
                spark.range(3).select(F.col("id").alias("x")),
                step, F.sum("x"), 10, size_rows=1,
            )
        assert seen == ["8", "8"]
        assert spark.conf.get(conf) == "64"
    finally:
        spark.conf.set(conf, before)


class _Conf(dict):
    def get(self, key):
        return self[key]

    def set(self, key, value):
        self[key] = value


class _Session:
    """Just the ``conf`` a reducer-sizing scope reads and writes: no
    Spark job runs."""

    def __init__(self, parts: int):
        self.conf = _Conf({"spark.sql.shuffle.partitions": str(parts)})


@pytest.mark.parametrize("conf_parts, n_rows, want", [
    (4, 10, 4),            # never above the caller's width
    (32, 10, 8),           # floor 8 on a tiny frame
    (32, 10_000_000, 20),  # ~500k rows per reducer
])
def test_iterative_shuffle_parts_sizing(conf_parts, n_rows, want):
    """The scoped width, and the caller's width back after a round
    raises."""
    from data_engineering_course_project_2023_spark.session import (
        iterative_shuffle_parts,
    )

    s = _Session(conf_parts)
    with pytest.raises(RuntimeError, match="round failed"):
        with iterative_shuffle_parts(s, n_rows) as parts:
            assert parts == want
            assert s.conf.get("spark.sql.shuffle.partitions") == str(want)
            raise RuntimeError("round failed")
    assert s.conf.get("spark.sql.shuffle.partitions") == str(conf_parts)


def _bfs_labels(node_ids, edge_rows):
    """Reference CC in plain Python: breadth-first search over the edges
    whose endpoints are both set; every node's label is the min node of
    its component, under Python's ordering (bytes compare unsigned)."""
    adj: dict = {}
    for a, b in edge_rows:
        if a is not None and b is not None:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    label: dict = {}
    for v in node_ids:
        if v in label:
            continue
        comp = [v]
        seen = {v}
        for u in comp:
            for w in adj.get(u, ()):
                if w not in seen:
                    seen.add(w)
                    comp.append(w)
        root = min(comp)
        label.update((u, root) for u in comp)
    return {(v, label[v]) for v in node_ids}


def _assert_branches_match_bfs(monkeypatch, nodes, edges, max_iter=40):
    """connected_components with the local-finish bound at 0 (the
    distributed loop) and at ∞ (the driver finish) returns the same
    rows and schema, with ``lbl`` of the node type, and both equal the
    BFS reference; returns the (node, lbl) set."""

    def rows(df):
        key = lambda r: (r["node"] is None, r["node"])  # noqa: E731
        return sorted(df.collect(), key=key), df.schema

    got = {}
    for bound in (0, float("inf")):
        monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", bound)
        got[bound] = rows(dedup.connected_components(nodes, edges, max_iter))
    assert got[0] == got[float("inf")], got
    out, schema = got[0]
    assert schema["lbl"].dataType == nodes.schema["node"].dataType
    want = _bfs_labels(
        [r["node"] for r in nodes.collect()],
        [(r["src"], r["dst"]) for r in edges.collect()],
    )
    labels = {(r["node"], r["lbl"]) for r in out}
    assert labels == want
    return labels


def test_cc_branches_match_bfs(spark, monkeypatch):
    """Both branches of the CC kernel equal a plain-Python BFS on: a
    chain + isolated nodes, a batch of seeded random graphs (varied
    density incl. long chains), a 26-node chain and the real co-order
    graph at sf0.01."""
    import random

    from data_engineering_course_project_2023_spark.plans import (
        analytics,
        registry,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "node long")
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    got = _assert_branches_match_bfs(monkeypatch, nodes, edges)
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)}

    rng = random.Random(42)
    for n, m in [(12, 6), (20, 25), (30, 15)]:
        es = [
            (rng.randint(1, n), rng.randint(1, n)) for _ in range(m)
        ]
        es = [(a, b) for a, b in es if a != b] or [(1, 2)]
        nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "node long")
        edges = spark.createDataFrame(es, "src long, dst long")
        _assert_branches_match_bfs(monkeypatch, nodes, edges)
    # a pure long chain — worst case for propagation (diameter rounds).
    # The loop needs a round cap past the 25-hop diameter to converge
    # (below it, it raises AlgorithmScaleLimit —
    # test_cc_raises_past_round_cap).
    nodes, edges = _chain(spark, 26)
    got = _assert_branches_match_bfs(monkeypatch, nodes, edges)
    assert {lbl for _, lbl in got} == {1}

    t = registry.load_tables(spark, "/root/testdata/sf0.01", ("lineitem",))
    want = {
        (r["l_partkey"], r["component"])
        for r in analytics.copair_components(t).collect()
    }
    nodes = t["lineitem"].select(F.col("l_partkey").alias("node")).distinct()
    got = _assert_branches_match_bfs(
        monkeypatch, nodes, analytics.coorder_graph(t["lineitem"])
    )
    assert got == want and len(got) > 0


def _binary_key(i):
    """A 16-byte BINARY node id for ``i`` < 128. Odd ids get a first
    byte ≥ 0x80, so signed and unsigned byte orders disagree on which
    of two neighbouring ids is smaller."""
    return bytes([i | (i % 2) << 7]) + bytes(15)


@pytest.mark.parametrize("node_type", ["int", "long", "binary"])
@pytest.mark.parametrize("node_ids, edge_rows", [
    pytest.param(range(1, 4), [], id="empty-edges"),
    pytest.param([], [(1, 2)], id="empty-nodes"),
    pytest.param(range(1, 6), [(1, None), (None, 3), (2, 3), (4, 4)],
                 id="null-endpoints-and-self-loop"),
    pytest.param(range(1, 6), [(1, 2), (2, 1), (1, 2), (4, 3), (3, 4)],
                 id="duplicate-and-reversed"),
    # node 3 still moves in round 2 while the count of distinct labels
    # stays at 2: the probe must not stop there.
    pytest.param([1, 3, 4, 5], [(5, 1), (3, 5), (3, 4)],
                 id="late-move"),
])
def test_cc_branches_on_edge_inputs(spark, monkeypatch, node_type, node_ids,
                                    edge_rows):
    """Both branches equal the BFS reference, schema included, on the
    inputs the co-order graph never produces and on 16-byte BINARY ids
    (the surrogate keys of collab_communities)."""
    key = _binary_key if node_type == "binary" else int
    node_ids = [key(i) for i in node_ids]
    edge_rows = [
        tuple(None if v is None else key(v) for v in row) for row in edge_rows
    ]
    nodes = spark.createDataFrame([(i,) for i in node_ids], f"node {node_type}")
    edges = spark.createDataFrame(edge_rows, f"src {node_type}, dst {node_type}")
    got = _assert_branches_match_bfs(monkeypatch, nodes, edges)
    assert {n for n, _ in got} == set(node_ids)


def test_mmr_rerank_matches_stepwise_loop_on_random_vectors(spark):
    """Round 12 (VERDICT r11 #5): mmr_rerank's greedy stage now collects
    the engine-computed shortlist sim matrix once and selects picks
    driver-side (3 jobs instead of MMR_K sequential .first() jobs).
    Every EMITTED value stays engine-computed; the one driver-side
    operation that could diverge is the pick comparison's 6-dp HALF_UP
    round. Pin the full output — ranks, ids, and bit-exact doubles —
    against the reference step-by-step .first() loop (the r11
    spelling, reproduced here verbatim) on seeded random vectors, so
    the equivalence is tested beyond the committed fixture."""
    import random

    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.plans import llmops

    def reference_loop(cand):
        selected = []
        for _ in range(llmops.MMR_K):
            if not selected:
                score = F.col("rel")
            else:
                sims = [
                    F.round(
                        similarity.cosine_exact_q(
                            F.col("embedding"),
                            F.array(
                                *[
                                    F.lit(q)
                                    for q in similarity.quantize_py(vec)
                                ]
                            ),
                        ),
                        6,
                    )
                    for (_vid, _rel, _mmr, vec) in selected
                ]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
                score = F.round(
                    F.lit(0.5) * F.col("rel") - F.lit(0.5) * maxsim, 6
                )
            pick = (
                cand.filter(
                    ~F.col("vec_id").isin([s[0] for s in selected])
                    if selected
                    else F.lit(True)
                )
                .select("vec_id", "rel", score.alias("mmr"), "embedding")
                .orderBy(F.desc("mmr"), F.asc("vec_id"))
                .first()
            )
            selected.append(
                (pick["vec_id"], pick["rel"], pick["mmr"], pick["embedding"])
            )
        return [(i + 1, s[0], s[1], s[2]) for i, s in enumerate(selected)]

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        rows = [
            (v, [rng.uniform(-1.0, 1.0) for _ in range(8)])
            for v in range(0, 30)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id int, embedding array<float>"
        )
        got = [
            (r["rank"], r["vec_id"], r["rel"], r["mmr"])
            for r in llmops.mmr_rerank({"embeddings": emb}).collect()
        ]
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        cand = (
            emb.filter(F.col("vec_id") != 0)
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
            .limit(llmops.MMR_SHORTLIST)
            .localCheckpoint()
        )
        want = reference_loop(cand)
        assert got == want, f"seed {seed}: {got} != {want}"


def _mmr_vs_oracle(spark, tmp_path, rows):
    """Run mmr_rerank over a constructed embeddings table and compare it
    with its DuckDB oracle; returns the engine rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_course_project_2023_spark.plans import registry
    from tests.parity import compare

    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
    )
    pq.write_table(
        pa.Table.from_pylist(
            [{"vec_id": v, "embedding": e} for v, e in rows], schema=schema
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    df = registry.run_query("mmr_rerank", spark, str(tmp_path))
    problems = compare(df, registry.REGISTRY["mmr_rerank"].oracle, str(tmp_path))
    assert not problems, problems
    return [(r["rank"], r["vec_id"], r["rel"], r["mmr"]) for r in df.collect()]


@pytest.mark.parametrize("n_cand", [0, 1, 3])
def test_mmr_rerank_short_shortlist_matches_oracle(spark, tmp_path, n_cand):
    """A shortlist of 0, 1 or fewer than MMR_K rows returns one pick per
    row, as the oracle's later greedy steps come out empty."""
    rows = [(0, [1.0, 0.0, 0.0])] + [
        (v, [1.0, 0.5 * v, -0.25 * v]) for v in range(1, n_cand + 1)
    ]
    got = _mmr_vs_oracle(spark, tmp_path, rows)
    assert [r[0] for r in got] == list(range(1, n_cand + 1))


def test_mmr_rerank_zero_norm_embedding_matches_oracle(spark, tmp_path):
    """A zero-norm embedding has no cosine: rel and its sims are NULL, as
    in the oracle, and NULL scores are picked last."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 0.0]),
        (3, [0.5, -1.0, 0.25]),
    ]
    got = _mmr_vs_oracle(spark, tmp_path, rows)
    assert [r[1] for r in got][-1] == 1 and got[-1][2] is None


def test_mmr_rerank_zero_norm_query_matches_oracle(spark, tmp_path):
    """A zero-norm query vector makes every rel NULL: picks fall back to
    the vec_id tiebreak, as in the oracle."""
    rows = [(0, [0.0, 0.0])] + [(v, [1.0, float(v)]) for v in range(1, 8)]
    got = _mmr_vs_oracle(spark, tmp_path, rows)
    assert [r[1] for r in got] == [1, 2, 3, 4, 5]


def test_mmr_desc_key_orders_like_spark():
    """The driver-side pick key sorts NaN above every number and NULL
    last, as Spark's descending sort does."""
    from data_engineering_course_project_2023_spark.plans import llmops

    vals = [0.5, None, float("nan"), -1.0, 2.0]
    got = sorted(vals, key=llmops._desc_key)
    assert str(got) == str([float("nan"), 2.0, 0.5, -1.0, None])
    assert str(llmops._sql_max([0.1, None, float("nan")])) == "nan"
    assert llmops._sql_max([None, None]) is None
    assert llmops._sql_max([0.1, None, 0.3]) == 0.3


def test_coorder_graph_builds_once_per_run(spark, tmp_path, monkeypatch):
    """copair_components then node_jaccard through run_query on one
    directory build the co-order edge frame once: node_jaccard runs
    fewer jobs than it does in a new run, which rebuilds the frame.
    Overwriting lineitem rebuilds it too, and the answer follows the
    new file."""
    import shutil

    import duckdb

    from data_engineering_course_project_2023_spark.plans import (
        analytics,
        registry,
    )

    from .conftest import SF_CORRECT
    from .parity import compare

    d = str(tmp_path)
    li = os.path.join(d, "lineitem.parquet")
    shutil.copy(os.path.join(SF_CORRECT, "lineitem.parquet"), li)
    builds = []
    build = analytics.coorder_edges
    monkeypatch.setattr(
        analytics, "coorder_edges", lambda li: builds.append(1) or build(li)
    )
    sc = spark.sparkContext

    def jobs(name, group):
        sc.setJobGroup(group, group)
        try:
            registry.run_query(name, spark, d).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs("copair_components", "memo-copair")
    warm = jobs("node_jaccard", "memo-jaccard")
    assert len(builds) == 1

    monkeypatch.setattr(dedup, "_session_tag", lambda s: "another-run")
    cold = jobs("node_jaccard", "memo-jaccard-new-run")
    assert len(builds) == 2 and cold > warm

    os.remove(li)
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF_CORRECT}/lineitem.parquet') "
        f"WHERE l_orderkey % 2 = 0) TO '{li}' (FORMAT parquet)"
    )
    con.close()
    df = registry.run_query("copair_components", spark, d)
    assert len(builds) == 3
    assert compare(df, registry.REGISTRY["copair_components"].oracle, d) == []
