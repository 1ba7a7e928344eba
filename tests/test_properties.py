"""Property-based tests (hypothesis): operator invariants on generated
data. Each example packs its whole case list into ONE DataFrame so a
test runs a handful of Spark jobs, not hundreds."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_course_project_2023_spark.functions.expr import (
    clean_text,
    null_default,
    surrogate_key,
)

TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
            whitelist_characters="\t\n\r äöüñ",
        ),
        max_size=60,
    ),
    min_size=1,
    max_size=30,
)

SLOW_OK = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=TEXTS)
@SLOW_OK
def test_clean_text_idempotent_and_single_spaced(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    out = df.select(
        clean_text("s").alias("once"),
        clean_text(clean_text("s")).alias("twice"),
    ).collect()
    for r in out:
        assert r["once"] == r["twice"]  # idempotent
        assert "  " not in r["once"]  # no runs
        assert r["once"] == r["once"].strip()  # trimmed
        for ws in ("\t", "\n", "\r"):
            assert ws not in r["once"]


@given(keys=st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=30))
@SLOW_OK
def test_surrogate_keys_deterministic_and_injective_on_distinct(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    out = df.select("k", surrogate_key("k").alias("sk")).collect()
    by_key = {}
    for r in out:
        # same key always same surrogate
        assert by_key.setdefault(r["k"], r["sk"]) == r["sk"]
    # distinct keys → distinct surrogates (a collision among n keys of
    # 128 bits has probability ≈ n²/2¹²⁹)
    assert len({r["sk"] for r in out}) == len({r["k"] for r in out})


# rows of 1-3 nullable unicode strings (the alphabet holds NUL and the
# separator "|"), every row the same width
KEY_ROWS = st.integers(1, 3).flatmap(
    lambda w: st.lists(
        st.tuples(*[st.one_of(st.none(), st.text(max_size=12))] * w),
        min_size=1,
        max_size=30,
    )
)


@given(rows=KEY_ROWS)
@SLOW_OK
def test_surrogate_key_matches_duckdb_twin(spark, rows):
    """``surrogate_key`` is ``unhex(md5(concat_ws('|', …)))`` byte for
    byte in both engines (the DuckDB spelling the oracles use), every
    key is 16 bytes, and a key over a key column (the star schema's
    ``pid = surrogate_key(id, title)``, ``id`` itself a key) is
    deterministic and injective on distinct (key, text) pairs."""
    import duckdb

    cols = [f"c{i}" for i in range(len(rows[0]))]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    out = df.select(
        surrogate_key(*cols).alias("k"),
        surrogate_key(surrogate_key(*cols), cols[-1]).alias("pid"),
    ).collect()

    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE t ({', '.join(f'{c} VARCHAR' for c in cols)})")
        con.executemany(
            f"INSERT INTO t VALUES ({', '.join('?' * len(cols))})", rows
        )
        twin = con.execute(
            f"SELECT unhex(md5(concat_ws('|', {', '.join(cols)}))) FROM t"
            " ORDER BY rowid"
        ).fetchall()
    finally:
        con.close()

    assert [bytes(r["k"]) for r in out] == [bytes(r[0]) for r in twin]
    assert all(len(r["k"]) == 16 and len(r["pid"]) == 16 for r in out)
    by_pair: dict = {}
    for row, r in zip(rows, out):
        pair = (bytes(r["k"]), row[-1])
        assert by_pair.setdefault(pair, bytes(r["pid"])) == bytes(r["pid"])
    assert len(set(by_pair.values())) == len(by_pair)


@given(
    vals=st.lists(
        st.one_of(st.none(), st.text(max_size=10)), min_size=1, max_size=30
    )
)
@SLOW_OK
def test_null_default_total(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(null_default("s").alias("d")).collect()
    assert all(r["d"] is not None for r in out)
    assert sum(r["d"] == "Unknown" for r in out) >= sum(v is None for v in vals)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key
            st.integers(min_value=0, max_value=100_000),  # seconds offset
        ),
        min_size=2,
        max_size=60,
    ),
    gap=st.integers(min_value=10, max_value=5000),
)
@SLOW_OK
def test_range_join_equals_naive_property(spark, rows, gap):
    from data_engineering_course_project_2023_spark.operators.temporal import (
        bucketized_range_join,
    )

    base = 1_700_000_000
    df = spark.createDataFrame(
        [(k, base + s, i) for i, (k, s) in enumerate(rows)],
        "k int, epoch long, rid int",
    ).select("k", F.timestamp_seconds("epoch").alias("ts"), "rid")
    left = df.select("k", F.col("ts").alias("lts"), F.col("rid").alias("lid"))
    right = df.select("k", F.col("ts").alias("rts"), F.col("rid").alias("rid"))
    fast = {
        (r["lid"], r["rid"])
        for r in bucketized_range_join(left, right, "k", "lts", "rts", gap).collect()
    }
    naive = {
        (r["lid"], r["rid"])
        for r in left.join(right, "k")
        .filter(F.abs(F.unix_timestamp("lts") - F.unix_timestamp("rts")) <= gap)
        .collect()
    }
    assert fast == naive


@given(
    hist=st.lists(
        st.text(alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
                min_size=1, max_size=20),
        min_size=1, max_size=30),
    fresh=st.lists(
        st.text(alphabet=st.characters(whitelist_categories=("Lu",)),
                min_size=1, max_size=20),
        min_size=1, max_size=30),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_never_false_negative(spark, hist, fresh):
    """PROPERTY: for any history and any probe batch, every probe key
    that IS in the history is filtered out (Bloom admits false
    positives, never false negatives). Lowercase/digit history vs
    uppercase fresh keys guarantees the two pools are disjoint."""
    from data_engineering_course_project_2023_spark.operators import dedup

    hist_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(hist)], "doc_id int, text string"
    )
    probe = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(hist)]
        + [(1000 + i, t) for i, t in enumerate(fresh)],
        "doc_id int, text string",
    )
    bitmap = dedup.bloom_build_bitmap(hist_df, "text")
    surviving = {
        r["text"] for r in dedup.bloom_novel(probe, bitmap, "text").collect()
    }
    assert surviving.isdisjoint(set(hist))


@given(
    rows=st.lists(
        st.tuples(
            st.none() | st.integers(1, 4),
            st.none() | st.integers(1, 3),
            st.none() | st.integers(1, 12),
        ),
        min_size=1, max_size=60,
    ),
)
@example(rows=[(None, 1, 1), (None, 1, 2), (1, 1, 3), (1, 1, 4)])
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pair_stream_equals_self_join(spark, rows):
    """PROPERTY: the pair kernel is EXACTLY the equi-join it replaced,
    ``x JOIN y USING (keys) WHERE x.item < y.item`` over the distinct
    (keys, item) frame — same rows for any multiset, duplicates,
    singleton sets, NULL keys and NULL items included (both drop
    them). Cases: one key and two keys over long items, and two keys
    over 16-byte ``surrogate_key`` items, which pins that the kernel's
    ``sort_array`` orders binary keys as ``<`` does (the collab graph's
    author_a < author_b)."""
    from data_engineering_course_project_2023_spark.plans.analytics import (
        pair_stream,
    )

    df = spark.createDataFrame(rows, "k1 long, k2 long, item long").withColumn(
        "bkey",
        F.when(F.col("item").isNotNull(), surrogate_key(F.col("item").cast("string"))),
    )

    def rowset(frame, cols):
        return sorted(
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in frame.select(*cols).collect()
        )

    for keys, item in ((["k1"], "item"), (["k1", "k2"], "item"), (["k1", "k2"], "bkey")):
        got = rowset(pair_stream(df, keys, item), [*keys, "src", "dst"])
        items = df.select(*keys, item).distinct()
        a, b = items.alias("a"), items.alias("b")
        want = rowset(
            a.join(b, keys).filter(F.col(f"a.{item}") < F.col(f"b.{item}")),
            [*keys, F.col(f"a.{item}"), F.col(f"b.{item}")],
        )
        assert got == want, (keys, item)
