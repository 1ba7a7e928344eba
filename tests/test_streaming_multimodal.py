"""Streaming batch-twin equivalence (S13) + multimodal plumbing tests."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_engineering_course_project_2023_spark.operators import multimodal
from data_engineering_course_project_2023_spark.streaming import loganalytics

LOG_LINES = [
    "[2024-01-01 10:00:00,123] {dag_a.task_1} INFO - started",
    "[2024-01-01 11:30:00,456] {dag_a.task_1} ERROR - boom",
    "[2024-01-01 23:59:59,999] {dag_b.task_2} INFO - ok",
    "[2024-01-02 00:00:01,000] {dag_b.task_2} WARNING - late-ish",
    "[2024-01-02 08:15:00,111] {dag_a.task_3} INFO - done",
    "this line does not parse at all",
]


@pytest.fixture()
def log_dir(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "airflow.log").write_text("\n".join(LOG_LINES))
    return str(d)


def test_parse_and_daily_counts_batch(spark, log_dir):
    parsed = loganalytics.parse_log_lines(spark.read.text(log_dir))
    rows = parsed.collect()
    assert sum(r["ts"] is None for r in rows) == 1  # dead-letter row kept
    agg = {
        (r["day"], r["level"]): r["n_lines"]
        for r in loganalytics.daily_level_counts(parsed).collect()
    }
    assert agg == {
        ("2024-01-01", "INFO"): 2,
        ("2024-01-01", "ERROR"): 1,
        ("2024-01-02", "WARNING"): 1,
        ("2024-01-02", "INFO"): 1,
    }


def test_stream_equals_batch(spark, log_dir):
    """availableNow streaming run produces exactly the batch result —
    the batch-twin discipline that lets t2 oracle the semantics."""
    ckpt = tempfile.mkdtemp()
    try:
        q = loganalytics.stream_log_dir(
            spark, log_dir, ckpt, out_dir="", trigger_available_now=True
        )
        q.awaitTermination(60)
        stream_rows = {
            (r["day"], r["level"]): r["n_lines"]
            for r in spark.sql("SELECT * FROM log_daily_counts").collect()
        }
        batch_rows = {
            (r["day"], r["level"]): r["n_lines"]
            for r in loganalytics.daily_level_counts(
                loganalytics.parse_log_lines(spark.read.text(log_dir))
            ).collect()
        }
        assert stream_rows == batch_rows
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_multimodal_features(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "another doc")], "doc_id long, text string"
    )
    media = multimodal.documents_as_media(docs)
    assert [f.name for f in media.schema] == [
        "media_id", "kind", "content", "mime", "n_bytes",
    ]
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 2
    f1 = next(r for r in feats if r["media_id"] == 1)
    assert len(f1["features"]) == multimodal.FEATURE_DIM
    assert f1["n_bytes"] == len(b"hello world")
    # deterministic: same input → same features
    feats2 = multimodal.extract_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    # strict mode surfaces the stub seam
    import pytest as _pytest

    with _pytest.raises(Exception):
        multimodal.extract_features(media, strict=True).collect()


def test_frame_sampling(spark):
    docs = spark.createDataFrame([(1, "x" * 20)], "doc_id long, text string")
    frames = multimodal.frame_sample(multimodal.documents_as_media(docs))
    idx = [r["frame_idx"] for r in frames.collect()]
    assert idx == list(range(0, 20 % 16 + 1, 2))


def test_events_stream_twin_matches_oracle_transform(spark, tmp_path):
    """The oracle-checked daily_counts_transform produces identical
    results under readStream (availableNow) — so the t2-gated batch
    semantics ARE the streaming semantics (S13 discipline)."""
    import shutil

    from data_engineering_course_project_2023_spark.plans import eventstream
    from data_engineering_course_project_2023_spark.sources.readers import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    # stage a stream-source dir (micros timestamps so readStream works)
    src_dir = str(tmp_path / "events_src")
    events.write.parquet(src_dir)
    batch = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in eventstream.daily_counts_transform(events).collect()
    }
    from data_engineering_course_project_2023_spark.streaming import with_event_time

    stream_in = with_event_time(
        spark.readStream.schema(events.schema).parquet(src_dir)
    )
    agg = eventstream.daily_counts_transform(
        stream_in.withWatermark("ts", "1 hour")
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("events_daily")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM events_daily").collect()
    }
    assert streamed == batch
    shutil.rmtree(ckpt, ignore_errors=True)


def test_stateful_stream_equals_batch(spark, tmp_path):
    """applyInPandasWithState running totals == batch groupBy on the
    same input (update-mode: take each user's LAST emitted row)."""
    import shutil

    from data_engineering_course_project_2023_spark.sources.readers import load_table
    from data_engineering_course_project_2023_spark.streaming import stateful

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev_src")
    # two files → at least two micro-batch-able splits
    events.repartition(2).write.parquet(src)

    batch = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in stateful.running_user_totals_batch(events).collect()
    }
    stream_in = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = str(tmp_path / "ck")
    q = (
        stateful.running_user_totals_stream(stream_in)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per user per micro-batch; final state =
    # the max-n_events row per user
    got = {}
    for r in spark.sql("SELECT * FROM user_totals").collect():
        cur = got.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            got[r["user_id"]] = (r["n_events"], r["total_value"])
    assert got == batch
    shutil.rmtree(ckpt, ignore_errors=True)


def test_bus_envelope_stream_twin(spark, tmp_path):
    """Message-bus seam (streaming/bus.py): JSONL topic files →
    Kafka-shaped envelopes → decode_json_values → the SAME oracle-gated
    daily transform == the batch result. Switching this to the real
    Kafka backend changes only the envelope constructor."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_engineering_course_project_2023_spark.plans import eventstream
    from data_engineering_course_project_2023_spark.sources.readers import load_table
    from data_engineering_course_project_2023_spark.streaming import bus

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    topic_root = str(tmp_path / "topics")
    # serialize ts as a plain string so the JSON roundtrip is exact
    (
        events.select(
            F.to_json(
                F.struct(
                    "event_id",
                    F.col("ts").cast("string").alias("ts"),
                    "user_id",
                    "event_type",
                    "value",
                )
            ).alias("value")
        ).write.text(f"{topic_root}/events")
    )

    batch = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in eventstream.daily_counts_transform(events).collect()
    }

    value_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    decoded = bus.decode_json_values(
        bus.file_topic_envelopes(spark, topic_root, "events"), value_schema
    ).withColumn("ts", F.to_timestamp("ts"))
    assert decoded.isStreaming

    agg = eventstream.daily_counts_transform(
        decoded.withWatermark("ts", "1 hour")
    )
    ckpt = str(tmp_path / "bus_ckpt")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("bus_daily")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM bus_daily").collect()
    }
    assert streamed == batch
    shutil.rmtree(ckpt, ignore_errors=True)


def test_bus_decode_dead_letters_bad_json(spark, tmp_path):
    """Unparseable bus messages keep their envelope with a null payload
    (dead-letter routing) — never silently dropped."""
    from pyspark.sql import types as T

    from data_engineering_course_project_2023_spark.streaming import bus

    topic_root = str(tmp_path / "topics")
    d = tmp_path / "topics" / "raw"
    d.mkdir(parents=True)
    (d / "part-0.txt").write_text('{"a": 1}\nnot json at all\n{"a": 3}\n')

    schema = T.StructType([T.StructField("a", T.LongType())])
    decoded = bus.decode_json_values(
        bus.file_topic_envelopes(spark, topic_root, "raw"), schema
    )
    ckpt = str(tmp_path / "dl_ckpt")
    q = (
        decoded.writeStream.outputMode("append")
        .format("memory")
        .queryName("bus_raw")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM bus_raw").collect()
    assert len(rows) == 3
    good = sorted(r["a"] for r in rows if not r["is_dead"])
    dead = [r for r in rows if r["is_dead"]]
    assert good == [1, 3] and len(dead) == 1


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Streaming session_window (watermarked, APPEND mode — the only
    mode Spark allows for streaming session aggregation) == the
    oracle-gated batch session_window result. Append emits a session
    only once the watermark passes it, so the input carries one
    far-future SENTINEL event per user (the standard flush trick);
    sentinel sessions are dropped by their window start before
    comparing."""
    import shutil

    from data_engineering_course_project_2023_spark.plans import eventstream
    from data_engineering_course_project_2023_spark.sources.readers import load_table
    from data_engineering_course_project_2023_spark.streaming import with_event_time

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "sess_src")
    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = (
        events.select("user_id")
        .distinct()
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(max_ts).cast("timestamp_ntz") + F.expr("INTERVAL 6 HOURS"))
            .alias("ts"),
            "user_id",
            F.lit("__flush__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )
    events.select(*sentinel.columns).unionByName(sentinel).write.parquet(src)
    batch = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in eventstream.session_window_counts({"events": events}).collect()
    }
    stream_in = with_event_time(
        spark.readStream.schema(sentinel.schema).parquet(src)
    ).withWatermark("ts", "0 seconds")
    per_session = stream_in.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"),
        F.col("user_id"),
    ).agg(F.count(F.lit(1)).alias("sess_events"))
    ckpt = str(tmp_path / "sess_ck")
    q = (
        per_session.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_win")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, sess_events FROM sess_win "
        f"WHERE sw.start <= timestamp'{max_ts}'"
    ).collect()
    agg = {}
    for r in rows:
        n_sess, n_ev = agg.get(r["user_id"], (0, 0))
        agg[r["user_id"]] = (n_sess + 1, n_ev + r["sess_events"])
    streamed = {(u, s, ev) for u, (s, ev) in agg.items()}
    assert streamed == batch
    shutil.rmtree(ckpt, ignore_errors=True)


def test_sliding_window_stream_twin_matches_batch(spark, tmp_path):
    """The oracle-checked sliding_counts_transform (3d window / 1d
    slide) produces identical results under readStream (availableNow)
    — overlapping windows join tumbling/session in the stream==batch
    contract."""
    import shutil

    from data_engineering_course_project_2023_spark.plans import eventstream
    from data_engineering_course_project_2023_spark.sources.readers import load_table
    from data_engineering_course_project_2023_spark.streaming import with_event_time

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src_dir = str(tmp_path / "events_src")
    events.write.parquet(src_dir)
    batch = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in eventstream.sliding_counts_transform(events).collect()
    }
    stream_in = with_event_time(
        spark.readStream.schema(events.schema).parquet(src_dir)
    )
    agg = eventstream.sliding_counts_transform(
        stream_in.withWatermark("ts", "1 hour")
    )
    ckpt = str(tmp_path / "ckpt_slide")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("events_sliding")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM events_sliding").collect()
    }
    assert streamed == batch
    shutil.rmtree(ckpt, ignore_errors=True)


def test_resize_preserves_aspect_and_is_deterministic(spark):
    """Resize stage: aspect-preserving integer downscale to max_side,
    pass-through when already small, deterministic resized hash."""
    from data_engineering_course_project_2023_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "a" * 300), (2, "b")], "doc_id long, text string"
    )
    media = multimodal.documents_as_media(docs)
    out = {
        r["media_id"]: r
        for r in multimodal.resize_images(media, max_side=100).collect()
    }
    for mid, r in out.items():
        assert max(r["out_width"], r["out_height"]) <= max(
            100, min(r["width"], r["height"])
        )
        # aspect preserved within integer floor
        if max(r["width"], r["height"]) > 100:
            assert max(r["out_width"], r["out_height"]) == 100
        else:
            assert (r["out_width"], r["out_height"]) == (
                r["width"], r["height"]
            )
    again = {
        r["media_id"]: r["resized_sha"]
        for r in multimodal.resize_images(media, max_side=100).collect()
    }
    assert again == {m: r["resized_sha"] for m, r in out.items()}


def test_streaming_listener_captures_progress_metrics(spark, tmp_path):
    """Operational surface: a StreamingQueryListener observes per-batch
    progress (numInputRows, batchId) — the hook a production deployment
    wires to its metrics bus instead of log-scraping. Pin that the
    listener sees every batch and that observed input rows equal the
    rows actually fed."""
    import json
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    seen = {"rows": 0, "batches": 0}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            seen["rows"] += int(p.get("numInputRows", 0))
            seen["batches"] += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    cap = Capture()
    spark.streams.addListener(cap)
    try:
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        import os

        os.makedirs(src)
        with open(os.path.join(src, "a.json"), "w") as f:
            for i in range(25):
                f.write(json.dumps({"k": i}) + "\n")
        stream = (
            spark.readStream.schema("k long").json(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        stream.awaitTermination(60)
        # listener delivery is async; give the bus a moment
        for _ in range(50):
            if seen["rows"] >= 25:
                break
            time.sleep(0.2)
        assert seen["rows"] == 25
        assert seen["batches"] >= 1
        assert spark.read.parquet(out).count() == 25
    finally:
        spark.streams.removeListener(cap)
