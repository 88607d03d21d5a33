"""Structured-Streaming tests: AvailableNow file ingest (the
reference's event-driven batch model), exactly-once incremental
pickup, and watermarked streaming aggregation."""

import pytest
from pyspark.sql import functions as F

from ulh_etl_spark.streaming.file_stream import stream_ingest_available_now
from ulh_etl_spark.streaming.windows import (
    sessionize,
    streaming_session_counts,
    windowed_counts,
)

SCHEMA = "id INT, name STRING, val DOUBLE"


@pytest.fixture()
def stream_env(spark, tmp_path):
    inbound = tmp_path / "inbound"
    inbound.mkdir()
    ckpt = tmp_path / "ckpt"
    yield str(inbound), str(ckpt)
    spark.sql("DROP TABLE IF EXISTS stream_target")


def test_available_now_ingest_and_incremental(spark, stream_env):
    inbound, ckpt = stream_env
    import os

    with open(os.path.join(inbound, "f1.csv"), "w") as f:
        f.write("id,name,val\n1,a,1.5\n2,b,2.5\n")

    n = stream_ingest_available_now(
        spark, inbound, SCHEMA, "stream_target", ckpt
    )
    assert n == 2
    t = spark.table("stream_target")
    assert "file_name" in t.columns and "file_load_time" in t.columns
    assert t.filter(F.col("file_name").endswith("f1.csv")).count() == 2

    # second file lands -> rerun processes ONLY the new file
    with open(os.path.join(inbound, "f2.csv"), "w") as f:
        f.write("id,name,val\n3,c,3.5\n")
    n = stream_ingest_available_now(
        spark, inbound, SCHEMA, "stream_target", ckpt
    )
    assert n == 3  # not 5: f1 was checkpointed, exactly-once

    # third run with nothing new is a no-op
    n = stream_ingest_available_now(
        spark, inbound, SCHEMA, "stream_target", ckpt
    )
    assert n == 3


def test_available_now_with_transform(spark, stream_env):
    inbound, ckpt = stream_env
    import os

    with open(os.path.join(inbound, "f1.csv"), "w") as f:
        f.write("id,name,val\n1,{x},9.0\n")

    n = stream_ingest_available_now(
        spark, inbound, SCHEMA, "stream_target", ckpt,
        transform=lambda df: df.withColumn(
            "name", F.regexp_replace("name", r"[{}]", "")
        ),
    )
    assert n == 1
    assert spark.table("stream_target").collect()[0].name == "x"


def test_available_now_cut_off_drain_raises(spark, stream_env, monkeypatch):
    """A drain still running at the deadline must not report a row
    count as if it had finished: it raises, naming the checkpoint."""
    import os

    from ulh_etl_spark.streaming import file_stream

    inbound, ckpt = stream_env
    with open(os.path.join(inbound, "f1.csv"), "w") as f:
        f.write("id,name,val\n1,a,1.5\n")
    monkeypatch.setattr(file_stream, "_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="checkpoint"):
        stream_ingest_available_now(
            spark, inbound, SCHEMA, "stream_target", ckpt
        )


def test_batch_and_stream_parse_csv_alike(spark, stream_env):
    """csv_scan and the streaming file source read a file with the
    same options: a quoted delimiter, doubled-quote escapes, padded
    fields and a short row come out the same either way."""
    import os

    from ulh_etl_spark.sources.files import csv_scan

    inbound, ckpt = stream_env
    path = os.path.join(inbound, "f1.csv")
    with open(path, "w") as f:
        f.write(
            "id,name,note\n"
            '1,"Smith, Jane","said ""hi"""\n'
            "  2 ,  Lee  ,  padded  \n"
            "3,Short\n"
        )
    stream_ingest_available_now(
        spark, inbound, "id STRING, name STRING, note STRING",
        "stream_target", ckpt,
    )
    streamed = spark.table("stream_target").drop("file_load_time")
    batch = csv_scan(spark, [path])
    assert streamed.columns == batch.columns
    rows = sorted(tuple(r) for r in batch.collect())
    assert sorted(tuple(r) for r in streamed.collect()) == rows
    assert [r[:3] for r in rows] == [
        ("1", "Smith, Jane", 'said "hi"'),
        ("2", "Lee", "padded"),
        ("3", "Short", None),
    ]


def test_streaming_windowed_counts(spark, tmp_path):
    """Watermarked tumbling-window agg over a rate-free file stream,
    drained with AvailableNow into a memory sink."""
    import os

    src = tmp_path / "events"
    src.mkdir()
    with open(os.path.join(str(src), "e.csv"), "w") as f:
        f.write(
            "ts,event_type,value\n"
            "2024-01-01 00:10:00,click,1.0\n"
            "2024-01-01 00:20:00,click,2.0\n"
            "2024-01-01 01:05:00,view,3.0\n"
        )
    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("header", True)
        .csv(str(src))
    )
    agg = windowed_counts(
        stream, "ts", "1 hour", ("event_type",), "value", watermark="2 hours"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert rows == {
        ("2024-01-01 00:00:00", "click"): (2, 3.0),
        ("2024-01-01 01:00:00", "view"): (1, 3.0),
    }


def test_streaming_sliding_windows(spark, tmp_path):
    """The SAME windowed_counts call with slide= runs as a watermarked
    hopping-window stream: each event lands in window/slide = 2
    overlapping windows."""
    import os

    src = tmp_path / "events_slide"
    src.mkdir()
    with open(os.path.join(str(src), "e.csv"), "w") as f:
        f.write("ts,event_type,value\n2024-01-01 00:40:00,click,1.0\n")
    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("header", True)
        .csv(str(src))
    )
    agg = windowed_counts(
        stream, "ts", "1 hour", ("event_type",), "value",
        watermark="2 hours", slide="30 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        str(r.window_start): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    # 00:40 falls in [00:00,01:00) and [00:30,01:30)
    assert rows == {
        "2024-01-01 00:00:00": (1, 1.0),
        "2024-01-01 00:30:00": (1, 1.0),
    }


def test_dedup_within_watermark_drops_in_batch_duplicate(spark, tmp_path):
    """Duplicate keys within the watermark horizon are dropped;
    state is watermark-bounded (the production streaming dedup)."""
    import os

    from ulh_etl_spark.streaming.windows import dedup_within_watermark

    src = tmp_path / "dups"
    src.mkdir()
    with open(os.path.join(str(src), "e.csv"), "w") as f:
        f.write(
            "ts,event_id,value\n"
            "2024-01-01 00:10:00,1,1.0\n"
            "2024-01-01 00:11:00,1,1.0\n"  # duplicate within horizon
            "2024-01-01 00:12:00,2,2.0\n"
        )
    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_id LONG, value DOUBLE")
        .option("header", True)
        .csv(str(src))
    )
    out = dedup_within_watermark(stream, ("event_id",), "ts", "1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dedup_wm").collect()
    assert sorted(r.event_id for r in rows) == [1, 2]


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """max_bucket_size: a boilerplate bucket (many identical docs)
    stops emitting B² pairs; normal buckets are untouched."""
    from ulh_etl_spark.operators.dedup import minhash_candidate_pairs

    boiler = [(i, "identical boilerplate header text") for i in range(10)]
    near_text = "a genuinely unique document about rivers and mountains"
    pair = [(100, near_text), (101, near_text + " x")]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    uncapped = minhash_candidate_pairs(df, "text", "doc_id")
    capped = minhash_candidate_pairs(df, "text", "doc_id", max_bucket_size=5)
    unc = {(r.id1, r.id2) for r in uncapped.collect()}
    cap = {(r.id1, r.id2) for r in capped.collect()}
    # boilerplate pairs (45 of them) dominate uncapped, vanish capped
    assert sum(1 for a, b in unc if a < 10 and b < 10) == 45
    assert not any(a < 10 and b < 10 for a, b in cap)
    assert (100, 101) in unc and (100, 101) in cap


def test_lsh_salted_self_join_identical_pairs(spark):
    """salt_buckets (lossless skew guard): an adversarial corpus where
    most docs share one band bucket must produce IDENTICAL pairs with
    and without salting — the salt only splits the hot bucket's work
    across (sa, sb) shuffle cells, visible as the extra salt columns
    in the join key."""
    from ulh_etl_spark.operators.dedup import minhash_candidate_pairs
    from ulh_etl_spark.plans.inspect import formatted_plan

    boiler = [(i, "identical boilerplate header text") for i in range(12)]
    other = [(100, "rivers and mountains essay one"),
             (101, "rivers and mountains essay one extra")]
    df = spark.createDataFrame(boiler + other, "doc_id long, text string")

    plain = minhash_candidate_pairs(df, "text", "doc_id")
    salted = minhash_candidate_pairs(df, "text", "doc_id", salt_buckets=4)
    want = {(r.id1, r.id2) for r in plain.collect()}
    got = {(r.id1, r.id2) for r in salted.collect()}
    assert got == want and sum(1 for a, b in want if a < 12 and b < 12) == 66
    # the salts are part of the equi-join key (shuffle granularity)
    assert "_sa" in formatted_plan(salted)


def test_batch_sessionize_gap(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:10:00"),   # same session
            (1, "2024-01-01 01:00:00"),   # 50-min gap -> new session
            (2, "2024-01-01 00:00:00"),
        ],
        "user_id int, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    out = sessionize(df, gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2
    assert sorted(r.n_events for r in by_user[1]) == [1, 2]
    assert len(by_user[2]) == 1


def test_streaming_session_counts_plan(spark, tmp_path):
    """The streaming sessionize builds a valid session_window plan and
    drains under AvailableNow."""
    import os

    src = tmp_path / "sess"
    src.mkdir()
    with open(os.path.join(str(src), "e.csv"), "w") as f:
        f.write(
            "ts,user_id\n"
            "2024-01-01 00:00:00,1\n"
            "2024-01-01 00:10:00,1\n"
            "2024-01-01 02:00:00,1\n"
        )
    stream = (
        spark.readStream.schema("ts TIMESTAMP, user_id INT")
        .option("header", True)
        .csv(str(src))
    )
    q = (
        streaming_session_counts(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_counts").collect()
    assert sorted(r.n_events for r in rows) == [1, 2]


def test_stream_merge_available_now(spark, tmp_path):
    """Streaming MERGE sink: overlapping keys across micro-batch
    drains upsert instead of duplicating; checkpoint makes re-drains
    no-ops."""
    import os

    from ulh_etl_spark.streaming.file_stream import stream_merge_available_now

    inbound = tmp_path / "merge_in"
    inbound.mkdir()
    ckpt = str(tmp_path / "merge_ckpt")
    schema = "id INT, v STRING"
    try:
        with open(os.path.join(str(inbound), "b1.csv"), "w") as f:
            f.write("id,v\n1,a\n2,b\n")
        s1 = stream_merge_available_now(
            spark, str(inbound), schema, "stream_merge_tgt", ckpt, keys=["id"]
        )
        assert s1 == {"updated": 0, "inserted": 2}

        with open(os.path.join(str(inbound), "b2.csv"), "w") as f:
            f.write("id,v\n2,B2\n3,c\n")
        s2 = stream_merge_available_now(
            spark, str(inbound), schema, "stream_merge_tgt", ckpt, keys=["id"]
        )
        assert s2 == {"updated": 1, "inserted": 1}

        out = {r.id: r.v for r in spark.table("stream_merge_tgt").collect()}
        assert out == {1: "a", 2: "B2", 3: "c"}

        # nothing new -> no-op drain
        s3 = stream_merge_available_now(
            spark, str(inbound), schema, "stream_merge_tgt", ckpt, keys=["id"]
        )
        assert s3 == {"updated": 0, "inserted": 0}
    finally:
        spark.sql("DROP TABLE IF EXISTS stream_merge_tgt")


def test_compact_table(spark, tmp_path):
    """Compaction rewrites many small files into few, preserving rows
    and (when asked) the partition layout."""
    from ulh_etl_spark.sinks.tables import compact_table, write_partitioned

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    try:
        df.repartition(40).write.mode("overwrite").saveAsTable("t_compact")
        before = len(spark.table("t_compact").inputFiles())
        assert before >= 30
        after = compact_table(spark, "t_compact", target_partitions=4)
        assert after <= 8
        assert spark.table("t_compact").count() == 1000

        write_partitioned(df.repartition(20), "t_compact_p", ["part"])
        n = compact_table(
            spark, "t_compact_p", target_partitions=3, partition_cols=["part"]
        )
        assert spark.table("t_compact_p").count() == 1000
        plan = (
            spark.table("t_compact_p").filter(F.col("part") == "1")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan
        assert n <= 12
    finally:
        spark.sql("DROP TABLE IF EXISTS t_compact")
        spark.sql("DROP TABLE IF EXISTS t_compact_p")


def test_stream_neardup_screen_matches_batch_operator(spark, tmp_path):
    """foreachBatch incremental near-dup twin (r9 verdict item 7):
    batch-2 near-dups of batch-1 docs are flagged dup_vs_store via
    the band STORE the first drain wrote (the historical docs are
    never re-read), batch-internal dups flag dup_in_batch, and the
    streamed flags for batch 2 EQUAL the batch operator screening the
    same frame against the same store."""
    import os

    from ulh_etl_spark.operators.dedup import incremental_neardup
    from ulh_etl_spark.streaming.file_stream import (
        stream_neardup_screen_available_now,
    )

    inbound = tmp_path / "inbound"
    inbound.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "bands")
    schema = "doc_id LONG, text STRING"
    base = "the quick brown fox jumps over the lazy dog near the river"
    other = "completely unrelated prose about spark query planning today"

    def args():
        return dict(
            spark=spark, inbound_dir=str(inbound), schema=schema,
            text_col="text", id_col="doc_id", store_dir=store,
            results_table="neardup_stream_results", checkpoint_dir=ckpt,
        )

    try:
        with open(os.path.join(inbound, "b1.csv"), "w") as f:
            f.write("doc_id,text\n")
            f.write(f"1,{base}\n")
            f.write(f"2,{other}\n")
        s1 = stream_neardup_screen_available_now(**args())
        assert s1 == {
            "screened": 2, "flagged_vs_store": 0, "flagged_in_batch": 0,
        }
        assert os.path.isdir(store)  # band store materialized

        # batch 2: doc 11 near-dups doc 1 (store hit), 13 dups 12
        # inside the batch, 14 is fresh
        with open(os.path.join(inbound, "b2.csv"), "w") as f:
            f.write("doc_id,text\n")
            f.write(f"11,{base} slightly extended\n")
            f.write(f"12,{other} with a tail\n")
            f.write(f"13,{other} with a tail\n")
            f.write("14,entirely novel text nothing shares any shingle here\n")
        store_before = spark.read.parquet(store)
        batch2 = spark.createDataFrame(
            [
                (11, base + " slightly extended"),
                (12, other + " with a tail"),
                (13, other + " with a tail"),
                (14, "entirely novel text nothing shares any shingle here"),
            ],
            schema,
        )
        want = {
            r.doc_id: (r.dup_vs_store, r.dup_in_batch)
            for r in incremental_neardup(
                batch2, store_before, "text", "doc_id"
            ).collect()
        }
        s2 = stream_neardup_screen_available_now(**args())
        got = {
            r.doc_id: (r.dup_vs_store, r.dup_in_batch)
            for r in spark.table("neardup_stream_results")
            .filter(F.col("doc_id") >= 11)
            .collect()
        }
        assert got == want  # stream == batch operator, exactly
        assert got[11][0] is True  # store hit across batches
        # 12 shares batch-min rule: 13 flags in-batch, 12 does not
        assert got[12][1] is False and got[13][1] is True
        assert got[14] == (False, False)
        assert s2["screened"] == 4
        assert s2["flagged_vs_store"] == sum(
            1 for v in want.values() if v[0]
        )

        # drained checkpoint: nothing new -> no-op, results unchanged
        s3 = stream_neardup_screen_available_now(**args())
        assert s3 == {
            "screened": 0, "flagged_vs_store": 0, "flagged_in_batch": 0,
        }
        assert spark.table("neardup_stream_results").count() == 6
    finally:
        spark.sql("DROP TABLE IF EXISTS neardup_stream_results")


def test_dedup_within_watermark_stream(spark, tmp_path):
    """Streaming key dedup with bounded state: a re-delivery of a key
    within the watermark delay is dropped across MICRO-BATCHES (state
    lives in the checkpoint between AvailableNow runs); once the
    watermark advances past a key's event time its state evicts and
    the key is re-admitted — the documented at-least-once flip side."""
    import os

    from ulh_etl_spark.streaming.windows import dedup_within_watermark

    inbound = tmp_path / "inbound"
    inbound.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "k STRING, ts TIMESTAMP"

    def drain():
        from ulh_etl_spark.streaming.file_stream import _csv_stream

        stream = dedup_within_watermark(
            _csv_stream(spark, str(inbound), schema).drop(
                "file_name", "file_load_time"
            ),
            keys=("k",),
            ts_col="ts",
            watermark="10 minutes",
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.k, str(r.ts))
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }

    # batch 1: A twice in-batch (one survives), B once
    with open(os.path.join(inbound, "b1.csv"), "w") as f:
        f.write("k,ts\n")
        f.write("A,2024-01-01 10:00:00\n")
        f.write("A,2024-01-01 10:01:00\n")
        f.write("B,2024-01-01 10:02:00\n")
    out1 = drain()
    assert {k for k, _ in out1} == {"A", "B"}
    assert len(out1) == 2  # in-batch duplicate dropped

    # batch 2: A re-delivered within the watermark -> dropped; C
    # advances event time far past A's ts + delay
    with open(os.path.join(inbound, "b2.csv"), "w") as f:
        f.write("k,ts\n")
        f.write("A,2024-01-01 10:05:00\n")
        f.write("C,2024-01-01 11:00:00\n")
    out2 = drain()
    assert {k for k, _ in out2} == {"A", "B", "C"}
    assert len(out2) == 3  # cross-batch duplicate dropped via state

    # batch 3: watermark (11:00 - 10min = 10:50) passed A's 10:00
    # state -> A re-admitted: the documented re-admission semantics
    with open(os.path.join(inbound, "b3.csv"), "w") as f:
        f.write("k,ts\n")
        f.write("A,2024-01-01 11:30:00\n")
    out3 = drain()
    a_rows = [t for k, t in out3 if k == "A"]
    assert len(a_rows) == 2  # original + post-eviction re-admission
    assert len(out3) == 4


def test_stream_fm_registers_matches_batch_sketch(spark, tmp_path):
    from ulh_etl_spark.operators.sketch import fm_registers
    from ulh_etl_spark.streaming.file_stream import (
        stream_fm_registers_available_now,
    )

    inbound = tmp_path / "fm_in"
    inbound.mkdir()
    all_rows = [(f"user{i}",) for i in range(500)]
    # two files -> (at least) two input splits across micro-batches
    spark.createDataFrame(all_rows[:250], "uid string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(inbound / "f1"))
    spark.createDataFrame(all_rows[250:], "uid string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(inbound / "f2"))

    store = str(tmp_path / "fm_store")
    stats = stream_fm_registers_available_now(
        spark,
        str(inbound) + "/*",
        "uid string",
        "uid",
        store,
        str(tmp_path / "fm_ckpt"),
        n_registers=32,
    )
    assert stats["keys_seen"] == 500

    merged = {
        r.register: r.max_rho for r in spark.read.parquet(store).collect()
    }
    batch = {
        r.register: r.max_rho
        for r in fm_registers(
            spark.createDataFrame(all_rows, "uid string"), "uid", 32
        ).collect()
    }
    assert merged == batch  # max-monoid: any slicing == one shot


def test_stream_fm_registers_replay_is_idempotent(spark, tmp_path):
    from ulh_etl_spark.streaming.file_stream import (
        stream_fm_registers_available_now,
    )

    inbound = tmp_path / "fm_in2"
    inbound.mkdir()
    spark.createDataFrame(
        [(f"k{i}",) for i in range(100)], "uid string"
    ).coalesce(1).write.mode("overwrite").parquet(str(inbound / "f1"))
    store = str(tmp_path / "fm_store2")

    first = stream_fm_registers_available_now(
        spark, str(inbound) + "/*", "uid string", "uid",
        store, str(tmp_path / "ck_a"), n_registers=16,
    )
    snap = sorted(
        (r.register, r.max_rho) for r in spark.read.parquet(store).collect()
    )
    # fresh checkpoint -> the same files replay -> same store
    again = stream_fm_registers_available_now(
        spark, str(inbound) + "/*", "uid string", "uid",
        store, str(tmp_path / "ck_b"), n_registers=16,
    )
    assert first["keys_seen"] == again["keys_seen"] == 100
    assert snap == sorted(
        (r.register, r.max_rho) for r in spark.read.parquet(store).collect()
    )


def test_stream_fm_registers_swap_window_crash_restores_bak(
    spark, tmp_path
):
    """r11 ADVICE pin: a crash BETWEEN os.replace(store, bak) and
    os.replace(tmp, store) leaves the store path absent and the
    ._bak_ sibling holding the only complete history — the next merge
    must restore the bak before merging instead of silently resetting
    history, and a successful run leaves no _stage_/_bak_ residue."""
    import os

    from ulh_etl_spark.streaming.file_stream import (
        stream_fm_registers_available_now,
    )

    inbound = tmp_path / "fm_in"
    inbound.mkdir()
    spark.createDataFrame(
        [(f"k{i}",) for i in range(100)], "uid string"
    ).coalesce(1).write.mode("overwrite").parquet(str(inbound / "f1"))

    store = str(tmp_path / "fm_store")
    # simulate the swap-window crash: store absent, bak = the real
    # prior store, with a sentinel register no 100-key batch reaches
    spark.createDataFrame(
        [(0, 31)], "register int, max_rho int"
    ).write.parquet(store + "._bak_7")
    # plus a stale stage dir from the same crashed attempt
    stale_stage = tmp_path / "fm_store._stage_7"
    stale_stage.mkdir()
    (stale_stage / "marker").write_text("stale")

    stream_fm_registers_available_now(
        spark, str(inbound) + "/*", "uid string", "uid",
        store, str(tmp_path / "fm_ckpt"), n_registers=16,
    )
    assert os.path.isdir(store)
    merged = {
        r.register: r.max_rho for r in spark.read.parquet(store).collect()
    }
    # the bak's history survived the recovery (MAX-merged in)
    assert merged[0] == 31
    residue = [
        d for d in os.listdir(tmp_path)
        if "._bak_" in d or "._stage_" in d
    ]
    assert residue == []


def test_stream_fm_registers_stale_bak_beside_live_store_is_gcd(
    spark, tmp_path
):
    """A leftover ._bak_/._stage_ from a crash that happened OUTSIDE
    the swap window (live store intact) is garbage-collected without
    touching the live store."""
    import os

    from ulh_etl_spark.streaming.file_stream import (
        stream_fm_registers_available_now,
    )

    inbound = tmp_path / "fm_in"
    inbound.mkdir()
    spark.createDataFrame(
        [(f"k{i}",) for i in range(100)], "uid string"
    ).coalesce(1).write.mode("overwrite").parquet(str(inbound / "f1"))

    store = str(tmp_path / "fm_store")
    first = stream_fm_registers_available_now(
        spark, str(inbound) + "/*", "uid string", "uid",
        store, str(tmp_path / "ck_a"), n_registers=16,
    )
    assert first["batches"] >= 1
    snap = sorted(
        (r.register, r.max_rho) for r in spark.read.parquet(store).collect()
    )

    # stale residue beside a LIVE store: must be GC'd, store untouched
    for stale in ("fm_store._bak_3", "fm_store._stage_3"):
        d = tmp_path / stale
        d.mkdir()
        (d / "marker").write_text("stale")

    stream_fm_registers_available_now(
        spark, str(inbound) + "/*", "uid string", "uid",
        store, str(tmp_path / "ck_b"), n_registers=16,
    )
    assert snap == sorted(
        (r.register, r.max_rho) for r in spark.read.parquet(store).collect()
    )
    residue = [
        d for d in os.listdir(tmp_path)
        if "._bak_" in d or "._stage_" in d
    ]
    assert residue == []


def test_stream_kmv_quantile_store_matches_batch_sketch(spark, tmp_path):
    """The streamed KMV quantile store after draining N files equals
    the one-shot batch sketch over the same rows — the KMV merge
    invariance, exercised through the shared streaming.store swap."""
    from ulh_etl_spark.operators.sketch import quantile_sample_registers
    from ulh_etl_spark.streaming.file_stream import (
        stream_kmv_quantile_store_available_now,
    )

    inbound = tmp_path / "kmv_in"
    inbound.mkdir()
    all_rows = [(i, float(i % 97)) for i in range(500)]
    spark.createDataFrame(
        all_rows[:250], "event_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(str(inbound / "f1"))
    spark.createDataFrame(
        all_rows[250:], "event_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(str(inbound / "f2"))

    store = str(tmp_path / "kmv_store")
    stats = stream_kmv_quantile_store_available_now(
        spark,
        str(inbound) + "/*",
        "event_id long, value double",
        "value",
        "event_id",
        store,
        str(tmp_path / "kmv_ckpt"),
        k=32,
    )
    assert stats["rows_seen"] == 500

    merged = sorted(
        (r.h, r.key, r.value)
        for r in spark.read.parquet(store).collect()
    )
    batch = sorted(
        (r.h, r.key, r.value)
        for r in quantile_sample_registers(
            spark.createDataFrame(all_rows, "event_id long, value double"),
            "value",
            "event_id",
            k=32,
        ).collect()
    )
    assert merged == batch


def test_stream_kmv_quantile_store_replay_is_idempotent(spark, tmp_path):
    """Replaying the same files against an existing store is a no-op:
    the merge distincts on (h, key) before the bottom-k — the KMV
    analogue of FM's MAX idempotence."""
    from ulh_etl_spark.streaming.file_stream import (
        stream_kmv_quantile_store_available_now,
    )

    inbound = tmp_path / "kmv_in2"
    inbound.mkdir()
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "event_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(str(inbound / "f1"))
    store = str(tmp_path / "kmv_store2")

    stream_kmv_quantile_store_available_now(
        spark, str(inbound) + "/*", "event_id long, value double",
        "value", "event_id", store, str(tmp_path / "ck_a"), k=16,
    )
    snap = sorted(
        (r.h, r.key, r.value)
        for r in spark.read.parquet(store).collect()
    )
    stream_kmv_quantile_store_available_now(
        spark, str(inbound) + "/*", "event_id long, value double",
        "value", "event_id", store, str(tmp_path / "ck_b"), k=16,
    )
    assert snap == sorted(
        (r.h, r.key, r.value)
        for r in spark.read.parquet(store).collect()
    )


def test_stream_kmv_quantile_store_swap_window_crash_restores_bak(
    spark, tmp_path
):
    """The shared streaming.store recovery protocol, exercised
    through the KMV store: a crash inside the swap window leaves only
    the ._bak_ sibling; the next merge restores it (its registers
    survive into the merged bottom-k) and leaves no residue."""
    import os

    from ulh_etl_spark.streaming.file_stream import (
        stream_kmv_quantile_store_available_now,
    )

    inbound = tmp_path / "kmv_in"
    inbound.mkdir()
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "event_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(str(inbound / "f1"))

    store = str(tmp_path / "kmv_store")
    # simulate the swap-window crash: store absent, bak = the real
    # prior store, holding a sentinel register with hash 0 — nothing
    # outranks it, so it MUST survive the recovered merge.
    spark.createDataFrame(
        [(0, -1, 123.0)], "h long, key long, value double"
    ).write.parquet(store + "._bak_5")
    stale_stage = tmp_path / "kmv_store._stage_5"
    stale_stage.mkdir()
    (stale_stage / "marker").write_text("stale")

    stream_kmv_quantile_store_available_now(
        spark, str(inbound) + "/*", "event_id long, value double",
        "value", "event_id", store, str(tmp_path / "kmv_ckpt"), k=16,
    )
    assert os.path.isdir(store)
    rows = {
        (r.h, r.key): r.value for r in spark.read.parquet(store).collect()
    }
    assert rows[(0, -1)] == 123.0  # bak history survived
    residue = [
        d for d in os.listdir(tmp_path)
        if "._bak_" in d or "._stage_" in d
    ]
    assert residue == []
