"""Plan-shape tests: prove pushdown, pruning, broadcast, and shuffle
counts on the real catalog queries — the `.explain` loop as CI."""

import pytest
from pyspark.sql import functions as F

from ulh_etl_spark.operators.skew import salted_join, with_salt
from ulh_etl_spark.plans import (
    broadcast_join_count,
    exchange_count,
    formatted_plan,
    plan_facts,
    pushed_filters,
    scan_columns,
)
from ulh_etl_spark.plans.inspect import _live_detail_blocks
from ulh_etl_spark.queries.relational import (
    q01_pricing_summary,
    q02_filter_project,
    q03_record_type_classify,
    q19_incremental_antijoin,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q02's status/priority/price predicates must appear in
    PushedFilters (reaching the parquet scan), not only as a
    post-scan Filter."""
    df = q02_filter_project(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("o_orderstatus" in f for f in pushed), pushed
    assert any("o_totalprice" in f for f in pushed), pushed


def test_column_pruning(spark, sf_dir):
    """q02 projects a handful of columns — the parquet scan must not
    read the full 16-column lineitem schema."""
    df = q02_filter_project(spark, sf_dir)
    for cols in scan_columns(df):
        assert len(cols) <= 8, cols


def test_lookup_join_broadcasts(spark, sf_dir):
    """q03's record-type classification joins a small lookup — must
    plan as a broadcast join, zero shuffle for the join itself."""
    df = q03_record_type_classify(spark, sf_dir)
    assert broadcast_join_count(df) >= 1


def test_antijoin_broadcasts(spark, sf_dir):
    """q19's watermark anti-join: the consumed-runs side is tiny and
    must broadcast."""
    df = q19_incremental_antijoin(spark, sf_dir)
    assert broadcast_join_count(df) >= 1


def test_agg_single_shuffle(spark, sf_dir):
    """q01 is one groupBy -> exactly one hash-partition exchange
    (plus AQE-inserted coalesces which don't add exchanges)."""
    df = q01_pricing_summary(spark, sf_dir)
    assert exchange_count(df) == 1


def test_plan_facts_summary(spark, sf_dir):
    facts = plan_facts(q02_filter_project(spark, sf_dir))
    s = facts.summary()
    # whole-stage codegen must cover the scan->filter->project chain
    # (a Python UDF in the hot path would break the span)
    assert s["scans"] >= 1 and s["codegen_spans"] >= 1


def test_dedup_fanout_is_conditional(spark, tmp_path):
    """minhash_signatures only inserts a round-robin repartition when
    the input arrives as fewer file splits than cores; a well-split
    input (the 100 TB case) must NOT pay a full-corpus shuffle before
    the work starts, and a frame already spread by an upstream
    Exchange must be left alone."""
    from ulh_etl_spark.operators.dedup import minhash_signatures
    from ulh_etl_spark.plans.inspect import formatted_plan

    docs = spark.range(0, 256).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some document text "), F.col("id").cast("string")).alias("text"),
    )
    par = spark.sparkContext.defaultParallelism
    many, one = str(tmp_path / "many"), str(tmp_path / "one")
    docs.repartition(par).write.parquet(many)
    docs.coalesce(1).write.parquet(one)

    well_split = formatted_plan(
        minhash_signatures(spark.read.parquet(many), "text", "doc_id")
    )
    assert "RoundRobinPartitioning" not in well_split, well_split

    single = formatted_plan(
        minhash_signatures(spark.read.parquet(one), "text", "doc_id")
    )
    assert "RoundRobinPartitioning" in single, single

    # frame already spread by an upstream shuffle (an aggregation —
    # a window would be pruned away by the optimizer): no extra fan-out
    shuffled = (
        spark.read.parquet(one)
        .groupBy("doc_id")
        .agg(F.first("text").alias("text"))
    )
    post_shuffle = formatted_plan(minhash_signatures(shuffled, "text", "doc_id"))
    assert "RoundRobinPartitioning" not in post_shuffle, post_shuffle


def test_dedup_fanout_probe_runs_no_job(spark, tmp_path):
    """Constructing a dedup frame must not execute upstream stages:
    the old df.rdd partition probe eagerly ran every upstream shuffle
    under AQE (a full corpus scan per construction)."""
    from ulh_etl_spark.operators.dedup import minhash_signatures

    path = str(tmp_path / "probe")
    spark.range(0, 64).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    ).write.parquet(path)
    upstream = (
        spark.read.parquet(path)
        .groupBy("doc_id")
        .agg(F.first("text").alias("text"))
    )
    sc = spark.sparkContext
    sc.setJobGroup("fanout_probe", "constructing dedup frame")
    try:
        _ = minhash_signatures(upstream, "text", "doc_id")  # construct only
    finally:
        # CLEAR the group (don't just switch names): the session is
        # shared across the suite, and a leaked job group makes every
        # later job invisible to getJobIdsForGroup(None).
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("fanout_probe")
    assert len(jobs) == 0, f"construction ran {len(jobs)} job(s)"


def test_multimodal_fanout_probe_runs_no_job(spark, tmp_path):
    """Constructing a decode stage must not execute the media scan:
    the old _spread used df.rdd.getNumPartitions(), which under AQE
    runs every upstream stage — a full extra pass over the media
    bytes just to read a partition count."""
    from ulh_etl_spark.operators.multimodal import decode_media, fake_decode_image

    path = str(tmp_path / "media")
    spark.range(0, 16).select(
        F.col("id").alias("media_id"),
        F.encode(F.concat(F.lit("blob"), F.col("id").cast("string")), "utf-8").alias(
            "content"
        ),
    ).write.parquet(path)
    upstream = (
        spark.read.parquet(path)
        .groupBy("media_id")
        .agg(F.first("content").alias("content"))
    )
    sc = spark.sparkContext
    sc.setJobGroup("mm_fanout_probe", "constructing decode frame")
    try:
        _ = decode_media(
            upstream, fake_decode_image, "width int, height int, channels int"
        )  # construct only
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("mm_fanout_probe")
    assert len(jobs) == 0, f"construction ran {len(jobs)} job(s)"


def test_q96_probe_scan_is_partition_pruned(spark, sf_dir):
    """The catalog's at-rest IVF probe must read only the nprobe
    cells: the index scan carries PartitionFilters on `cell`, so
    pruning happens at directory-listing time."""
    from ulh_etl_spark.plans.inspect import partition_filters
    from ulh_etl_spark.queries.similarity import q96_ivf_pruned_probe

    df = q96_ivf_pruned_probe(spark, sf_dir)
    pf = partition_filters(df)
    assert any("cell" in f for f in pf), pf


def test_fan_out_never_touches_rdd(spark, tmp_path, monkeypatch):
    """Pin the anti-pattern directly: fan_out must decide from plan
    metadata only. A poisoned DataFrame.rdd property proves no code
    path reaches it, for all three decision branches."""
    from pyspark.sql import DataFrame

    from ulh_etl_spark.operators.fanout import fan_out

    def _boom(self):
        raise AssertionError("fan_out touched df.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))

    path = str(tmp_path / "t")
    spark.range(0, 32).toDF("k").coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    # branch 1: under-parallel bare scan -> repartitioned
    assert "Repartition" in fan_out(scan)._jdf.queryExecution().logical().toString()
    # branch 2: Exchange already in plan -> untouched
    shuffled = scan.groupBy("k").count()
    assert fan_out(shuffled) is shuffled
    # branch 3: in-memory frame (no input files) -> untouched
    local = spark.createDataFrame([(1,)], "k long")
    assert fan_out(local) is local


# ---------------------------------------------------------------- skew


def test_with_salt_uniform_bounds(spark):
    df = spark.range(1000).toDF("k")
    salted = with_salt(df, 8)
    vals = [r._salt for r in salted.select("_salt").distinct().collect()]
    assert set(vals) <= set(range(8)) and len(vals) >= 6


def test_salted_join_matches_plain_join(spark):
    """Salted join returns exactly the same rows as the plain join,
    including under a pathologically hot key."""
    fact = spark.createDataFrame(
        [(1, f"v{i}") for i in range(500)] + [(2, "x"), (3, "y")],
        "k int, payload string",
    )
    dim = spark.createDataFrame(
        [(1, "dim1"), (2, "dim2"), (4, "dim4")], "k int, label string"
    )
    plain = fact.join(dim, ["k"]).select("k", "payload", "label")
    salted = salted_join(fact, dim, ["k"], num_salts=4).select("k", "payload", "label")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    assert salted.count() == 501  # 500 hot-key matches + k=2; k=3 unmatched


def test_salted_left_join(spark):
    fact = spark.createDataFrame([(1, "a"), (9, "b")], "k int, p string")
    dim = spark.createDataFrame([(1, "d1")], "k int, label string")
    out = {r.k: r.label for r in salted_join(fact, dim, ["k"], 4, "left").collect()}
    assert out == {1: "d1", 9: None}


def test_bucketed_join_skips_shuffle(spark):
    """Two tables bucketed on the join key join WITHOUT any shuffle
    exchange — the write-time co-location pays off at read time."""
    from ulh_etl_spark.sinks.tables import write_bucketed

    a = spark.range(0, 10000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 10000).withColumn("vb", F.col("id") * 3)
    try:
        write_bucketed(a, "bkt_a", ["id"], num_buckets=8)
        write_bucketed(b, "bkt_b", ["id"], num_buckets=8)
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
        assert exchange_count(joined) == 0, plan_facts(joined).summary()
        assert joined.count() == 10000
        # same tables, aggregation on the bucket key: also shuffle-free
        agg = spark.table("bkt_a").groupBy("id").count()
        assert exchange_count(agg) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_partitioned_scan_prunes(spark):
    """A filter on the partition column appears as a partition filter
    (directory pruning), not a data filter."""
    from ulh_etl_spark.plans.inspect import formatted_plan
    from ulh_etl_spark.sinks.tables import write_partitioned

    df = spark.range(0, 1000).withColumn(
        "zone", F.when(F.col("id") % 2 == 0, "a").otherwise("b")
    )
    try:
        write_partitioned(df, "part_t", ["zone"])
        q = spark.table("part_t").filter(F.col("zone") == "a")
        plan = formatted_plan(q)
        assert "PartitionFilters" in plan and "zone" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        assert q.count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS part_t")


def test_partitioned_write_cluster_one_file_per_dir(spark):
    """cluster=True hash-clusters rows by the partition columns before
    the write, so each partition directory holds exactly ONE file even
    when the input arrives spread over many tasks (without it, T tasks
    x P values emit up to T*P files — the many-small-files write).
    Rows are identical either way."""
    from ulh_etl_spark.sinks.tables import write_partitioned

    df = (
        spark.range(0, 1000)
        .repartition(8)
        .withColumn("zone", (F.col("id") % 5).cast("string"))
    )
    try:
        write_partitioned(df, "part_tc", ["zone"], cluster=True)
        files = spark.table("part_tc").inputFiles()
        assert len(files) == 5, files
        assert spark.table("part_tc").count() == 1000
        got = {
            (r["zone"], r["n"])
            for r in spark.table("part_tc")
            .groupBy("zone")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == {(str(z), 200) for z in range(5)}
    finally:
        spark.sql("DROP TABLE IF EXISTS part_tc")


def test_corpus_ops_single_evaluation_plans(spark, sf_dir):
    """Regression guards for the two round-4 optimizer findings
    (SCALE.md): (a) HOF lambdas must not capture the tokenizer/hash
    pipeline (it would re-evaluate per element), (b) plain explode()
    must not let InferFiltersFromGenerate re-inline those pipelines
    into a pushed per-row Filter. Both collapse to one invariant: the
    expensive leaf expression appears EXACTLY ONCE per scan in the
    optimized plan."""
    from ulh_etl_spark.queries.dedup import q35_minhash_signature
    from ulh_etl_spark.queries.textops import (
        q57_tfidf,
        q64_winnow_fingerprints,
        q80_repetition_signals,
        q89_chunk_documents,
    )

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # one md5 transform total (inside the materializing projection)
    assert optimized(
        q64_winnow_fingerprints(spark, sf_dir)
    ).count("md5(") == 1
    # minhash hashes each shingle once, post-explode
    assert optimized(q35_minhash_signature(spark, sf_dir)).count("md5(") == 1
    # repetition: one split per scan leg (ttr leg + bigram leg)
    p80 = optimized(q80_repetition_signals(spark, sf_dir))
    assert p80.count("split(") == 2, p80
    # tfidf: tf and df legs share one exploded relation -> 1 split
    # per documents scan (plan may keep 2 scan legs + n_docs count)
    p57 = optimized(q57_tfidf(spark, sf_dir))
    assert p57.count("split(") <= 2, p57
    # chunking: tokenize once
    p89 = optimized(q89_chunk_documents(spark, sf_dir))
    assert p89.count("split(") == 1, p89


def test_pack_sequences_default_parallelism_in_plan(spark):
    """VERDICT r4 item 3: the packing window's shuffle parallelism
    equals the shard count, so the DEFAULT shard count must track
    defaultParallelism — pinned here at the plan level: the shard
    modulus folded into the hash-partitioned exchange is the
    cluster's parallelism, not a fixed constant."""
    from ulh_etl_spark.operators.text import pack_sequences

    dp = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        [(i, "a b") for i in range(32)], "doc_id long, text string"
    )
    plan = (
        pack_sequences(df, "text", "doc_id")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert f"% {dp}" in plan, plan[:500]


def _assert_only_round_robin_exchange(df):
    """At most one shuffle, and if there is one it is the conditional
    fan-out's keyless round-robin repartition — not merely "not
    hash/range", which a single-partition or other exchange would
    also pass."""
    n = exchange_count(df)
    assert n <= 1, plan_facts(df).summary()
    if n == 1:
        (body,) = [
            b for _nid, name, b in _live_detail_blocks(formatted_plan(df))
            if name == "Exchange"
        ]
        assert "RoundRobinPartitioning" in body, body


def test_q108_gopher_rules_is_narrow_map(spark, sf_dir):
    """The Gopher rule filter must stay a narrow map over one
    documents scan reading only (doc_id, text). r17: a 1-split input
    is conditionally fanned out (operators.fanout — no-op once the
    scan has >= cores splits), so the ONLY exchange allowed is that
    keyless round-robin repartition; any hash/range exchange means a
    shuffle crept into the rule evaluation itself."""
    from ulh_etl_spark.queries.textops import q108_gopher_rules

    df = q108_gopher_rules(spark, sf_dir)
    _assert_only_round_robin_exchange(df)
    cols = scan_columns(df)
    assert cols and all(set(c) <= {"doc_id", "text"} for c in cols), cols


def test_q107_incremental_dedup_store_side_never_rehashes(spark, sf_dir):
    """q107's plan: exactly the two budgeted exchanges (batch keep-min
    groupBy + the fp anti-join) and a broadcast anti-join shape at
    this SF — the store side contributes only its fp column."""
    from ulh_etl_spark.queries.dedup import q107_incremental_dedup

    df = q107_incremental_dedup(spark, sf_dir)
    assert exchange_count(df) <= 3
    assert broadcast_join_count(df) >= 1


def test_incremental_dedup_bucketed_store_no_store_shuffle(spark):
    """The incremental-dedup scale claim, proven at the plan level:
    with the fingerprint store bucketed on fp, the anti-join against
    it introduces NO exchange on the store side (only the new batch's
    keep-min groupBy shuffles), and results match the unbucketed
    run."""
    from ulh_etl_spark.operators.dedup import fingerprint, incremental_dedup
    from ulh_etl_spark.sinks.tables import write_bucketed

    new = spark.createDataFrame(
        [(1, "fresh one"), (2, "seen before"), (3, "fresh one")],
        "doc_id long, text string",
    )
    seen_src = spark.createDataFrame(
        [("seen before",), ("ancient doc",)], "text string"
    ).select(fingerprint(F.col("text")).alias("fp"))
    try:
        write_bucketed(seen_src, "fp_store", ["fp"], num_buckets=8)
        store = spark.table("fp_store")
        out = incremental_dedup(new, store, "text", "doc_id")
        # exactly one exchange: the batch groupBy; the store scan
        # feeds the join with no Exchange above it
        assert exchange_count(out) == 1, plan_facts(out).summary()
        got = sorted((r.doc_id, r.batch_dups) for r in out.collect())
        unbucketed = incremental_dedup(new, seen_src, "text", "doc_id")
        assert got == sorted(
            (r.doc_id, r.batch_dups) for r in unbucketed.collect()
        ) == [(1, 2)]
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_store")


def test_q111_pq_encode_is_narrow_map(spark, sf_dir):
    """PQ encode must keep the ivf_assign shape: codebook folded into
    plan literals, zero exchanges, no |corpus| x ksub join — the
    property that lets a 100 TB corpus encode in one scan pass."""
    from ulh_etl_spark.queries.similarity import q111_pq_encode

    df = q111_pq_encode(spark, sf_dir)
    # r17: a 1-split input is conditionally fanned out (keyless
    # round-robin only — no-op at real scale); any other exchange
    # would signal a |corpus| x ksub join.
    _assert_only_round_robin_exchange(df)
    assert broadcast_join_count(df) == 0


def test_pq_adc_scan_reads_only_codes(spark, sf_dir):
    """The ADC leg's whole point: score from (vec_id, codes) alone.
    The corpus embedding column must not appear in the ADC scan."""
    from pyspark.sql import functions as F

    from ulh_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )
    from ulh_etl_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, dim=64, m=4, ksub=16)
    import tempfile

    path = tempfile.mkdtemp(prefix="ulh_pq_codes_")
    pq_encode(emb, cb).select("vec_id", "codes").write.mode(
        "overwrite"
    ).parquet(path)
    enc = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 2)
    df = pq_adc_topk(enc, cb, queries, k=5)
    cols = [c for c in scan_columns(df) if "codes" in c]
    assert cols and all(set(c) <= {"vec_id", "codes"} for c in cols), cols


def test_ivf_append_incremental_maintenance(spark, tmp_path):
    """ivf_append touches only the cells its vectors land in:
    untouched cells keep their exact file set, probes see appended
    rows immediately, and the returned cell list matches the
    assignment."""
    import os
    import random

    from ulh_etl_spark.operators.similarity import (
        ivf_append,
        ivf_assign,
        ivf_probe_pruned,
        write_ivf_index,
    )

    rng = random.Random(5)

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    base = vecs(range(40))
    cents = base.filter("vec_id < 4").selectExpr(
        "vec_id AS centroid_id", "embedding AS centroid_vec"
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(ivf_assign(base, cents), path)

    def files_per_cell():
        out = {}
        for d in os.listdir(path):
            if d.startswith("cell="):
                out[d] = sorted(os.listdir(os.path.join(path, d)))
        return out

    before = files_per_cell()
    new = vecs(range(100, 106))
    touched = ivf_append(spark, path, new, cents)
    expect = sorted(
        r["cell"]
        for r in ivf_assign(new, cents).select("cell").distinct().collect()
    )
    assert touched == expect

    after = files_per_cell()
    for d, fs in before.items():
        cell = int(d.split("=", 1)[1])
        if cell not in touched:
            assert after[d] == fs, f"untouched {d} was rewritten"
        else:
            assert set(fs) <= set(after[d]), f"{d} lost files"

    # probes see the appended rows with the same pruned-scan path
    q = vecs([100]).filter("vec_id = 100")
    got = {
        r.neighbor_id
        for r in ivf_probe_pruned(spark, path, cents, q, k=40, nprobe=4).collect()
    }
    # nprobe = C probes every cell and k covers the corpus, so every
    # appended id (minus the query itself) must be reachable
    assert {101, 102, 103, 104, 105} <= got
    total = spark.read.parquet(path).count()
    assert total == 46


def test_compact_cells_after_append(spark, tmp_path):
    """The ivf_append -> compact_cells maintenance loop: appends
    fragment the touched cells, compaction collapses ONLY those to
    one file each, untouched cells keep their exact file set, and
    the data (row multiset) is byte-identical before/after."""
    import os
    import random

    from ulh_etl_spark.operators.similarity import (
        compact_cells,
        ivf_append,
        ivf_assign,
        write_ivf_index,
    )

    rng = random.Random(7)

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    base = vecs(range(30))
    cents = base.filter("vec_id < 3").selectExpr(
        "vec_id AS centroid_id", "embedding AS centroid_vec"
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(ivf_assign(base, cents), path)
    touched = set()
    for batch in (range(100, 104), range(200, 204)):
        touched |= set(ivf_append(spark, path, vecs(batch), cents))

    def files_per_cell():
        out = {}
        for d in os.listdir(path):
            if d.startswith("cell="):
                out[int(d.split("=", 1)[1])] = sorted(
                    f for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")
                )
        return out

    before_rows = sorted(
        (r.vec_id,) for r in spark.read.parquet(path).select("vec_id").collect()
    )
    before_files = files_per_cell()
    frag = {c for c, fs in before_files.items() if len(fs) >= 2}
    assert frag, "appends must have fragmented at least one cell"

    done = compact_cells(spark, path, min_files=2, target_files=1)
    assert set(int(c) for c in done) == frag

    after_files = files_per_cell()
    for c, fs in after_files.items():
        if c in frag:
            assert len(fs) == 1, f"cell {c} not compacted"
        else:
            assert fs == before_files[c], f"untouched cell {c} rewritten"
    after_rows = sorted(
        (r.vec_id,) for r in spark.read.parquet(path).select("vec_id").collect()
    )
    assert after_rows == before_rows


def test_q167_join_inputs_have_no_exchange(spark, sf_dir):
    """The q167 catalog entry: after the bucketed writes, the ONLY
    exchange in the plan is the final tiny priority aggregate — the
    SortMergeJoin runs bucket-to-bucket with no shuffle on either
    corpus-sized input."""
    from ulh_etl_spark.queries.relational import q167_bucketed_join

    df = q167_bucketed_join(spark, sf_dir)
    facts = plan_facts(df)
    assert exchange_count(df) == 1, facts.summary()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "SortMergeJoin" in plan
    # both scans read bucketed tables (co-location is real, not
    # incidental)
    assert plan.count("Bucketed: true") == 2, plan


def test_q182_scan_is_partition_pruned(spark, sf_dir):
    """q182's read-back scan must prune on BOTH partition columns at
    plan time — the PartitionFilters list carries event_type and day
    predicates, and the row filter never reaches the data scan."""
    from ulh_etl_spark.plans.inspect import formatted_plan
    from ulh_etl_spark.queries.relational import (
        _md5_tag,
        q182_partition_pruned_totals,
    )

    try:
        q = q182_partition_pruned_totals(spark, sf_dir)
        plan = formatted_plan(q)
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "event_type" in pf and "day" in pf
    finally:
        spark.sql(
            f"DROP TABLE IF EXISTS part_events_{_md5_tag(sf_dir)}"
        )


def test_write_bucketed_append_preserves_existing_rows(spark):
    """r10 ADVICE pin: the drop-and-clear runs ONLY for
    mode='overwrite' — append extends the bucketed table, error
    semantics survive, overwrite still replaces."""
    from pyspark.errors import AnalysisException

    from ulh_etl_spark.sinks.tables import write_bucketed

    try:
        write_bucketed(spark.range(0, 100), "bkt_app", ["id"], num_buckets=4)
        write_bucketed(
            spark.range(100, 150), "bkt_app", ["id"], num_buckets=4,
            mode="append",
        )
        assert spark.table("bkt_app").count() == 150
        with pytest.raises(AnalysisException):
            write_bucketed(
                spark.range(5), "bkt_app", ["id"], num_buckets=4,
                mode="error",
            )
        write_bucketed(
            spark.range(100, 150), "bkt_app", ["id"], num_buckets=4,
            mode="overwrite",
        )
        assert spark.table("bkt_app").count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_app")
