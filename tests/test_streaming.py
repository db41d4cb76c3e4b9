"""Batch-equivalence law (SURVEY.md §7 M4): draining the full fixture
through the streaming pipelines (availableNow) must produce exactly the
batch operators' results."""

from __future__ import annotations

from beauty_lakehouse_spark.operators import events as batch_events
from beauty_lakehouse_spark.streaming import (
    hourly_event_counts,
    run_available_now,
    session_values,
    stream_events,
)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_hourly_equals_batch(spark, sf_dir):
    stream = stream_events(spark, sf_dir)
    got = run_available_now(hourly_event_counts(stream), "t_hourly")
    expected = batch_events.q_events_hourly(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_streaming_sessions_equal_batch(spark, sf_dir):
    stream = stream_events(spark, sf_dir)
    got = run_available_now(session_values(stream), "t_sessions")
    expected = batch_events.q_events_sessions(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_explicit_state_partitions_sets_drained_scan_width(spark, sf_dir):
    """An explicit ``state_partitions`` wins over the volume-derived
    count for the returned table's scan width too."""
    stream = stream_events(spark, sf_dir)
    got = run_available_now(
        hourly_event_counts(stream), "t_hourly_width1", state_partitions=1
    )
    assert got.rdd.getNumPartitions() == 1
    assert _canon(got) == _canon(batch_events.q_events_hourly(spark, sf_dir))


def test_stream_source_is_streaming(spark, sf_dir):
    assert stream_events(spark, sf_dir).isStreaming


def test_stateful_milestones_match_batch(spark, sf_dir):
    """applyInPandasWithState custom operator: the set of milestones a
    user crosses equals the batch-computed crossings of their cumulative
    purchase total."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.streaming.stateful import (
        MILESTONES,
        purchase_milestones,
    )

    stream = stream_events(spark, sf_dir)
    got = run_available_now(
        purchase_milestones(stream), "t_milestones", output_mode="append"
    )
    crossings = sorted((r.user_id, r.milestone) for r in got.collect())

    totals = (
        load(spark, sf_dir)
        .events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"))
        .collect()
    )
    expected = sorted(
        (r.user_id, m) for r in totals for m in MILESTONES if r.total >= m - 1e-9
    )
    assert crossings == expected
    # totals at crossing are monotone per user
    per_user = {}
    for r in sorted(got.collect(), key=lambda r: (r.user_id, r.milestone)):
        assert r.total_at_crossing >= r.milestone
        per_user.setdefault(r.user_id, []).append(r.total_at_crossing)
    for vals in per_user.values():
        assert vals == sorted(vals)


def test_multi_batch_state_merging(spark, sf_dir, tmp_path):
    """Split the events fixture into 4 files and stream them one file
    per micro-batch: windowed/session state must merge across batches
    to the same result as the single-batch drain (and as batch)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.streaming.pipelines import hourly_event_counts

    # land the fixture as 4 parquet files (split by event_id mod 4 so
    # every batch carries interleaved event times — the hard case)
    src = str(tmp_path / "events_parts")
    ev = load(spark, sf_dir).events
    ev.withColumn("part", (F.col("event_id") % 4).cast("int")).repartition(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)

    # the re-landed files carry a proper µs timestamp, so the stream
    # schema is the normalized batch schema (no nanos rebuild needed)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_available_now(hourly_event_counts(stream), "t_multibatch")
    expected = batch_events.q_events_hourly(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_merge_stream_upserts_into_versioned_table(spark, sf_dir, tmp_path):
    """Streaming CDC-apply: a pre-seeded versioned table with stale rows
    must converge to the stream's values after an availableNow drain,
    and the pre-merge snapshot must remain time-travelable."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark import tables
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.streaming.merge_sink import merge_stream

    events = load(spark, sf_dir).events
    # seed: every 10th event with a poisoned value (stale CDC image)
    seed = events.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.lit(-1.0)
    )
    path = str(tmp_path / "events_tbl")
    tables.write_versioned(seed, path)

    q = merge_stream(
        stream_events(spark, sf_dir),
        path,
        keys=["event_id"],
        seq_col="ts",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    final = tables.read_versioned(spark, path)
    assert final.count() == events.count()
    # no poisoned rows survive; values equal the batch fixture's
    assert final.filter(F.col("value") == -1.0).count() == 0
    mismatch = (
        final.select("event_id", "value")
        .exceptAll(events.select("event_id", "value"))
        .count()
    )
    assert mismatch == 0
    # time travel: v1 still shows the stale seed
    v1 = tables.read_versioned(spark, path, 1)
    assert v1.filter(F.col("value") == -1.0).count() == seed.count()


def test_streaming_dedup_groups_multi_batch(spark, sf_dir, tmp_path):
    """Exact-dedup group table maintained across 4 micro-batches (docs
    split so duplicate groups straddle batch boundaries) must equal the
    single-batch batch groupBy exactly."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.functions import normalized_text_hash
    from beauty_lakehouse_spark.streaming.pipelines import dedup_group_table

    docs = load(spark, sf_dir).documents
    src = str(tmp_path / "docs_parts")
    docs.withColumn("part", (F.col("doc_id") % 4).cast("int")).repartition(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_available_now(dedup_group_table(stream), "t_dedup_multibatch")
    expected = (
        docs.select(
            "doc_id", normalized_text_hash("text").alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("group_size"))
    )
    assert _canon(got) == _canon(expected)


def test_stream_dedup_repairs_duplicate_delivery(spark, sf_dir):
    """Feeding the source twice (at-least-once redelivery) through
    dropDuplicatesWithinWatermark yields exactly the unique event set."""
    import uuid

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.streaming import (
        dedup_events_stream,
        run_available_now,
        stream_events,
    )

    doubled = stream_events(spark, sf_dir).union(stream_events(spark, sf_dir))
    out = run_available_now(
        dedup_events_stream(doubled),
        f"t_evdedup_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    n_unique = load(spark, sf_dir).events.count()
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


def test_stream_stream_attribution_matches_batch_join(spark, sf_dir, tmp_path):
    """The stream-stream interval join (view→purchase within 30 min)
    drained across 4 TIME-ORDERED micro-batches equals the batch
    inequality join. Files are split by event-time quartile (the
    realistic landing pattern — files arrive in rough time order):
    a round-robin split would make every batch span the whole time
    range, and the join would — correctly, per watermark semantics —
    drop rows arriving a month behind the advanced watermark, so that
    layout tests late-data DROPPING, not multi-batch equivalence.
    The ±1h of genuine cross-file interleaving at each quartile
    boundary still exercises cross-batch join state under watermark
    advance."""
    import uuid

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.functions import epoch_us
    from beauty_lakehouse_spark.streaming.pipelines import (
        view_purchase_attribution,
    )

    events = load(spark, sf_dir).events
    src = tmp_path / "events_parts"
    src.mkdir()
    # land one file per event-time quartile, with strictly increasing
    # mtimes (the file source triggers in modification-time order)
    import glob
    import os
    import shutil

    ts_sorted = [r.ts for r in events.select("ts").orderBy("ts").collect()]
    n = len(ts_sorted)
    bounds = [ts_sorted[i * n // 4] for i in range(1, 4)]
    lo = None
    for i, hi in enumerate(bounds + [None]):
        q = events
        if lo is not None:
            q = q.filter(F.col("ts") >= lo)
        if hi is not None:
            q = q.filter(F.col("ts") < hi)
        tmp_out = str(tmp_path / f"q{i}")
        q.coalesce(1).write.parquet(tmp_out)
        [f] = glob.glob(f"{tmp_out}/part-*.parquet")
        dst = str(src / f"f{i}.parquet")
        shutil.move(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        lo = hi

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src / "*.parquet"))
    )
    got = run_available_now(
        view_purchase_attribution(stream),
        f"t_attrib_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )

    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    expected = (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("v_ts") < F.col("p_ts")),
        )
        .select(
            "purchase_event_id",
            "view_event_id",
            "user_id",
            epoch_us(F.col("p_ts")).alias("purchase_us"),
            (epoch_us(F.col("p_ts")) - epoch_us(F.col("v_ts"))).alias("gap_us"),
        )
    )
    assert _canon(got) == _canon(expected)
    assert got.count() > 0


def test_hll_register_stream_equals_batch_sketch(spark, sf_dir):
    """The drained streaming register table is bit-identical to the
    batch sketch (max is order-insensitive across micro-batches), and
    the finished estimate equals the batch q_hll_distinct row for
    documents.doc_id."""
    import uuid

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import quality
    from beauty_lakehouse_spark.streaming import (
        hll_register_stream,
        run_available_now,
        stream_documents,
    )

    docs = load(spark, sf_dir).documents
    batch_regs = {
        (r.idx, r.m_rho)
        for r in quality.hll_registers(docs, "doc_id").collect()
    }
    drained = run_available_now(
        hll_register_stream(stream_documents(spark, sf_dir)),
        f"t_hll_{uuid.uuid4().hex[:8]}",
    )
    stream_regs = {(r.idx, r.m_rho) for r in drained.collect()}
    assert stream_regs == batch_regs

    exact = docs.agg(F.countDistinct("doc_id").alias("n_exact"))
    streamed = quality.hll_estimate_from_registers(drained, exact).first()
    batch = quality.hll_estimate(docs, "doc_id").first()
    assert tuple(streamed) == tuple(batch)


def test_table_stats_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the orders fixture into 4 files and stream them one file
    per micro-batch: the drained value grid, finished batch-side, must
    equal the batch q_table_stats report exactly — the profile is a
    function of the value multiset, which complete-mode count
    preserves across any micro-batch slicing."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.quality import (
        q_table_stats,
        table_stats_finish,
    )
    from beauty_lakehouse_spark.streaming.pipelines import (
        order_stats_value_grid,
    )

    src = str(tmp_path / "orders_parts")
    orders = load(spark, sf_dir).orders
    orders.withColumn(
        "part", (F.col("o_orderkey") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    grid = run_available_now(order_stats_value_grid(stream), "t_tstats_mb")
    got = table_stats_finish(grid)
    expected = q_table_stats(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_ddsketch_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the orders fixture into 4 files and stream them one file
    per micro-batch: the drained DDSketch bucket grid, finished
    batch-side, must equal the batch q_ddsketch_value_quantiles report
    exactly — count adds and min/min max/max merge, so the sketch is
    a function of the value multiset regardless of micro-batch
    slicing."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.functions import dec2
    from beauty_lakehouse_spark.operators.quality import (
        ddsketch_quantiles_finish,
        q_ddsketch_value_quantiles,
    )
    from beauty_lakehouse_spark.streaming.pipelines import (
        orders_value_sketch,
    )

    src = str(tmp_path / "orders_parts_dds")
    orders = load(spark, sf_dir).orders
    orders.withColumn(
        "part", (F.col("o_orderkey") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    grid = run_available_now(orders_value_sketch(stream), "t_ddsk_mb")
    got = ddsketch_quantiles_finish(grid)
    expected = q_ddsketch_value_quantiles(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_stream_glob_escapes_metacharacters(spark, sf_dir, tmp_path):
    """ADVICE r8: an sf_dir containing glob metacharacters must still
    resolve the fixture files (previously the bare `parque[t]` trick
    made a bracketed sf_dir silently match zero files)."""
    import os
    import shutil

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.streaming.pipelines import (
        _stream_glob,
        stream_orders,
    )

    # unit: every metacharacter in the dir prefix is escaped, the
    # trailing [t] character class is preserved
    g = _stream_glob("/tmp/sf[0.1]*{a,b}?", "orders")
    assert g.endswith("/orders.parque[t]")
    assert g.startswith("/tmp/sf\\[0.1\\]\\*\\{a,b\\}\\?")

    # functional: a bracketed fixture dir streams the same row count
    # the batch reader sees
    weird = tmp_path / "sf[weird]"
    weird.mkdir()
    src = f"{sf_dir}/orders.parquet"
    dst = str(weird / "orders.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    n_batch = load(spark, str(weird)).orders.count()
    assert n_batch > 0
    drained = run_available_now(
        stream_orders(spark, str(weird))
        .groupBy()
        .count(),
        "t_glob_escape",
        output_mode="complete",
    )
    assert drained.collect()[0]["count"] == n_batch


def test_stream_orders_reuses_the_catalog_schema(spark, sf_dir):
    """Building the orders stream after the batch catalog has resolved
    orders starts no Spark job: the schema comes from the memoized
    catalog handle, not a footer probe of its own."""
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.streaming.pipelines import stream_orders

    load(spark, sf_dir).orders
    sc = spark.sparkContext
    group = "test_stream_orders_reuses_the_catalog_schema"
    sc.setJobGroup(group, "stream_orders build")
    try:
        stream = stream_orders(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert stream.isStreaming
    assert stream.schema == spark.read.parquet(f"{sf_dir}/orders.parquet").schema


def test_media_phash_stream_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Fingerprint-at-ingest (r9): draining the documents fixture in
    4 micro-batches through the exact-int pHash kernel must equal the
    batch hashes exactly — the kernel is per-doc stateless, so the
    drain is micro-batch-slicing-independent."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.multimodal import phash_exactint
    from beauty_lakehouse_spark.streaming.pipelines import (
        DOCUMENTS_SCHEMA,
        run_available_now,
    )

    docs = load(spark, sf_dir).documents
    src = str(tmp_path / "docs_parts")
    docs.withColumn("part", (F.col("doc_id") % 4).cast("int")).repartition(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_available_now(
        phash_exactint(stream), "t_media_fp_mb", output_mode="append"
    )
    a = sorted((r.doc_id, r.phash) for r in got.collect())
    b = sorted((r.doc_id, r.phash) for r in phash_exactint(docs).collect())
    assert a == b


def test_multires_stream_matches_batch_and_slicing(spark, sf_dir, tmp_path):
    """The streamed continuous-aggregate minute tier + read-time cascade
    equals the batch 3-tier rollup, independent of micro-batch slicing
    (4 interleaved files, one per batch)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.events import multires_cascade
    from beauty_lakehouse_spark.streaming.pipelines import (
        multires_minute_values,
    )

    expected = batch_events.q_events_multires_rollup(spark, sf_dir)

    # single-batch drain
    got1 = multires_cascade(
        run_available_now(
            multires_minute_values(stream_events(spark, sf_dir)),
            "t_multires_one",
        )
    )
    assert _canon(got1) == _canon(expected)

    # 4-file interleaved slicing: complete-mode state must merge
    src = str(tmp_path / "events_parts_mr")
    ev = load(spark, sf_dir).events
    ev.withColumn("part", (F.col("event_id") % 4).cast("int")).repartition(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got4 = multires_cascade(
        run_available_now(multires_minute_values(stream), "t_multires_four")
    )
    assert _canon(got4) == _canon(expected)


def test_orders_checksum_stream_matches_batch_and_slicing(
    spark, sf_dir, tmp_path
):
    """The fingerprint-at-ingest drain equals the batch table_checksums
    orders row, independent of micro-batch slicing (sum-of-hashes is
    associative; 4 interleaved files, one per batch)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import quality
    from beauty_lakehouse_spark.streaming.pipelines import (
        orders_checksum_stream,
        stream_orders,
    )

    batch_row = (
        quality.q_table_checksums(spark, sf_dir)
        .filter(F.col("table_name") == "orders")
        .collect()[0]
    )

    got1 = run_available_now(
        orders_checksum_stream(stream_orders(spark, sf_dir)), "t_ochk_one"
    ).collect()[0]
    assert (got1["n_rows"], got1["checksum"]) == (
        batch_row["n_rows"],
        batch_row["checksum"],
    )

    src = str(tmp_path / "orders_parts")
    od = load(spark, sf_dir).orders
    od.withColumn("part", (F.col("o_orderkey") % 4).cast("int")).repartition(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(od.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got4 = run_available_now(
        orders_checksum_stream(stream), "t_ochk_four"
    ).collect()[0]
    assert (got4["n_rows"], got4["checksum"]) == (
        batch_row["n_rows"],
        batch_row["checksum"],
    )


def test_user_modal_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the events fixture into 4 files and stream them one per
    micro-batch: the drained per-(user, type) count grid, finished
    batch-side, must equal the batch q_user_modal_event report exactly
    — counts add across any micro-batch slicing."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.events import (
        q_user_modal_event,
        user_modal_finish,
    )
    from beauty_lakehouse_spark.streaming.pipelines import (
        user_event_type_counts,
    )

    src = str(tmp_path / "events_parts_umod")
    from beauty_lakehouse_spark.catalog import load

    ev = load(spark, sf_dir).events
    ev.withColumn(
        "part", (F.col("event_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    grid = run_available_now(user_event_type_counts(stream), "t_umod_mb")
    got = user_modal_finish(grid)
    expected = q_user_modal_event(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_rate_capped_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the events fixture into 4 files and stream them one per
    micro-batch: the last-version-wins snapshot of the min-k state
    updates must equal the batch q_events_rate_capped report exactly —
    min-k merge is associative and commutative, so the final kept set
    is slicing-independent EVEN THOUGH later batches can evict rows
    earlier batches had kept (the eviction path this test exercises by
    hash-splitting, which scrambles event-time order across files)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.events import (
        q_events_rate_capped,
    )
    from beauty_lakehouse_spark.streaming.stateful import (
        rate_capped_events,
        rate_capped_finish,
    )

    src = str(tmp_path / "events_parts_rcap")
    from beauty_lakehouse_spark.catalog import load

    ev = load(spark, sf_dir).events
    ev.withColumn(
        "part", (F.col("event_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drained = run_available_now(
        rate_capped_events(stream), "t_rcap_mb", output_mode="update"
    )
    # the update stream really did revise keys across batches
    # (otherwise this test wouldn't exercise eviction)
    assert drained.filter(F.col("version") > 1).count() > 0
    got = rate_capped_finish(drained)
    expected = q_events_rate_capped(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_rate_capped_grid_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """JVM-side rate-cap twin (VERDICT r11 ask #4): same 4-file
    hash-split eviction drill as the Pandas-state test above, but
    through the pure-JVM ``rate_capped_grid`` streaming aggregate —
    the gate's form. collect_list is arrival-order-sensitive but the
    deterministic array_sort + slice on top is not, so the
    last-version-wins snapshot must equal the batch report exactly."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.events import (
        q_events_rate_capped,
    )
    from beauty_lakehouse_spark.streaming.pipelines import (
        rate_capped_grid,
        rate_capped_grid_finish,
    )

    src = str(tmp_path / "events_parts_rcapg")
    from beauty_lakehouse_spark.catalog import load

    ev = load(spark, sf_dir).events
    ev.withColumn(
        "part", (F.col("event_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drained = run_available_now(
        rate_capped_grid(stream), "t_rcapg_mb", output_mode="update"
    )
    # keys really were revised across batches (count(*) version grew)
    assert drained.filter(F.col("version") > 1).count() > 0
    got = rate_capped_grid_finish(drained)
    expected = q_events_rate_capped(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_kaplan_meier_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the orders fixture into 4 files and stream them one per
    micro-batch: the min-2 firsts snapshot through the shared km_curve
    tail must equal the batch q_kaplan_meier_repeat curve exactly —
    hash-splitting scrambles date order across files, so a customer's
    true first order often arrives AFTER a later one and must evict it
    from state (the min-2 eviction path)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.events import (
        q_kaplan_meier_repeat,
    )
    from beauty_lakehouse_spark.streaming.stateful import (
        km_firsts,
        km_firsts_finish,
    )

    src = str(tmp_path / "orders_parts_km")
    from beauty_lakehouse_spark.catalog import load

    od = load(spark, sf_dir).orders
    od.withColumn(
        "part", (F.col("o_orderkey") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(od.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drained = run_available_now(
        km_firsts(stream), "t_kmf_mb", output_mode="update"
    )
    # state really was revised across batches (eviction exercised)
    assert drained.filter(F.col("version") > 1).count() > 0
    got = km_firsts_finish(drained)
    expected = q_kaplan_meier_repeat(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_view_purchase_join_streamed_multi_batch_equals_batch(
    spark, sf_dir, tmp_path
):
    """Split the events fixture into 4 files and stream them one per
    micro-batch: the append-mode stream-stream join must emit exactly
    the batch time-range join — hash-splitting puts most (view,
    purchase) matches in DIFFERENT micro-batches, so the join state
    buffering across batches is what this test exercises."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.streaming.pipelines import (
        SS_JOIN_WINDOW_US,
        view_purchase_join,
    )

    src = str(tmp_path / "events_parts_ssj")
    ev = load(spark, sf_dir).events
    ev.withColumn(
        "part", (F.col("event_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_available_now(
        view_purchase_join(stream), "t_ssj_mb", output_mode="append"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("view_event_id"),
        F.unix_micros("ts").alias("vus"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("purchase_event_id"),
        F.unix_micros("ts").alias("pus"),
    )
    expected = (
        v.join(
            p,
            (F.col("u") == F.col("u2"))
            & (F.col("pus") >= F.col("vus"))
            & (F.col("pus") <= F.col("vus") + SS_JOIN_WINDOW_US),
        )
        .select(
            F.col("u").alias("user_id"),
            "view_event_id",
            "purchase_event_id",
            (F.col("pus") - F.col("vus")).alias("lag_us"),
        )
    )
    assert expected.count() > 0
    assert _canon(got) == _canon(expected)


def test_bootstrap_mean_streamed_multi_batch_equals_batch(
    spark, sf_dir, tmp_path
):
    """Split the orders fixture into 4 files and stream them one per
    micro-batch: the additive bootstrap grid drained in complete mode,
    finished batch-side, must equal the batch q_bootstrap_mean_ci row
    exactly — hash weights are per-(row, replicate), so slicing cannot
    change any Σw or Σw·c."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.quality import (
        bootstrap_finish,
        bootstrap_grid,
        q_bootstrap_mean_ci,
    )

    src = str(tmp_path / "orders_parts_boot")
    od = load(spark, sf_dir).orders
    od.withColumn(
        "part", (F.col("o_orderkey") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(od.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    grid = run_available_now(bootstrap_grid(stream), "t_boot_mb")
    got = bootstrap_finish(grid)
    expected = q_bootstrap_mean_ci(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_sprt_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """The streamed SPRT grid drained over multiple micro-batches
    (maxFilesPerTrigger=1 over a 4-file copy) finishes to the same
    decision row as the batch q_sprt_decision — count/sum on the day
    grid are additive and order-insensitive, so slicing cannot move
    the boundary crossing."""
    import uuid

    from beauty_lakehouse_spark.operators.temporal import (
        q_sprt_decision,
        sprt_day_grid,
        sprt_finish,
    )
    from beauty_lakehouse_spark.streaming import run_available_now

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    multi = str(tmp_path / "orders_multi")
    src.repartition(4).write.parquet(multi)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
    )
    grid = run_available_now(
        sprt_day_grid(stream), f"t_sprt_{uuid.uuid4().hex[:8]}"
    )
    got = sprt_finish(grid).collect()
    want = q_sprt_decision(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_domain_dedup_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the documents fixture into 4 files and stream them one per
    micro-batch: the last-version-wins URL winner snapshot through the
    shared domain_mixture_finish tail must equal the batch
    q_domain_dedup_mixture table exactly — hash-splitting scrambles
    doc_id order across files, so a URL's true first crawl (smallest
    doc_id) often arrives AFTER a later crawl and must evict it from
    state (the min-1 eviction path), while the crawl count keeps
    accumulating."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.curation import (
        q_domain_dedup_mixture,
    )
    from beauty_lakehouse_spark.streaming.stateful import (
        url_dedup_finish,
        url_dedup_state,
    )

    src = str(tmp_path / "docs_parts_udd")
    from beauty_lakehouse_spark.catalog import load

    docs = load(spark, sf_dir).documents
    docs.withColumn(
        "part", (F.col("doc_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drained = run_available_now(
        url_dedup_state(stream), "t_udd_mb", output_mode="update"
    )
    # the update stream really did revise URL keys across batches
    # (the planted trailing-digit collisions span hash-split files)
    assert drained.filter(F.col("version") > 1).count() > 0
    got = url_dedup_finish(drained)
    expected = q_domain_dedup_mixture(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_dsir_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the documents fixture into 4 files and stream them one per
    micro-batch: the drained complete-mode DSIR feature grid through
    the shared dsir_finish must equal the batch q_dsir_importance
    scores exactly — the grid is an additive count aggregate, so
    arrival order and slicing cannot change the fixpoint."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.curation import (
        dsir_finish,
        q_dsir_importance,
    )
    from beauty_lakehouse_spark.streaming.pipelines import (
        dsir_doc_bucket_counts,
    )

    src = str(tmp_path / "docs_parts_dsir")
    from beauty_lakehouse_spark.catalog import load

    docs = load(spark, sf_dir).documents
    docs.withColumn(
        "part", (F.col("doc_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    grid = run_available_now(dsir_doc_bucket_counts(stream), "t_dsir_mb")
    got = dsir_finish(grid)
    expected = q_dsir_importance(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_nb_lang_streamed_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the documents fixture into 4 files and stream them one per
    micro-batch: the drained complete-mode NB token grid through the
    shared nb_finish must equal the batch q_nb_lang_classifier
    confusion matrix exactly — the grid is an additive count
    aggregate, so arrival order and slicing cannot change the model or
    the predictions."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.text import (
        nb_finish,
        q_nb_lang_classifier,
    )
    from beauty_lakehouse_spark.streaming.pipelines import nb_token_counts

    src = str(tmp_path / "docs_parts_nbl")
    docs = load(spark, sf_dir).documents
    docs.withColumn(
        "part", (F.col("doc_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    grid = run_available_now(nb_token_counts(stream), "t_nbl_mb")
    got = nb_finish(grid)
    expected = q_nb_lang_classifier(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_gopher_quality_streamed_multi_batch_equals_batch(
    spark, sf_dir, tmp_path
):
    """Split the documents fixture into 4 files and stream them one per
    micro-batch: the appended Gopher rule-card rows must equal the
    batch q_gopher_quality_flags output exactly — the transform is a
    stateless narrow map, so slicing cannot change any rule value."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.text import (
        gopher_flags,
        q_gopher_quality_flags,
    )

    src = str(tmp_path / "docs_parts_gqf")
    docs = load(spark, sf_dir).documents
    docs.withColumn(
        "part", (F.col("doc_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_available_now(
        gopher_flags(stream), "t_gqf_mb", output_mode="append"
    )
    expected = q_gopher_quality_flags(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_page_hinkley_stream_matches_batch(spark, sf_dir):
    """The streamed Page-Hinkley drain equals the batch entry row for
    row (grid maintained incrementally, shared finisher)."""
    import __spark_entry__ as entrymod
    from beauty_lakehouse_spark.operators.temporal import (
        q_page_hinkley_drift,
    )

    got = sorted(
        entrymod._q_page_hinkley_streamed(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    want = sorted(
        q_page_hinkley_drift(spark, sf_dir).collect(), key=lambda r: r.day
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_ks_grid_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Split the events fixture into 4 files and stream them one per
    micro-batch: the drained KS count grid (complete-mode, additive)
    plus the shared ks_finish must equal the batch q_ks_two_sample row
    exactly."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.quality import (
        ks_finish,
        q_ks_two_sample,
    )
    from beauty_lakehouse_spark.streaming.pipelines import ks_value_grid

    src = str(tmp_path / "events_parts_ks")
    from beauty_lakehouse_spark.catalog import load

    ev = load(spark, sf_dir).events
    ev.withColumn(
        "part", (F.col("event_id") % 4).cast("int")
    ).repartition(4, "part").drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    grid = run_available_now(ks_value_grid(stream), "t_ks_mb")
    got = ks_finish(grid)
    expected = q_ks_two_sample(spark, sf_dir)
    assert _canon(got) == _canon(expected)


def test_state_partitions_keyed_to_drained_plan(spark, sf_dir, monkeypatch):
    """VERDICT r13 ask #8: the state-partition hint must come from the
    DRAINED plan's own sources — a stream built earlier but never
    drained (here: documents) must not leak its sizing into an
    unrelated drain (events). The r13 module-global handoff list did
    exactly that via max()."""
    from beauty_lakehouse_spark.streaming import pipelines as P

    # fake per-source sizes: documents "huge", events 100 MiB
    def fake_sizes(path):
        return [32 * 1024**3] if "documents" in path else [100 * 1024**2]

    monkeypatch.setattr(P, "_data_file_sizes", fake_sizes)
    # interleaved builders: documents built FIRST and never drained
    P.stream_documents(spark, sf_dir)
    ev_plan = P.hourly_event_counts(P.stream_events(spark, sf_dir))
    # events-derived (ceil(100 / 16) at 32 cores), NOT the documents
    # gigabytes (which would give all 32)
    assert P._plan_state_partitions(ev_plan, 32) == 7
    # the floor holds on a small host
    assert P._plan_state_partitions(ev_plan, 2) == 4
    # and a plan with no registered file source opts out entirely
    mem = spark.readStream.format("rate").load()
    assert P._plan_state_partitions(mem, 32) is None


def test_state_partitions_match_file_sources_exactly(spark, monkeypatch):
    """A registered source glob that is a substring of the drained
    source's glob (``/a/b/...`` inside ``/c/a/b/...``) is not read as a
    source of the drained plan."""
    from beauty_lakehouse_spark.streaming import pipelines as P

    def fake_sizes(path):
        return [32 * 1024**3] if path.startswith("/a/b/") else [100 * 1024**2]

    monkeypatch.setattr(P, "_data_file_sizes", fake_sizes)
    monkeypatch.setattr(P, "_STREAM_SOURCE_PATHS", {})
    P._stream_glob("/a/b", "orders")
    drained = spark.readStream.schema("o_orderkey long").parquet(
        P._stream_glob("/c/a/b", "orders")
    )
    assert P._plan_state_partitions(drained, 32) == 7


def test_stream_scan_spread_is_conditioned_on_file_count(
    spark, sf_dir, tmp_path
):
    """The documents-source spread (r14 §2.5) must round-robin a
    few-file landing scan and structurally no-op a many-file one —
    a repartition added unconditionally would tax every production
    micro-batch with a full-data exchange. The core count is fixed
    here, so the rule is checked the same way on every host."""
    import os

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.streaming.pipelines import (
        DOCUMENTS_SCHEMA,
        _data_file_sizes,
        _spread_stream_scan,
        _stream_glob,
    )

    fixture = os.path.join(sf_dir, "documents.parquet")
    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _stream_glob(sf_dir, "documents")
    )
    assert len(_data_file_sizes(fixture)) == 1

    # single-file fixture at 32 cores: the spread inserts a repartition
    plan = (
        _spread_stream_scan(docs, fixture, cores=32)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "Repartition" in plan
    # at 4 cores one file is already a quarter of them: no exchange
    assert _spread_stream_scan(docs, fixture, cores=4) is docs

    # many-file source dir (>= cores/4): identity, no exchange added.
    # Spark writes _SUCCESS and .crc files next to the 64 part files;
    # only the part files count.
    many = tmp_path / "many_files"
    spark.range(0, 64, 1, 64).withColumn("text", F.lit("x")).write.parquet(
        str(many)
    )
    names = os.listdir(many)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert len(_data_file_sizes(str(many))) == 64
    df = spark.readStream.schema("id long, text string").parquet(str(many))
    assert _spread_stream_scan(df, str(many), cores=32) is df


def test_drained_table_scan_width_matches_state_sizing(spark, sf_dir):
    """run_available_now right-sizes the returned memory table's scan
    to the volume-derived state-partition count (r14 §5: a
    LocalTableScan otherwise fans driver-held rows out to one
    contending task per core)."""
    from beauty_lakehouse_spark.session import cores
    from beauty_lakehouse_spark.streaming.pipelines import (
        _plan_state_partitions,
        dedup_group_table,
        stream_documents,
    )

    agg = dedup_group_table(stream_documents(spark, sf_dir))
    derived = _plan_state_partitions(agg, cores(spark))
    assert derived is not None
    drained = run_available_now(agg, "t_scan_width")
    assert drained.rdd.getNumPartitions() <= derived
