"""Streaming/incremental semantics tests: batch-vs-stream plan parity
for the rollup, session windows, and exactly-once incremental merge
with checkpoint resume (SURVEY.md §2.12)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from idhub_spark.streaming import (
    hourly_rollup_plan,
    incremental_file_merge,
    session_agg_plan,
)

SCHEMA = "k bigint, s string, v double"


def _events(spark):
    return spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", "click", 1.5),
            (2, "2024-01-01 00:50:00", "click", 2.5),
            (3, "2024-01-01 01:10:00", "view", 4.0),
            (4, "2024-01-01 03:00:00", "click", 8.0),
        ],
        ["event_id", "ts", "event_type", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_hourly_rollup_batch(spark):
    out = {
        (str(r.hour), r.event_type): (r.n, r.total_value)
        for r in hourly_rollup_plan(_events(spark)).collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == (2, 4.0)
    assert out[("2024-01-01 01:00:00", "view")] == (1, 4.0)


def test_hourly_rollup_streaming_parity(spark, tmp_path):
    """The same plan function over a file stream produces the same
    closed windows as the batch run."""
    src = str(tmp_path / "src")
    _events(spark).write.parquet(src)
    stream = spark.readStream.schema("event_id bigint, ts timestamp, event_type string, value double").parquet(src)
    q = (
        hourly_rollup_plan(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("rollup_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.hour), r.event_type): (r.n, r.total_value)
        for r in spark.table("rollup_sink").collect()
    }
    want = {
        (str(r.hour), r.event_type): (r.n, r.total_value)
        for r in hourly_rollup_plan(_events(spark)).collect()
    }
    assert got == want


def test_session_window(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 01:00:00"),  # >30min gap -> new session
            (2, "2024-01-01 00:00:00"),
        ],
        ["user_id", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = session_agg_plan(df).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_sessionize_batch_streaming_parity(spark):
    """The batch lag/cumsum sessionizer (plans/windows_q.py sessionize)
    and the streaming session-window twin (session_agg_plan) agree on
    the REAL events table: same per-user session starts and sizes, and
    the streaming window end = batch last-event ts + gap. This is the
    §2.12 claim tested on driver data, not just 4-row fixtures."""
    from idhub_spark.plans.windows_q import sessionize
    from idhub_spark.session import load_tables
    from tests.conftest import SF_DIR

    batch = {
        (r.user_id, str(r.session_start)): (r.n_events, str(r.session_end))
        for r in sessionize(spark, SF_DIR).collect()
    }
    events = load_tables(spark, SF_DIR, "events")["events"]
    stream_twin = {
        (r.user_id, str(r.session_start)): (r.n_events, str(r.session_end))
        for r in session_agg_plan(events, gap="30 minutes").collect()
    }
    assert set(batch) == set(stream_twin)
    for key, (n, _end) in batch.items():
        assert n == stream_twin[key][0], key
    # session_window end is exclusive (last event + gap): check the
    # relation holds for EVERY session via DataFrame algebra
    b = sessionize(spark, SF_DIR).select(
        "user_id", "session_start", F.col("session_end").alias("last_ts")
    )
    s = session_agg_plan(events, gap="30 minutes").select(
        "user_id", "session_start", F.col("session_end").alias("win_end")
    )
    joined = b.join(s, ["user_id", "session_start"])
    mismatched = joined.filter(
        F.col("win_end") != F.col("last_ts") + F.expr("INTERVAL 30 MINUTES")
    ).count()
    assert mismatched == 0


def test_hourly_rollup_batch_query_streaming_parity(spark):
    """The driver's hourly_rollup batch query and the streaming twin
    hourly_rollup_plan produce identical closed windows on the real
    events table (identical scaled-int sum discipline)."""
    from idhub_spark.plans.windows_q import hourly_rollup
    from idhub_spark.session import load_tables
    from tests.conftest import SF_DIR

    batch = {
        (str(r.hour), r.event_type): (r.n, r.total_value)
        for r in hourly_rollup(spark, SF_DIR).collect()
    }
    events = load_tables(spark, SF_DIR, "events")["events"]
    twin = {
        (str(r.hour), r.event_type): (r.n, r.total_value)
        for r in hourly_rollup_plan(events).collect()
    }
    assert batch == twin


def _assert_exactly_once(spark, tmp_path, table, layout="snapshot"):
    """Two fragments, then a rerun with nothing new: every batch's rows
    are in the table exactly once and the snapshot swap leaves no
    .tmp- dir."""
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(staging)
    kw = {"layout": layout}
    if layout == "bucketed":
        kw.update(n_buckets=4, bucket_of=lambda df: (F.col("k") % 4).cast("int"))

    def run():
        incremental_file_merge(
            spark, staging_dir=staging, table_dir=table, checkpoint_dir=ckpt,
            schema=SCHEMA, natural_key=["k"], **kw,
        )

    b1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], ["k", "s", "v"])
    b1.coalesce(1).write.mode("append").parquet(staging)
    run()
    assert {r.k: r.v for r in spark.read.parquet(table).collect()} == {1: 1.0, 2: 2.0}

    # second fragment: one update + one insert
    b2 = spark.createDataFrame([(2, "b", 9.0), (3, "c", 3.0)], ["k", "s", "v"])
    b2.coalesce(1).write.mode("append").parquet(staging)
    run()
    assert {r.k: r.v for r in spark.read.parquet(table).collect()} == {
        1: 1.0, 2: 9.0, 3: 3.0,
    }

    # re-run with nothing new: checkpoint makes it a no-op
    run()
    assert spark.read.parquet(table).count() == 3
    assert not [p for p in os.listdir(str(tmp_path)) if ".tmp-" in p]


def test_incremental_file_merge_exactly_once(spark, tmp_path):
    _assert_exactly_once(spark, tmp_path, str(tmp_path / "table"))


@pytest.mark.parametrize("layout", ["snapshot", "bucketed"])
def test_incremental_file_merge_uri_table_dir(spark, tmp_path, layout):
    """A URI table_dir is resolved through the session's Hadoop FS:
    every trigger merges into the table instead of re-seeding or
    overwriting it, and the staged snapshot is deleted."""
    _assert_exactly_once(spark, tmp_path, f"file://{tmp_path}/table", layout)


def test_incremental_merge_dedupes_within_trigger(spark, tmp_path):
    """Two staged files carrying the same key in ONE AvailableNow
    trigger collapse to one deterministic winner (max order_col) —
    no duplicate rows in the snapshot — and .tmp staging dirs are
    removed after the swap."""
    staging = str(tmp_path / "staging2")
    table = str(tmp_path / "table2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(staging)
    spark.createDataFrame([(1, "old", 1.0)], ["k", "s", "v"]).coalesce(1).write.mode(
        "append"
    ).parquet(staging)
    spark.createDataFrame([(1, "new", 2.0)], ["k", "s", "v"]).coalesce(1).write.mode(
        "append"
    ).parquet(staging)
    incremental_file_merge(
        spark, staging_dir=staging, table_dir=table, checkpoint_dir=ckpt,
        schema=SCHEMA, natural_key=["k"], order_col="v",
    )
    rows = spark.read.parquet(table).collect()
    assert len(rows) == 1 and rows[0].v == 2.0 and rows[0].s == "new"
    assert not [p for p in os.listdir(str(tmp_path)) if ".tmp-" in p]

    # a later batch with in-batch dupes against an existing table
    spark.createDataFrame(
        [(1, "x", 5.0), (1, "y", 9.0), (2, "z", 1.0)], ["k", "s", "v"]
    ).coalesce(1).write.mode("append").parquet(staging)
    incremental_file_merge(
        spark, staging_dir=staging, table_dir=table, checkpoint_dir=ckpt,
        schema=SCHEMA, natural_key=["k"], order_col="v",
    )
    got = {r.k: r for r in spark.read.parquet(table).collect()}
    assert len(got) == 2 and got[1].v == 9.0 and got[2].v == 1.0


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState keeps per-user totals across
    micro-batches (custom stateful operator, §2.12 extension)."""
    from idhub_spark.operators.grouped import running_user_totals_stateful

    src = str(tmp_path / "src_state")
    b1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], ["user_id", "value"]
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    collected: list = []

    def _run():
        collected.clear()
        q = (
            running_user_totals_stateful(
                spark.readStream.schema("user_id bigint, value double").parquet(src)
            )
            .writeStream.foreachBatch(
                lambda df, _bid: collected.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_state"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.user_id: (r.n_events, r.total_cents) for r in collected}

    assert _run() == {1: (2, 1500), 2: (1, 100)}

    # second batch: state carries over via the checkpoint
    spark.createDataFrame([(1, 2.5), (3, 7.0)], ["user_id", "value"]).coalesce(
        1
    ).write.mode("append").parquet(src)
    latest = _run()
    assert latest[1] == (3, 1750)
    assert latest[3] == (1, 700)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a streaming fact enriched with a static
    dimension (the registry-lookup pattern on the streaming path)."""
    src = str(tmp_path / "src_enrich")
    spark.createDataFrame(
        [(1, 100.0), (2, 50.0), (3, 75.0)], ["user_id", "value"]
    ).coalesce(1).write.parquet(src)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], ["user_id", "tier"]
    )
    stream = spark.readStream.schema("user_id bigint, value double").parquet(src)
    enriched = stream.join(F.broadcast(dim), "user_id", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user_id: r.tier for r in spark.table("enrich_sink").collect()}
    assert got == {1: "gold", 2: "silver", 3: None}


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first occurrence of a
    content hash and drops in-horizon duplicates; batch path degrades
    to plain dropDuplicates (plan parity)."""
    from idhub_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "dedup_src")
    rows = [
        (1, "2024-01-01 00:00:00", "H-AAA"),
        (2, "2024-01-01 00:05:00", "H-AAA"),  # dup within horizon
        (3, "2024-01-01 00:10:00", "H-BBB"),
        (4, "2024-01-01 00:12:00", "H-BBB"),  # dup within horizon
        (5, "2024-01-01 00:20:00", "H-CCC"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ts", "text_hash"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.write.parquet(src)

    stream = spark.readStream.schema("doc_id bigint, ts timestamp, text_hash string").parquet(src)
    q = (
        streaming_exact_dedup(stream, key_cols=["text_hash"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.text_hash for r in spark.table("dedup_sink").collect()}
    assert got == {"H-AAA", "H-BBB", "H-CCC"}
    assert spark.table("dedup_sink").count() == 3

    # batch parity
    batch = streaming_exact_dedup(df, key_cols=["text_hash"])
    assert batch.count() == 3


def test_stateful_sessionize_state_carries_across_batches(spark, tmp_path):
    """sessionize_stateful (applyInPandasWithState + EventTimeTimeout)
    closes a session when a later batch's event crosses the gap, and
    per-key state survives the restart via the checkpoint."""
    from pyspark.sql import functions as F

    from idhub_spark.operators.grouped import sessionize_stateful

    src = str(tmp_path / "src_sess")
    base = 1_700_000_000

    def _emit(rows):
        spark.createDataFrame(rows, "user_id long, sec long").select(
            "user_id", F.timestamp_seconds("sec").alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    collected: list = []

    def _run():
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        q = (
            sessionize_stateful(stream, gap_seconds=1800)
            .writeStream.foreachBatch(
                lambda df, _bid: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.user_id, (r.session_start - base * 10**6) // 10**6,
             (r.session_end - base * 10**6) // 10**6, r.n_events)
            for r in collected
        )

    # batch 1: an open session for user 1 — nothing closes (watermark
    # after the batch is its own max ts; timeout is 1800s past it)
    _emit([(1, base), (1, base + 60)])
    assert _run() == []

    # batch 2 (same checkpoint => state restored): user 1's next event
    # is 2h later — the gap closes session (0, 60); the new session
    # plus user 2's stay open (within the gap horizon of max ts)
    _emit([(1, base + 7800), (2, base + 7900)])
    assert _run() == [(1, 0, 60, 2)]

    # batch 3: a far-future tick advances the watermark past every
    # open session's timeout — both flush via EventTimeTimeout
    _emit([(9, base + 100_000)])
    assert _run() == [(1, 0, 60, 2), (1, 7800, 7800, 1), (2, 7900, 7900, 1)]


def test_incremental_file_merge_bucketed_layout(spark, tmp_path):
    """layout='bucketed': each micro-batch upserts through
    partition_pruned_upsert — final image identical to the snapshot
    path, table stays bucket-partitioned, replays are no-ops, and a
    second trigger's untouched buckets keep their files."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from idhub_spark.streaming.incremental import incremental_file_merge

    staging = str(tmp_path / "staging_b")
    table = str(tmp_path / "table_b")
    ckpt = str(tmp_path / "ckpt_b")
    os.makedirs(staging)
    bucket_of = lambda df: (F.col("k") % 4).cast("int")  # noqa: E731

    def run():
        incremental_file_merge(
            spark, staging_dir=staging, table_dir=table, checkpoint_dir=ckpt,
            schema="k bigint, v double, ver bigint", natural_key=["k"],
            order_col="ver", layout="bucketed", n_buckets=4, bucket_of=bucket_of,
        )

    base = spark.createDataFrame(
        [(k, float(k), 0) for k in range(8)], ["k", "v", "ver"]
    )
    base.coalesce(1).write.mode("append").parquet(staging)
    run()  # first trigger seeds the bucketed layout
    files = glob.glob(os.path.join(table, "_bucket=*", "*.parquet"))
    assert len(files) > 0
    assert {r.k: r.v for r in spark.read.parquet(table).collect()} == {
        k: float(k) for k in range(8)
    }

    def _mtimes():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(table, "_bucket=*", "*.parquet"))
        }

    before = _mtimes()
    time.sleep(1.1)
    run()  # replay with no new files: must not rewrite anything
    assert _mtimes() == before

    # second fragment patches only k=1 (bucket 1) and inserts k=101
    # (bucket 1): buckets 0/2/3 must keep their exact files
    spark.createDataFrame([(1, 99.0, 1), (101, 1.0, 1)], ["k", "v", "ver"]).coalesce(
        1
    ).write.mode("append").parquet(staging)
    time.sleep(1.1)
    run()
    after = _mtimes()
    changed = {p for p in before if before[p] != after.get(p)}
    assert all("_bucket=1" in p for p in changed) and changed
    for p, m in before.items():
        if "_bucket=1" not in p:
            assert after[p] == m, p
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got[1] == 99.0 and got[101] == 1.0 and len(got) == 9


def test_stateful_sessionize_batch_slicing_invariance(spark, tmp_path):
    """The emitted session set must not depend on micro-batch slicing:
    one trigger over all files vs one trigger PER file (state carried
    across triggers, some sessions closing by successor in a later
    batch instead of within one) yields the identical set — each
    session exactly once with the same (start, end, n)."""
    from pyspark.sql import functions as F

    from idhub_spark.operators.grouped import sessionize_stateful

    base = 1_700_000_000
    # 3 users x interleaved events spanning several sessions, plus a
    # far-future tick so every session flushes in both arrangements
    rows = []
    for u in (1, 2, 3):
        for s in range(3):
            for i in range(2 + u % 2):
                rows.append((u, base + s * 10_000 + u * 37 + i * 60))
    rows.append((9, base + 1_000_000))
    rows.sort(key=lambda r: r[1])  # files below are event-time-ordered

    def _run(tag, files):
        src = str(tmp_path / f"src_{tag}")
        for i, chunk in enumerate(files):
            spark.createDataFrame(chunk, "user_id long, sec long").select(
                "user_id", F.timestamp_seconds("sec").alias("ts")
            ).coalesce(1).write.mode("append").parquet(src)
        collected = []
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        q = (
            sessionize_stateful(stream, gap_seconds=1800)
            .writeStream.foreachBatch(
                lambda df, _bid: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in collected
        )

    one_batch = _run("single", [rows])
    third = len(rows) // 3
    sliced = _run("sliced", [rows[:third], rows[third : 2 * third], rows[2 * third :]])
    assert one_batch == sliced and len(one_batch) >= 9


def test_auto_state_partitions_keyed_by_source(spark):
    """The volume-derived state-store sizing must key on the DRAINED
    stream's own source path: a small stream in a session that earlier
    observed a big one must NOT inherit the big store count (r10
    ADVICE). Conf override beats everything."""
    from idhub_spark.plans.streaming_q import (
        _STREAM_ROWS,
        _auto_state_partitions,
    )

    saved = dict(_STREAM_ROWS)
    try:
        _STREAM_ROWS.clear()
        _STREAM_ROWS["/big/events.parquet"] = 100_000
        _STREAM_ROWS["/small/events.parquet"] = 4_000
        assert _auto_state_partitions(spark, "/big/events.parquet") == 8
        # the small stream sizes to ITS volume, not the session max
        assert _auto_state_partitions(spark, "/small/events.parquet") == 2
        # unknown path falls back to the session max (conservative)
        assert _auto_state_partitions(spark, "/other/events.parquet") == 8
        assert _auto_state_partitions(spark, None) == 8
        spark.conf.set("spark.idhub.streaming.statePartitions", "16")
        try:
            assert _auto_state_partitions(spark, "/small/events.parquet") == 16
        finally:
            spark.conf.unset("spark.idhub.streaming.statePartitions")
    finally:
        _STREAM_ROWS.clear()
        _STREAM_ROWS.update(saved)
