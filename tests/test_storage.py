"""Tests for the physical-layout/skew utilities."""

from __future__ import annotations

from pyspark.sql import functions as F

from idhub_spark.storage import salted_join, size_bucketed_repartition, write_partitioned


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, i) for i in range(100)], ["k", "v"]
    )  # skewed: 3 hot keys
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "name"])
    plain = big.join(small, "k").select("k", "v", "name")
    salted = salted_join(big, small, "k", salt=8).select("k", "v", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join(spark):
    big = spark.createDataFrame([(0, 1), (9, 2)], ["k", "v"])
    small = spark.createDataFrame([(0, "a")], ["k", "name"])
    out = {r.k: r.name for r in salted_join(big, small, "k", salt=4, how="left").collect()}
    assert out == {0: "a", 9: None}


def test_salted_join_rejects_outer_shapes(spark):
    """right/full outer would emit `salt` copies of every unmatched
    replicated small-side row — refused with a clear error."""
    import pytest

    big = spark.createDataFrame([(0, 1)], ["k", "v"])
    small = spark.createDataFrame([(0, "a"), (5, "b")], ["k", "name"])
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="unmatched small-side"):
            salted_join(big, small, "k", how=how)


def test_size_bucketed_repartition(spark):
    df = spark.createDataFrame([(i, "x" * (i % 50)) for i in range(200)], ["id", "payload"])
    out = size_bucketed_repartition(
        df.withColumn("n_bytes", F.length("payload")), "n_bytes", target_partitions=4
    )
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 200


def test_write_partitioned_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"b{i % 2}", i, f"k{i}") for i in range(20)], ["batch_id", "v", "k"]
    )
    path = str(tmp_path / "t")
    write_partitioned(df, path, partition_cols=["batch_id"], sort_within=["k"])
    back = spark.read.parquet(path).filter(F.col("batch_id") == "b0")
    assert back.count() == 10
    # partition pruning visible in the scan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Two tables bucketed on the join key co-partition: the join plan
    has NO Exchange on either side — the layout-time shuffle saving
    write_bucketed exists for."""
    from idhub_spark.storage import write_bucketed

    a = spark.createDataFrame([(i, f"a{i}") for i in range(100)], ["k", "va"])
    b = spark.createDataFrame([(i, f"b{i}") for i in range(100)], ["k", "vb"])
    write_bucketed(a, "bkt_a", bucket_cols=["k"], num_buckets=4,
                   path=str(tmp_path / "bkt_a"))
    write_bucketed(b, "bkt_b", bucket_cols=["k"], num_buckets=4,
                   path=str(tmp_path / "bkt_b"))
    try:
        # force the shuffle-sensitive strategy: a broadcast join would
        # trivially have no exchange and prove nothing
        joined = (
            spark.table("bkt_a").hint("merge").join(spark.table("bkt_b"), "k")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_write_staging_csv_layout(spark, tmp_path):
    """K1: staging layout staging/validated/{batch_id}/{table}.csv
    (validator.py:139-145), readable back with the same schema."""
    from idhub_spark.storage import write_staging_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
    path = write_staging_csv(
        df, str(tmp_path), batch_id="batch_20240101_x", table="subjects",
        single_file=True,
    )
    assert path.endswith("staging/validated/batch_20240101_x/subjects.csv")
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 2 and set(back.columns) == {"k", "s"}
    import glob
    parts = glob.glob(path + "/part-*")
    assert len(parts) == 1  # single-file contract


def test_snapshot_store_versions_and_rollback(spark, tmp_path):
    """Versioned snapshots: publish, merge, time-travel, rollback,
    vacuum retention (idhub_spark/snapshots.py)."""
    from idhub_spark.operators.merge import merge_upsert
    from idhub_spark.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "subjects"))
    v1_df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
    assert store.write(v1_df, note="initial") == 1

    incoming = spark.createDataFrame([(2, "b2"), (3, "c")], ["k", "s"])
    merged = merge_upsert(incoming, store.read(spark), ["k"]).merged
    assert store.write(merged, note="batch2") == 2

    assert {r.k: r.s for r in store.read(spark).collect()} == {1: "a", 2: "b2", 3: "c"}
    # time travel
    assert {r.k: r.s for r in store.read(spark, version=1).collect()} == {1: "a", 2: "b"}
    # rollback is metadata-only
    store.rollback(1)
    assert store.read(spark).count() == 2
    store.rollback(2)

    # vacuum keeps the newest `keep` + never the current pointer
    store.write(store.read(spark), note="v3")
    removed = store.vacuum(keep=2)
    assert removed == [1]
    assert store.read(spark, version=2).count() == 3


def test_snapshot_write_after_rollback_never_overwrites(spark, tmp_path):
    """A write after rollback() must allocate a FRESH version number,
    not reuse (and overwrite) a retained snapshot."""
    from idhub_spark.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "t"))
    store.write(spark.createDataFrame([(1,)], ["k"]), note="v1")
    store.write(spark.createDataFrame([(1,), (2,)], ["k"]), note="v2")
    store.rollback(1)
    v = store.write(spark.createDataFrame([(9,)], ["k"]), note="after-rollback")
    assert v == 3
    # v2's data is untouched
    assert store.read(spark, version=2).count() == 2
    assert store.read(spark, version=3).collect()[0].k == 9


def test_snapshot_vacuum_keep_zero_and_rollback_budget(spark, tmp_path):
    """vacuum(keep=0) retains ONLY the current pointer (not a silent
    no-op), a rolled-back current pointer survives outside the keep
    budget, and negative keep raises."""
    import pytest

    from idhub_spark.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "t"))
    for i in range(1, 5):
        store.write(spark.createDataFrame([(i,)], ["k"]), note=f"v{i}")
    store.rollback(1)  # current pointer now older than newest

    with pytest.raises(ValueError):
        store.vacuum(keep=-1)

    # keep=2 -> newest two (3, 4) + rolled-back current (1) survive
    assert store.vacuum(keep=2) == [2]
    assert {e["version"] for e in store.versions()} == {1, 3, 4}
    assert store.read(spark).collect()[0].k == 1  # pointer intact

    # keep=0 -> everything but the current pointer goes
    assert store.vacuum(keep=0) == [3, 4]
    assert {e["version"] for e in store.versions()} == {1}
    assert store.read(spark).collect()[0].k == 1


# --- lakehouse MERGE binding (operators/merge_into.py) -----------------


def _seed_small_registry(spark, root):
    from idhub_spark.operators.merge_into import seed_bucketed_table

    cur = spark.createDataFrame(
        [(k, f"name{k}", float(k)) for k in range(16)], ["k", "name", "val"]
    )
    seed_bucketed_table(
        cur, root, ["k"], n_buckets=8,
        bucket_of=lambda df: (F.col("k") % 8).cast("int"),
    )
    return cur


def _partition_files(root):
    import glob
    import os

    out = {}
    for d in glob.glob(os.path.join(root, "_bucket=*")):
        b = int(d.split("=")[-1])
        out[b] = {
            os.path.basename(p): os.path.getmtime(p)
            for p in glob.glob(os.path.join(d, "*.parquet"))
        }
    return out


def test_partition_pruned_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """File-level proof of the pruning contract: buckets with an
    actual insert/update get new files; a bucket touched only by an
    UNCHANGED incoming row — and every un-touched bucket — keeps its
    original files byte-for-byte (same names, same mtimes)."""
    import time

    from idhub_spark.operators.merge_into import partition_pruned_upsert

    root = str(tmp_path / "reg")
    _seed_small_registry(spark, root)
    before = _partition_files(root)
    time.sleep(1.1)  # mtime resolution guard

    # k=0 -> bucket 0 update; k=1 -> bucket 1 unchanged; k=100 (100%8=4)
    # -> bucket 4 insert
    incoming = spark.createDataFrame(
        [(0, "name0", 99.0), (1, "name1", 1.0), (100, "new", 0.0)],
        ["k", "name", "val"],
    )
    stats = partition_pruned_upsert(
        spark, root, incoming, ["k"], n_buckets=8,
        bucket_of=lambda df: (F.col("k") % 8).cast("int"),
    )
    assert stats.n_buckets_total == 8
    assert stats.n_buckets_touched == 3
    assert stats.n_buckets_rewritten == 2  # bucket 1 (unchanged) spared
    # rewritten buckets 0 and 4 hold keys {0, 8} and {4, 12, 100}
    assert stats.rows_rewritten == 5

    after = _partition_files(root)
    for b in range(8):
        if b in (0, 4):
            assert after[b] != before[b], f"bucket {b} should be rewritten"
        else:
            assert after[b] == before[b], f"bucket {b} must be untouched"

    final = {r.k: r.val for r in spark.read.parquet(root).collect()}
    assert final[0] == 99.0 and final[1] == 1.0 and final[100] == 0.0
    assert len(final) == 17
    # staging dir cleaned up
    import os

    assert not os.path.exists(f"{root}/_upsert_staging")


def test_partition_pruned_upsert_modes(spark, tmp_path):
    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = lambda df: (F.col("k") % 8).cast("int")  # noqa: E731
    incoming = spark.createDataFrame(
        [(0, "name0", 99.0), (100, "new", 0.0)], ["k", "name", "val"]
    )

    root_i = str(tmp_path / "ins")
    _seed_small_registry(spark, root_i)
    s = partition_pruned_upsert(
        spark, root_i, incoming, ["k"], n_buckets=8, bucket_of=bucket_of,
        mode="insert_only",
    )
    fin = {r.k: r.val for r in spark.read.parquet(root_i).collect()}
    assert fin[0] == 0.0 and fin[100] == 0.0  # update ignored, insert taken
    assert s.n_buckets_rewritten == 1

    root_u = str(tmp_path / "upd")
    _seed_small_registry(spark, root_u)
    s = partition_pruned_upsert(
        spark, root_u, incoming, ["k"], n_buckets=8, bucket_of=bucket_of,
        mode="update_only",
    )
    fin = {r.k: r.val for r in spark.read.parquet(root_u).collect()}
    assert fin[0] == 99.0 and 100 not in fin  # insert ignored, update taken
    assert s.n_buckets_rewritten == 1


def test_merge_into_sql_shape_and_parses(spark):
    """The emitted MERGE INTO must be valid Spark SQL (parser-checked
    via the session's own sqlParser) and carry the change-set
    semantics: null-safe change predicate, immutable columns excluded
    from UPDATE SET but present in INSERT, mode-specific clauses."""
    import pytest

    from idhub_spark.operators.merge_into import merge_into_sql

    stmt = merge_into_sql(
        target="subjects", source="incoming", natural_key=["gsid"],
        update_cols=["name", "center_id", "created_at"],
        immutable=["created_at"],
    )
    assert "MERGE INTO `subjects` t" in stmt
    assert "ON t.`gsid` = s.`gsid`" in stmt
    assert "NOT (t.`name` <=> s.`name`)" in stmt
    assert "created_at` = s.`created_at" not in stmt  # immutable
    assert "NOT (t.`created_at` <=> s.`created_at`)" not in stmt
    # inserts keep the immutable column
    assert "INSERT (`gsid`, `name`, `center_id`, `created_at`)" in stmt
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(stmt)  # raises ParseException on bad syntax

    # reserved-word / non-identifier names must still emit parseable
    # SQL (identifiers are backtick-quoted)
    ugly = merge_into_sql(
        target="db.select", source="s 1", natural_key=["order-date"],
        update_cols=["from", "a`b"],
    )
    assert "MERGE INTO `db`.`select` t" in ugly
    assert "t.`order-date` = s.`order-date`" in ugly
    assert "t.`from` = s.`from`" in ugly and "`a``b`" in ugly
    parser.parsePlan(ugly)

    ins = merge_into_sql(
        target="t1", source="s1", natural_key=["k"], update_cols=["v"],
        mode="insert_only",
    )
    assert "WHEN MATCHED" not in ins and "WHEN NOT MATCHED" in ins
    parser.parsePlan(ins)

    upd = merge_into_sql(
        target="t1", source="s1", natural_key=["k"], update_cols=["v"],
        mode="update_only",
    )
    assert "WHEN MATCHED" in upd and "WHEN NOT MATCHED" not in upd
    parser.parsePlan(upd)

    with pytest.raises(ValueError):
        merge_into_sql(target="t", source="s", natural_key=["k"],
                       update_cols=["v"], mode="replace")


def test_apply_merge_falls_back_without_rowlevel_catalog(spark, tmp_path):
    """On a catalog without row-level-operation support (this
    sandbox's parquet tables), apply_merge must execute the
    partition-pruned path instead of failing."""
    from idhub_spark.operators.merge_into import apply_merge

    root = str(tmp_path / "reg_fb")
    _seed_small_registry(spark, root)
    spark.read.parquet(root).createOrReplaceTempView("_fb_target")
    incoming = spark.createDataFrame([(0, "name0", 42.0)], ["k", "name", "val"])
    path = apply_merge(
        spark, incoming, target_table="_fb_target", table_root=root,
        natural_key=["k"], update_cols=["name", "val"], n_buckets=8,
        bucket_of=lambda df: (F.col("k") % 8).cast("int"),
    )
    assert path == "partition_pruned"
    final = {r.k: r.val for r in spark.read.parquet(root).collect()}
    assert final[0] == 42.0 and len(final) == 16


def test_partition_pruned_upsert_schema_evolution(spark, tmp_path):
    """An incoming batch carrying a NEW column is rejected by default
    (a pruned rewrite would leave mixed per-partition schemas);
    evolve='rewrite' widens the whole table in one pass — every
    bucket rewritten, new column NULL where absent, plain read
    schema-uniform afterwards."""
    import pytest

    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = lambda df: (F.col("k") % 8).cast("int")  # noqa: E731
    root = str(tmp_path / "reg_evo")
    _seed_small_registry(spark, root)
    incoming = spark.createDataFrame(
        [(0, "name0", 99.0, "s1")], ["k", "name", "val", "src"]
    )
    with pytest.raises(ValueError, match="mixed per-partition schemas"):
        partition_pruned_upsert(
            spark, root, incoming, ["k"], n_buckets=8, bucket_of=bucket_of
        )

    stats = partition_pruned_upsert(
        spark, root, incoming, ["k"], n_buckets=8, bucket_of=bucket_of,
        evolve="rewrite",
    )
    assert stats.n_buckets_rewritten == 8  # whole table widened
    final = spark.read.parquet(root)  # plain read, no mergeSchema
    assert "src" in final.columns
    rows = {r.k: (r.val, r.src) for r in final.collect()}
    assert rows[0] == (99.0, "s1")
    assert rows[1] == (1.0, None) and len(rows) == 16


def test_partition_pruned_upsert_dtype_evolution(spark, tmp_path):
    """A type-widened SHARED column (int -> bigint) must not slip past
    evolve='reject' on a name-only check: mixed per-file column types
    between rewritten and untouched buckets are the same silent
    corruption as a half-added column. evolve='rewrite' adopts the
    incoming type for the WHOLE table (reference coerces up front
    instead: data_transformer.py:148-217)."""
    import pytest

    from idhub_spark.operators.merge_into import (
        partition_pruned_upsert,
        seed_bucketed_table,
    )

    bucket_of = lambda df: (F.col("k") % 8).cast("int")  # noqa: E731
    root = str(tmp_path / "reg_dtype")
    cur = spark.createDataFrame(
        [(k, k * 10) for k in range(16)], "k bigint, val int"
    )
    seed_bucketed_table(cur, root, ["k"], n_buckets=8, bucket_of=bucket_of)

    incoming = spark.createDataFrame([(0, 999)], "k bigint, val bigint")
    with pytest.raises(ValueError, match="type changes val: int -> bigint"):
        partition_pruned_upsert(
            spark, root, incoming, ["k"], n_buckets=8, bucket_of=bucket_of
        )

    stats = partition_pruned_upsert(
        spark, root, incoming, ["k"], n_buckets=8, bucket_of=bucket_of,
        evolve="rewrite",
    )
    assert stats.n_buckets_rewritten == 8  # whole table re-typed
    final = spark.read.parquet(root)  # plain read, no mergeSchema
    assert dict(final.dtypes)["val"] == "bigint"
    rows = {r.k: r.val for r in final.collect()}
    assert rows[0] == 999 and rows[1] == 10 and len(rows) == 16
    # every bucket file carries the new type, not just the updated one
    import glob as _glob

    import pyarrow.parquet as pq

    for f in _glob.glob(f"{root}/_bucket=*/*.parquet"):
        assert pq.read_schema(f).field("val").type == "int64", f


def test_partition_pruned_upsert_nullability_only_diff_is_not_evolution(
    spark, tmp_path
):
    """A nested-nullability-only difference (array containsNull here:
    split() yields non-null elements, on-disk parquet reads back
    nullable) is representation-safe in a pruned rewrite and must NOT
    hard-fail evolve='reject' as a type change (r8 ADVICE)."""
    from idhub_spark.operators.merge_into import (
        partition_pruned_upsert,
        seed_bucketed_table,
    )

    bucket_of = lambda df: (F.col("k") % 4).cast("int")  # noqa: E731
    root = str(tmp_path / "reg_nullab")
    cur = spark.createDataFrame(
        [(k, [f"t{k}"]) for k in range(8)], "k bigint, tags array<string>"
    )
    seed_bucketed_table(cur, root, ["k"], n_buckets=4, bucket_of=bucket_of)

    # F.split produces array<string> with containsNull=false — the
    # on-disk schema reads back containsNull=true
    incoming = spark.createDataFrame([(0, "x|y")], "k bigint, raw string").select(
        "k", F.split("raw", "\\|").alias("tags")
    )
    assert not incoming.schema["tags"].dataType.containsNull
    stats = partition_pruned_upsert(
        spark, root, incoming, ["k"], n_buckets=4, bucket_of=bucket_of
    )
    assert stats.n_buckets_rewritten == 1  # pruned, not a full rewrite
    rows = {r.k: r.tags for r in spark.read.parquet(root).collect()}
    assert rows[0] == ["x", "y"] and len(rows) == 8


def test_partition_pruned_upsert_delete_keys(spark, tmp_path):
    """Resolution-driven deletions reach the disk: delete_keys rows
    vanish from the table, a deletion-only bucket rewrites, untouched
    buckets keep their files, and a deleted-then-reincoming key
    classifies 'new' (the use_incoming delete-then-insert shape)."""
    import time

    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = lambda df: (F.col("k") % 8).cast("int")  # noqa: E731
    root = str(tmp_path / "reg_del")
    _seed_small_registry(spark, root)
    before = _partition_files(root)
    time.sleep(1.1)

    # delete k=1 and k=9 (bucket 1, no incoming there) and k=2
    # (bucket 2, re-inserted by incoming with a new value)
    deletes = spark.createDataFrame([(1,), (9,), (2,)], "k bigint")
    incoming = spark.createDataFrame([(2, "reborn", 55.0)], ["k", "name", "val"])
    stats = partition_pruned_upsert(
        spark, root, incoming, ["k"], n_buckets=8, bucket_of=bucket_of,
        delete_keys=deletes,
    )
    assert stats.rows_deleted == 3
    # bucket 2 (delete+insert) and bucket 1 (deletion-only) rewrite
    assert stats.n_buckets_rewritten == 2

    final = {r.k: r.val for r in spark.read.parquet(root).collect()}
    assert 1 not in final and 9 not in final
    assert final[2] == 55.0  # delete-then-insert won
    assert len(final) == 14  # 16 - 3 deleted + 1 reinserted
    after = _partition_files(root)
    assert 1 not in after  # fully-emptied bucket: directory dropped
    for b in range(8):
        if b in (1, 2):
            assert after.get(b) != before[b], f"bucket {b} should be rewritten"
        else:
            assert after[b] == before[b], f"bucket {b} must be untouched"

    # deleting a key that does not exist is a no-op
    ghost = spark.createDataFrame([(999,)], "k bigint")
    s2 = partition_pruned_upsert(
        spark, root, spark.createDataFrame([], "k bigint, name string, val double"),
        ["k"], n_buckets=8, bucket_of=bucket_of, delete_keys=ghost,
    )
    assert s2.rows_deleted == 0 and s2.n_buckets_rewritten == 0
    # 999 % 8 = 7 exists on disk, so the candidate bucket IS scanned
    # (that scan is the real work touched counts)
    assert s2.n_buckets_touched == 1

    # ghost delete into a bucket with NO directory on disk (bucket 1
    # was fully emptied and dropped above): nothing to scan, so it
    # must not count as touched at all (r8 ADVICE)
    ghost_offdisk = spark.createDataFrame([(9,)], "k bigint")  # 9 % 8 = 1
    s3 = partition_pruned_upsert(
        spark, root, spark.createDataFrame([], "k bigint, name string, val double"),
        ["k"], n_buckets=8, bucket_of=bucket_of, delete_keys=ghost_offdisk,
    )
    assert s3.rows_deleted == 0 and s3.n_buckets_rewritten == 0
    assert s3.n_buckets_touched == 0


def test_partition_pruned_upsert_delete_keys_empty_rewritten_buckets(
    spark, tmp_path
):
    """delete_keys that empty every bucket the upsert rewrites: the
    zero-row staged write never fires its row Observation, so the
    upsert reports rows_rewritten == 0 from the staged listing. With
    other buckets on disk the emptied bucket's dir is dropped; when
    the delete empties the whole table, one zero-row file stays, so
    the table still reads back (as empty)."""
    import os

    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = lambda df: (F.col("k") % 8).cast("int")  # noqa: E731
    none = spark.createDataFrame([], "k bigint, name string, val double")

    root = str(tmp_path / "reg_del_only")
    _seed_small_registry(spark, root)
    stats = partition_pruned_upsert(
        spark, root, none, ["k"], n_buckets=8, bucket_of=bucket_of,
        delete_keys=spark.createDataFrame([(3,), (11,)], "k bigint"),
    )
    assert (stats.rows_deleted, stats.rows_rewritten) == (2, 0)
    assert stats.n_buckets_rewritten == 1
    assert not os.path.isdir(f"{root}/_bucket=3")
    assert spark.read.parquet(root).count() == 14

    root = str(tmp_path / "reg_del_all")
    _seed_small_registry(spark, root)
    stats = partition_pruned_upsert(
        spark, root, none, ["k"], n_buckets=8, bucket_of=bucket_of,
        delete_keys=spark.createDataFrame([(k,) for k in range(16)], "k bigint"),
    )
    assert (stats.rows_deleted, stats.rows_rewritten) == (16, 0)
    assert stats.n_buckets_rewritten == 8
    got = spark.read.parquet(root)
    assert got.count() == 0
    assert set(got.columns) == {"k", "name", "val", "_bucket"}
    # and the emptied table takes new rows again
    partition_pruned_upsert(
        spark, root, spark.createDataFrame([(5, "back", 5.0)], ["k", "name", "val"]),
        ["k"], n_buckets=8, bucket_of=bucket_of,
    )
    assert {r.k: r.val for r in spark.read.parquet(root).collect()} == {5: 5.0}


def test_apply_merge_view_hygiene(spark, tmp_path):
    """apply_merge must not leak (or reuse) its temp source view: two
    calls in one session get distinct names and both drop afterwards —
    a fixed name would let interleaved merges clobber each other's
    source (r7 ADVICE)."""
    from idhub_spark.operators.merge_into import apply_merge

    for i, (key, val) in enumerate([(0, 41.0), (1, 43.0)]):
        root = str(tmp_path / f"reg_vh{i}")
        _seed_small_registry(spark, root)
        spark.read.parquet(root).createOrReplaceTempView(f"_vh_target{i}")
        incoming = spark.createDataFrame([(key, f"n{key}", val)], ["k", "name", "val"])
        path = apply_merge(
            spark, incoming, target_table=f"_vh_target{i}", table_root=root,
            natural_key=["k"], update_cols=["name", "val"], n_buckets=8,
            bucket_of=lambda df: (F.col("k") % 8).cast("int"),
        )
        assert path == "partition_pruned"
        assert {r.k: r.val for r in spark.read.parquet(root).collect()}[key] == val
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("_incoming_merge_src")
    ]
    assert leftovers == []


def test_partition_pruned_upsert_empty_and_noop_batches(spark, tmp_path):
    """Degenerate batches: an EMPTY incoming frame and an all-unchanged
    batch must both rewrite zero buckets and leave the table files
    untouched."""
    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = lambda df: (F.col("k") % 8).cast("int")  # noqa: E731
    root = str(tmp_path / "reg_noop")
    _seed_small_registry(spark, root)
    before = _partition_files(root)

    empty = spark.createDataFrame([], "k bigint, name string, val double")
    s = partition_pruned_upsert(
        spark, root, empty, ["k"], n_buckets=8, bucket_of=bucket_of
    )
    assert (s.n_buckets_touched, s.n_buckets_rewritten, s.rows_rewritten) == (0, 0, 0)

    unchanged = spark.createDataFrame(
        [(k, f"name{k}", float(k)) for k in range(4)], ["k", "name", "val"]
    )
    s = partition_pruned_upsert(
        spark, root, unchanged, ["k"], n_buckets=8, bucket_of=bucket_of
    )
    assert s.n_buckets_touched == 4 and s.n_buckets_rewritten == 0
    assert _partition_files(root) == before
    assert spark.read.parquet(root).count() == 16


def test_apply_merge_surfaces_caller_errors(spark, tmp_path):
    """A typo'd target table is a caller error (TABLE_OR_VIEW_NOT_FOUND),
    NOT missing row-level support — it must raise, never silently
    reroute the write to table_root."""
    import pytest
    from pyspark.errors import AnalysisException

    from idhub_spark.operators.merge_into import apply_merge, merge_into_sql

    root = str(tmp_path / "reg_err")
    _seed_small_registry(spark, root)
    incoming = spark.createDataFrame([(0, "n", 1.0)], ["k", "name", "val"])
    with pytest.raises(AnalysisException):
        apply_merge(
            spark, incoming, target_table="no_such_table_xyz", table_root=root,
            natural_key=["k"], update_cols=["name", "val"], n_buckets=8,
            bucket_of=lambda df: (F.col("k") % 8).cast("int"),
        )
    # degenerate MERGE shapes fail loudly at emission
    with pytest.raises(ValueError, match="no WHEN clause"):
        merge_into_sql(target="t", source="s", natural_key=["k"],
                       update_cols=["created_at"], immutable=["created_at"],
                       mode="update_only")
    stmt = merge_into_sql(target="t", source="s", natural_key=["k"],
                          update_cols=["k", "v", "v"])
    assert "INSERT (`k`, `v`)" in stmt  # deduped


def test_partition_pruned_upsert_rejects_layout_mismatch(spark, tmp_path):
    """The seeded layout sidecar pins n_buckets/key: an upsert with a
    different bucket count (the forgotten-flag corruption) is refused
    up front instead of silently duplicating keys."""
    import pytest

    from idhub_spark.operators.merge_into import partition_pruned_upsert

    root = str(tmp_path / "reg_layout")
    _seed_small_registry(spark, root)  # n_buckets=8, key=[k]
    incoming = spark.createDataFrame([(0, "n", 1.0)], ["k", "name", "val"])
    with pytest.raises(ValueError, match="bucket-layout mismatch"):
        partition_pruned_upsert(spark, root, incoming, ["k"], n_buckets=1024)
    with pytest.raises(ValueError, match="bucket-layout mismatch"):
        partition_pruned_upsert(spark, root, incoming, ["name"], n_buckets=8)
    # a renamed bucket column is a LAYOUT error, not schema evolution
    # (without the check it would read as "incoming lacks column _b")
    with pytest.raises(ValueError, match="bucket_col: seeded '_bucket'"):
        partition_pruned_upsert(
            spark, root, incoming, ["k"], n_buckets=8, bucket_col="_b",
            bucket_of=lambda df: (F.col("k") % 8).cast("int"),
        )


def test_partition_pruned_upsert_releases_cache_on_failure(spark, tmp_path, monkeypatch):
    """The classification cache is released on every exit path: a
    failure inside the rewrite-set collect must not leave it pinned
    in the cache manager."""
    import pytest
    from pyspark.storagelevel import StorageLevel

    from idhub_spark.operators.merge_into import partition_pruned_upsert

    root = str(tmp_path / "reg_leak")
    _seed_small_registry(spark, root)
    incoming = spark.createDataFrame([(0, "name0", 99.0)], ["k", "name", "val"])
    frame_cls = type(incoming)
    persisted = []
    real_persist = frame_cls.persist

    def tracking_persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", tracking_persist)

    def failing_bucket_of(df):
        # the classified frame (it carries change_type) fails at
        # execution, i.e. inside the rewrite-set collect
        if "change_type" in df.columns:
            return F.raise_error(F.lit("injected bucket failure")).cast("int")
        return (F.col("k") % 8).cast("int")

    with pytest.raises(Exception, match="injected bucket failure"):
        partition_pruned_upsert(
            spark, root, incoming, ["k"], n_buckets=8, bucket_of=failing_bucket_of
        )
    assert persisted, "the upsert persisted nothing"
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


def test_partition_pruned_upsert_skips_null_bucket_dir(spark, tmp_path):
    """A bucket_col=__HIVE_DEFAULT_PARTITION__ directory (null bucket)
    is no bucket: it neither counts toward n_buckets_total nor joins
    the widened rewrite set, where it would mix a string into the
    int bucket ids."""
    import os

    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = lambda df: (F.col("k") % 8).cast("int")  # noqa: E731
    root = str(tmp_path / "reg_null_bucket")
    _seed_small_registry(spark, root)
    spark.createDataFrame([(999, "orphan", 0.0)], ["k", "name", "val"]).write.parquet(
        os.path.join(root, "_bucket=__HIVE_DEFAULT_PARTITION__")
    )
    s = partition_pruned_upsert(
        spark, root,
        spark.createDataFrame([(0, "name0", 99.0)], ["k", "name", "val"]),
        ["k"], n_buckets=8, bucket_of=bucket_of,
    )
    assert s.n_buckets_total == 8 and s.n_buckets_rewritten == 1
    s = partition_pruned_upsert(
        spark, root,
        spark.createDataFrame([(1, "name1", 5.0, "s1")], ["k", "name", "val", "src"]),
        ["k"], n_buckets=8, bucket_of=bucket_of, evolve="rewrite",
    )
    assert s.n_buckets_total == 8 and s.n_buckets_rewritten == 8
    rows = {r.k: r.val for r in spark.read.parquet(root).filter("_bucket IS NOT NULL").collect()}
    assert rows[0] == 99.0 and rows[1] == 5.0 and len(rows) == 16


def test_partition_pruned_upsert_rejects_non_canonical_bucket_dir(spark, tmp_path):
    """Under the default bucket_of the bucket ids are ints, whose
    directory names are canonical: bucket=05 is not written by this
    engine, and reading it as bucket 5 would let the overwrite create
    a second bucket=5 directory holding the same keys."""
    import glob
    import os

    import pytest

    from idhub_spark.operators.merge_into import (
        partition_pruned_upsert,
        seed_bucketed_table,
    )

    root = str(tmp_path / "reg_noncanon")
    seed_bucketed_table(
        spark.createDataFrame(
            [(k, f"name{k}", float(k)) for k in range(64)], ["k", "name", "val"]
        ),
        root, ["k"], n_buckets=8,
    )
    d = sorted(glob.glob(os.path.join(root, "_bucket=*")))[0]
    b = d.rsplit("=", 1)[1]
    os.rename(d, os.path.join(root, f"_bucket=0{b}"))
    incoming = spark.createDataFrame([(0, "name0", 99.0)], ["k", "name", "val"])
    with pytest.raises(ValueError, match="non-canonical"):
        partition_pruned_upsert(spark, root, incoming, ["k"], n_buckets=8)


def test_compact_small_files_shrinks_and_preserves(spark, tmp_path):
    """Compaction must reduce the file count to ceil(total/target)
    and preserve every row byte-exactly (verified the way production
    would: bucket checksums before vs after)."""
    from idhub_spark.storage import bucket_checksum, compact_small_files

    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    small = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    df.repartition(20).write.parquet(small)
    import glob as _glob

    n_small = len(_glob.glob(f"{small}/*.parquet"))
    assert n_small == 20
    n_src, n_out = compact_small_files(
        spark, small, out, target_bytes=10**9
    )
    assert n_src == 20 and n_out == 1
    assert len(_glob.glob(f"{out}/*.parquet")) == 1
    a = {r.bucket: (r.n_rows, r.checksum)
         for r in bucket_checksum(df, "k", ["k", "v"]).collect()}
    b = {r.bucket: (r.n_rows, r.checksum)
         for r in bucket_checksum(
             spark.read.parquet(out), "k", ["k", "v"]).collect()}
    assert a == b


def test_compact_small_files_partitioned_layout(spark, tmp_path):
    """A two-level Hive-partitioned root must compact per LEAF
    (partition boundaries never crossed, layout mirrored under dst)
    and read back byte-identically INCLUDING the partition columns
    parsed from the directory names."""
    from idhub_spark.storage import bucket_checksum, compact_small_files

    df = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") % 3).alias("q"),
        (F.col("id") * 7).alias("v"),
    )
    small = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    df.repartition(6).write.partitionBy("p", "q").parquet(small)
    import glob as _glob

    n_small = len(_glob.glob(f"{small}/p=*/q=*/*.parquet"))
    assert n_small > 6  # one file per (task x partition) — the debris shape
    n_src, n_out = compact_small_files(spark, small, out, target_bytes=10**9)
    assert n_src == n_small and n_out == 6  # one packed file per leaf
    assert len(_glob.glob(f"{out}/p=*/q=*/*.parquet")) == 6
    cols = ["k", "p", "q", "v"]
    a = {r.bucket: (r.n_rows, r.checksum)
         for r in bucket_checksum(df, "k", cols).collect()}
    b = {r.bucket: (r.n_rows, r.checksum)
         for r in bucket_checksum(
             spark.read.parquet(out).select(*cols), "k", cols).collect()}
    assert a == b


def test_compact_small_files_guards(spark, tmp_path):
    """Self-compaction, NESTED src/dst, and data-free roots must raise,
    not silently 'succeed' (the r9 wrong-scope hazard: a partitioned
    root listed zero files at the top level and still reported
    success; a dst nested under src is written mid-walk and then
    double-counted by any verify read of the src root)."""
    import pytest

    from idhub_spark.storage import compact_small_files

    with pytest.raises(ValueError, match="disjoint"):
        compact_small_files(spark, str(tmp_path / "x"), str(tmp_path / "x"))
    with pytest.raises(ValueError, match="disjoint"):
        compact_small_files(
            spark, str(tmp_path / "x"), str(tmp_path / "x" / "compacted")
        )
    with pytest.raises(ValueError, match="disjoint"):
        compact_small_files(spark, str(tmp_path / "x" / "sub"), str(tmp_path / "x"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet data files"):
        compact_small_files(spark, str(empty), str(tmp_path / "out"))


def test_compact_small_files_skips_metadata_dirs(spark, tmp_path):
    """A root carrying a streaming-sink _spark_metadata directory (the
    exact micro-batch-debris use case the compact CLI advertises) must
    compact the DATA files only: the metadata dir's contents ('0',
    '1', '2.compact' — names that do NOT start with '_') are neither
    read as parquet (which would fail the job) nor copied as data."""
    from idhub_spark.storage import compact_small_files

    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    small = str(tmp_path / "sink")
    out = str(tmp_path / "compacted")
    df.repartition(4).write.parquet(small)
    meta = tmp_path / "sink" / "_spark_metadata"
    meta.mkdir()
    for name in ("0", "1", "2.compact"):
        (meta / name).write_text('{"path":"not-parquet"}')
    # a hidden checkpoint dir gets the same treatment
    ckpt = tmp_path / "sink" / ".checkpoint"
    ckpt.mkdir()
    (ckpt / "state").write_text("x")

    n_src, n_out = compact_small_files(spark, small, out, target_bytes=10**9)
    assert n_src == 4 and n_out == 1
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert sorted(back.columns) == ["k", "v"]


def test_zorder_value_date_cols(spark):
    """zorder_value's docstring allows date zcols, but CAST(DATE AS
    DOUBLE) is not a valid Spark cast — the date path must hop through
    timestamp (monotone, so bucket ranks are unchanged). Pin: a date
    zcol fits and buckets without AnalysisException, and _z is
    monotone in the date for a single-column zorder (bucket rank ==
    date rank at bits covering the domain)."""
    from idhub_spark.storage import zorder_value

    df = spark.range(64).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
            "d"
        ),
    )
    z = zorder_value(df, ["d"], bits=6).select("k", "_z").collect()
    by_k = {r.k: r._z for r in z}
    assert all(by_k[i] <= by_k[i + 1] for i in range(63))
    assert len({r._z for r in z}) > 32  # buckets actually spread


def test_zorder_layout_multi_dim_skipping(spark, tmp_path):
    """A Z-ordered layout must give file-level skipping on EVERY
    zcol at once: for a 1/16-selectivity predicate, the linear-sort
    layout prunes its own column to ~1 of 16 files but reads ~all 16
    for the other column; the Z-order layout reads a middle fraction
    (~4 of 16) for BOTH. Contents must be byte-equal to the source
    (bucket_checksum equality)."""
    from idhub_spark.storage import (
        bucket_checksum,
        file_skipping_stats,
        zorder_layout,
    )

    # independent uniform dims derived by seeded hashing (deterministic)
    df = spark.range(40_000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(10_000)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(10_000)).alias("y"),
    )
    flat, linear, zed = (
        str(tmp_path / "flat"),
        str(tmp_path / "linear"),
        str(tmp_path / "zed"),
    )
    df.repartition(16).write.parquet(flat)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.parquet(linear)
    )
    zorder_layout(df, ["x", "y"], zed, n_files=16)

    lo, hi = 0, 624  # ~1/16 of either domain
    for col in ("x", "y"):
        n, flat_read = file_skipping_stats(spark, flat, col, lo, hi)
        assert n == 16 and flat_read >= 14  # random layout: no skipping
    n, lin_x = file_skipping_stats(spark, linear, "x", lo, hi)
    _, lin_y = file_skipping_stats(spark, linear, "y", lo, hi)
    assert n == 16 and lin_x <= 2 and lin_y >= 14  # one dim only
    n, z_x = file_skipping_stats(spark, zed, "x", lo, hi)
    _, z_y = file_skipping_stats(spark, zed, "y", lo, hi)
    assert n == 16 and z_x <= 7 and z_y <= 7, (z_x, z_y)  # both dims prune

    cols = ["k", "x", "y"]
    want = {
        r.bucket: (r.n_rows, r.checksum)
        for r in bucket_checksum(df, "k", cols).collect()
    }
    got = {
        r.bucket: (r.n_rows, r.checksum)
        for r in bucket_checksum(spark.read.parquet(zed), "k", cols).collect()
    }
    assert got == want


def test_compact_partitioned_single_job(spark, tmp_path):
    """The index-layout compactor: one scan + one hash-shuffle + one
    partitioned write — ~1 file per partition at default target, k
    files per partition when partition bytes exceed the target, Hive
    layout preserved, rows byte-identical. (The per-leaf
    compact_small_files walker stays the tool for flat/few-partition
    trees; its job-per-directory loop dominates at index-scale
    partition counts — r13 audit.)"""
    import glob

    from pyspark.sql import functions as F

    from idhub_spark.storage import compact_partitioned

    src = str(tmp_path / "src")
    base = spark.range(4000).select(
        F.col("id"),
        F.pmod(F.col("id"), F.lit(16)).alias("pb"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"),
    )
    # 3 appended batches -> 3 files per partition dir
    for i in range(3):
        base.filter(F.col("id") % 3 == i).repartition(F.col("pb")).write.mode(
            "append"
        ).partitionBy("pb").parquet(src)
    n_files_src = len(glob.glob(f"{src}/pb=*/*.parquet"))
    assert n_files_src >= 3 * 16

    dst = str(tmp_path / "dst")
    n_src, n_out = compact_partitioned(spark, src, dst, "pb")
    assert n_src == n_files_src
    assert n_out == 16  # one packed file per partition
    assert len(glob.glob(f"{dst}/pb=*")) == 16  # Hive layout survived
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b

    # tiny target: the k>1 salt branch must stay CORRECT (rows intact,
    # layout preserved). At toy bytes AQE coalesces the salted shuffle
    # back to one task per value, so the file count stays ~1/partition
    # here — the salt only fans out when partition bytes are real.
    dst2 = str(tmp_path / "dst2")
    n_src2, n_out2 = compact_partitioned(spark, src, dst2, "pb", target_bytes=1)
    assert n_src2 == n_files_src and n_out2 >= 16
    c = sorted(map(tuple, spark.read.parquet(dst2).collect()))
    assert a == c

    # flat tree: loud refusal (use compact_small_files there)
    flat = str(tmp_path / "flat")
    base.drop("pb").write.parquet(flat)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition directories"):
        compact_partitioned(spark, flat, str(tmp_path / "x"), "pb")


def test_compact_partitioned_extra_paths_fold_and_deterministic_salt(
    spark, tmp_path
):
    """extra_paths (the dedup index's LSM delta fold): rows from a
    FLAT sidecar dir whose part_col is a plain data column land in the
    compacted Hive layout exactly once, and its files count as source
    files. And the k>1 salt must derive from row CONTENT — a
    nondeterministic salt (monotonically_increasing_id) re-routes
    recomputed rows on task retry, risking dup/lost rows (ADVICE r13)."""
    import glob
    import inspect

    from pyspark.sql import functions as F

    from idhub_spark.storage import compact_partitioned

    src = str(tmp_path / "src")
    base = spark.range(2000).select(
        F.col("id"),
        F.pmod(F.col("id"), F.lit(8)).alias("pb"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"),
    )
    base.repartition(F.col("pb")).write.partitionBy("pb").parquet(src)

    delta = str(tmp_path / "delta")
    extra = spark.range(2000, 2100).select(
        F.col("id"),
        F.pmod(F.col("id"), F.lit(8)).alias("pb"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"),
    )
    extra.coalesce(1).write.parquet(delta)
    n_delta_files = len(glob.glob(f"{delta}/*.parquet"))
    assert n_delta_files == 1

    dst = str(tmp_path / "dst")
    n_src, n_out = compact_partitioned(spark, src, dst, "pb",
                                       extra_paths=[delta])
    assert n_src == len(glob.glob(f"{src}/pb=*/*.parquet")) + n_delta_files
    got = sorted(
        map(tuple, spark.read.parquet(dst).select("id", "payload", "pb").collect())
    )
    want = sorted(
        map(
            tuple,
            base.unionByName(extra).select("id", "payload", "pb").collect(),
        )
    )
    assert got == want  # folded exactly once, nothing lost
    assert len(glob.glob(f"{dst}/pb=*")) == 8  # Hive layout

    # the salt regression pin: content-derived, never row-position
    # (the name appears in a comment explaining exactly this)
    assert "F.monotonically_increasing_id(" not in inspect.getsource(
        compact_partitioned
    )
