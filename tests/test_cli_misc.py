"""Tests for the CLI entry points and the small validation helpers."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from idhub_spark import cli
from idhub_spark.functions.expressions import flexible_timestamp_expr
from idhub_spark.validate import batch_id_valid, infer_source_schema


def test_batch_id_valid():
    assert batch_id_valid("batch_20260813_bge_upload")
    assert not batch_id_valid("batch_x")
    assert not batch_id_valid("20260813_oops")
    assert not batch_id_valid("")


def test_flexible_timestamp(spark):
    df = spark.createDataFrame(
        [("2020-03-04 05:06:07",), ("1583298367000",), ("garbage",)], ["t"]
    )
    vals = [r.v for r in df.select(flexible_timestamp_expr(F.col("t")).alias("v")).collect()]
    assert str(vals[0]) == "2020-03-04 05:06:07"
    assert vals[1].year == 2020  # epoch millis for 2020-03-04
    assert vals[2] is None


def test_infer_source_schema(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], ["i", "s", "d"])
    assert infer_source_schema(df) == {"i": "bigint", "s": "string", "d": "double"}


def test_cli_validate_and_load_roundtrip(spark, tmp_path, capsys):
    # stage inputs on disk the way a curator would
    frag = tmp_path / "frag.csv"
    frag.write_text(
        "SampleID,Material,consortium_id\nS1,blood,IBDGC-100\nS2,dna,NEW-1\n"
    )
    mapping = tmp_path / "m.json"
    mapping.write_text(
        json.dumps(
            {
                "table_name": "specimen",
                "field_mapping": {"sample_id": "SampleID", "sample_type": "Material"},
                "subject_id_candidates": {"consortium_id": "consortium"},
            }
        )
    )
    reg = tmp_path / "registry.parquet"
    spark.createDataFrame(
        [("IBDGC-100", "GSID-K1", "2020-01-01")],
        ["local_subject_id", "global_subject_id", "created_at"],
    ).write.parquet(str(reg))

    out = tmp_path / "staging"
    rc = cli.main(
        [
            "validate-fragment",
            "--input", str(frag),
            "--mapping", str(mapping),
            "--registry", str(reg),
            "--batch-id", "batch_20260813_t1",
            "--out", str(out),
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["status"] == "VALIDATED" and report["rows"] == 2

    staged = out / "batch_20260813_t1" / "specimen"
    current = tmp_path / "current.parquet"
    spark.read.parquet(str(staged)).limit(0).write.parquet(str(current))
    table_out = tmp_path / "specimen_table"
    rc = cli.main(
        [
            "load-batch",
            "--fragment", str(staged),
            "--current", str(current),
            "--table", "specimen",
            "--batch-id", "batch_20260813_t1",
            "--out", str(table_out),
            "--approve",
        ]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["stats"] == {"new": 2}
    assert spark.read.parquet(str(table_out)).count() == 2
    # the staged image is deleted once it is copied into --out
    assert not os.path.exists(f"{table_out}.staged")


def test_cli_rejects_bad_batch_id(tmp_path, capsys):
    rc = cli.main(
        [
            "validate-fragment",
            "--input", "x.csv",
            "--mapping", "m.json",
            "--registry", "r.parquet",
            "--batch-id", "nope",
        ]
    )
    assert rc == 2


def test_cli_load_batch_bucketed_layout(spark, tmp_path, capsys):
    """--layout bucketed: dry-run stats come from the logical merge
    (bucket column invisible), --approve rewrites the bucketed table
    at --current in place through partition_pruned_upsert."""
    from idhub_spark.operators.merge_into import seed_bucketed_table
    from idhub_spark.schema import NATURAL_KEYS

    key = NATURAL_KEYS["specimen"]
    base = spark.createDataFrame(
        [(f"S{i}", "blood", f"GSID-{i}") for i in range(8)],
        ["sample_id", "sample_type", "global_subject_id"],
    )
    root = str(tmp_path / "specimen_bucketed")
    seed_bucketed_table(base, root, key, n_buckets=4)

    frag = tmp_path / "frag.parquet"
    spark.createDataFrame(
        [("S1", "dna", "GSID-1"), ("S99", "blood", "GSID-99")],
        ["sample_id", "sample_type", "global_subject_id"],
    ).write.parquet(str(frag))

    audit_out = str(tmp_path / "audit")
    rc = cli.main(
        [
            "load-batch",
            "--fragment", str(frag),
            "--current", root,
            "--table", "specimen",
            "--batch-id", "batch_20260814_b1",
            "--layout", "bucketed",
            "--n-buckets", "4",
            "--approve",
            "--audit-out", audit_out,
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["layout"] == "bucketed"
    final = spark.read.parquet(root)
    assert "_bucket" in final.columns  # layout preserved
    rows = {r.sample_id: r.sample_type for r in final.collect()}
    # stats are computed against the PRUNED slice: new/updated tallies
    # are exact; orphan is slice-bounded (untouched buckets never scan)
    assert out["stats"]["new"] == 1 and out["stats"]["updated"] == 1
    assert out["stats"].get("orphan", 0) <= 7
    assert rows["S1"] == "dna" and rows["S99"] == "blood" and len(rows) == 9
    # audit landed (written BEFORE the in-place rewrite — the
    # self-overwrite ordering the CLI must preserve)
    audit = spark.read.parquet(audit_out)
    assert audit.filter(audit.field == "sample_type").count() == 1


def test_cli_load_batch_bucketed_resolutions_delete_on_disk(
    spark, tmp_path, capsys
):
    """--resolutions on the bucketed layout: use_incoming deletes the
    existing row then re-inserts the fragment's (case-insensitive
    match), delete_both removes it from disk entirely — the pruned
    path must receive the delete keys or the rows silently survive
    (r7 ADVICE)."""
    from idhub_spark.operators.merge_into import seed_bucketed_table
    from idhub_spark.schema import NATURAL_KEYS

    key = NATURAL_KEYS["local_subject_ids"]
    base = spark.createDataFrame(
        [(f"l{i}", "mrn", f"GSID-{i}") for i in range(6)],
        ["local_subject_id", "identifier_type", "global_subject_id"],
    )
    root = str(tmp_path / "lsid_bucketed")
    seed_bucketed_table(base, root, key, n_buckets=4)

    frag = tmp_path / "frag_res.parquet"
    spark.createDataFrame(
        [("l1", "mrn", "GSID-1-upd"), ("L3", "mrn", "GSID-3-new")],
        ["local_subject_id", "identifier_type", "global_subject_id"],
    ).write.parquet(str(frag))
    res = tmp_path / "res.parquet"
    spark.createDataFrame(
        # resolution rows carry the INCOMING casing; existing rows are
        # lowercase — matching must be case-insensitive
        [("L3", "mrn", "use_incoming"), ("L5", "mrn", "delete_both")],
        ["local_subject_id", "identifier_type", "resolution_action"],
    ).write.parquet(str(res))

    rc = cli.main(
        [
            "load-batch",
            "--fragment", str(frag),
            "--current", root,
            "--table", "local_subject_ids",
            "--batch-id", "batch_20260814_r1",
            "--layout", "bucketed",
            "--n-buckets", "4",
            "--resolutions", str(res),
            "--approve",
        ]
    )
    assert rc == 0
    capsys.readouterr()
    final = {
        r.local_subject_id: r.global_subject_id
        for r in spark.read.parquet(root).collect()
    }
    assert "l5" not in final and "L5" not in final  # delete_both: gone from disk
    assert final["L3"] == "GSID-3-new" and "l3" not in final  # delete+reinsert
    assert final["l1"] == "GSID-1-upd"
    assert len(final) == 5  # 6 - 2 deleted + 1 reinserted (l1 updates in place)


def test_cli_audit_out_refuses_legacy_flat_layout(spark, tmp_path, capsys):
    """An audit store written by the pre-batch-subdir CLI (flat
    parquet at the root) must be refused, not silently mixed with
    batch=<id> subdirs (conflicting directory structures break the
    read)."""
    from idhub_spark.operators.merge_into import seed_bucketed_table

    base = spark.createDataFrame(
        [("S1", "blood", "GSID-1")],
        ["sample_id", "sample_type", "global_subject_id"],
    )
    root = str(tmp_path / "spec_legacy")
    seed_bucketed_table(base, root, ["sample_id"], n_buckets=2)
    frag = tmp_path / "frag_l.parquet"
    spark.createDataFrame(
        [("S1", "dna", "GSID-1")],
        ["sample_id", "sample_type", "global_subject_id"],
    ).write.parquet(str(frag))

    audit_out = tmp_path / "audit_legacy"
    audit_out.mkdir()
    (audit_out / "part-0000.parquet").write_bytes(b"legacy")

    rc = cli.main(
        [
            "load-batch",
            "--fragment", str(frag),
            "--current", root,
            "--table", "specimen",
            "--batch-id", "batch_20260814_l1",
            "--layout", "bucketed",
            "--n-buckets", "2",
            "--approve",
            "--audit-out", str(audit_out),
        ]
    )
    assert rc == 2
    assert "legacy flat" in capsys.readouterr().err


def test_cli_load_batch_bucketed_evolve(spark, tmp_path, capsys):
    """--layout bucketed --evolve rewrite: a fragment carrying a NEW
    column widens the whole table once (P4's drop-unknown default is
    explicitly overridden); by default the unknown column is DROPPED
    (loader P4 parity) and the table's schema never changes."""
    from idhub_spark.operators.merge_into import seed_bucketed_table

    base = spark.createDataFrame(
        [(f"S{i}", "blood", f"GSID-{i}") for i in range(4)],
        ["sample_id", "sample_type", "global_subject_id"],
    )
    root = str(tmp_path / "specimen_evo")
    seed_bucketed_table(base, root, ["sample_id"], n_buckets=4)
    frag = tmp_path / "frag_evo.parquet"
    spark.createDataFrame(
        [("S1", "blood", "GSID-1", "lab9")],
        ["sample_id", "sample_type", "global_subject_id", "lab_source"],
    ).write.parquet(str(frag))

    common = [
        "load-batch", "--fragment", str(frag), "--current", root,
        "--table", "specimen", "--batch-id", "batch_20260814_e1",
        "--layout", "bucketed", "--n-buckets", "4", "--approve",
    ]
    # default: P4 drops the unknown column — load succeeds, schema
    # untouched (the reference loader's drop-unknown contract)
    assert cli.main(common) == 0
    capsys.readouterr()
    assert "lab_source" not in spark.read.parquet(root).columns

    assert cli.main(common + ["--evolve", "rewrite"]) == 0
    final = spark.read.parquet(root)  # plain read: schema-uniform
    rows = {r.sample_id: r.lab_source for r in final.collect()}
    assert rows["S1"] == "lab9"
    assert rows["S2"] is None and len(rows) == 4


def test_cli_scd2_from_snapshot_store(spark, tmp_path, capsys):
    """The scd2 subcommand derives the type-2 version view straight
    from a SnapshotStore's retained history: consecutive unchanged
    versions collapse, the open version is current, and version
    numbers (not a re-densified index) bound the intervals."""
    from idhub_spark.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "subjects"))
    mk = lambda rows: spark.createDataFrame(rows, ["k", "v", "note"])  # noqa: E731
    store.write(mk([(1, "a", "x"), (2, "b", "x")]), note="seed")
    store.write(mk([(1, "a", "x"), (2, "b2", "x")]), note="k2 changes")
    store.write(mk([(1, "a", "x"), (2, "b2", "x")]), note="no-op")

    out = str(tmp_path / "versions")
    rc = cli.main([
        "scd2", "--store", str(tmp_path / "subjects"),
        "--key", "k", "--attrs", "v", "--out", out,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["versions"] == [1, 2, 3] and rep["attrs"] == ["v"]
    got = {
        (r.k, r.v): (r.valid_from, r.valid_to, r.is_current)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, "a"): (1, None, True),
        (2, "b"): (1, 1, False),
        (2, "b2"): (2, None, True),
    }
    assert rep["version_rows"] == 3 and rep["current_rows"] == 2

    # schema drift across versions is refused, not null-padded
    store.write(
        spark.createDataFrame([(1, "x")], ["k", "note"]), note="drops v"
    )
    rc = cli.main([
        "scd2", "--store", str(tmp_path / "subjects"),
        "--key", "k", "--attrs", "v", "--out", out,
    ])
    assert rc == 2
    assert "lacks column" in capsys.readouterr().err


def test_cli_compact_partitioned_with_verification(spark, tmp_path, capsys):
    """`idhub_spark compact` glues a partitioned small-file layout,
    verifies losslessness via bucket checksums, and reports the file
    accounting as one JSON line (exit 3 is reserved for a
    verification mismatch — unreachable through an honest run, so the
    checksum-divergence mechanics are pinned by the bucket_checksum
    tests instead)."""
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 3).alias("v"),
    )
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df.repartition(5).write.partitionBy("p").parquet(src)
    rc = cli.main([
        "compact", "--src", src, "--dst", dst, "--target-mb", "64",
        "--verify-key", "k", "--verify-cols", "k,v",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["verified"] is True
    assert out["n_source_files"] == 10 and out["n_output_files"] == 2


def test_cli_compact_generic_warns_unused_horizon(spark, tmp_path, capsys):
    """Only the --index/--minhash-index compaction paths carry an
    ingest log, so --ingest-log-horizon-s on the generic path must be
    warned-and-ignored, not silently dropped (the _cmd_dedup_index
    rule; an operator who forgot the mode flag must not believe
    horizon pruning was applied)."""
    src = str(tmp_path / "gsrc")
    dst = str(tmp_path / "gdst")
    spark.range(100).select(F.col("id").alias("k")).repartition(4).write.parquet(
        src
    )
    rc = cli.main([
        "compact", "--src", src, "--dst", dst, "--target-mb", "64",
        "--ingest-log-horizon-s", "60",
    ])
    cap = capsys.readouterr()
    assert rc == 0
    assert "--ingest-log-horizon-s only affects --index/" in cap.err
    assert json.loads(cap.out.strip().splitlines()[-1])["n_output_files"] == 1


def test_cli_compact_index_carries_fits(spark, tmp_path, capsys):
    """`idhub_spark compact --index` must compact an on-disk IVF index
    AND carry its _fits sidecar, so the compacted index answers a
    no-fit-args search (the generic path would strand it)."""
    import os

    from idhub_spark.operators.ann import (
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    vectors = spark.read.parquet(
        os.path.join(
            os.environ.get("IDHUB_TEST_SF_DIR", "/root/testdata/sf0.001"),
            "embeddings.parquet",
        )
    )
    centroids = kmeans_fit(vectors, k=8, max_iter=1)
    bounds = sq8_fit(vectors)
    src = str(tmp_path / "idx")
    dst = str(tmp_path / "idx_packed")
    halves = [vectors.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    ivf_sq8_index_write(halves[0], centroids, bounds, src)
    ivf_sq8_index_append(halves[1], centroids, bounds, src)

    rc = cli.main(["compact", "--src", src, "--dst", dst, "--index"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["n_output_files"] == 8
    got = ivf_sq8_search_index(
        spark, dst, vectors.filter(F.col("vec_id") < 2), k=5, nprobe=2
    )
    assert got.count() == 10


def test_cli_split_cluster_hottest(spark, tmp_path, capsys):
    """`idhub_spark split-cluster` with no --cluster picks the biggest
    cluster, splits it, preserves every row, and reports the layout
    change as one JSON line."""
    import os

    from idhub_spark.operators.ann import (
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    vectors = spark.read.parquet(
        os.path.join(
            os.environ.get("IDHUB_TEST_SF_DIR", "/root/testdata/sf0.001"),
            "embeddings.parquet",
        )
    )
    centroids = kmeans_fit(vectors, k=4, max_iter=1)
    bounds = sq8_fit(vectors)
    idx = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, idx)

    rc = cli.main(["split-cluster", "--index", idx, "--k2", "2"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["rows_preserved"] is True
    assert out["n_clusters"] == 5
    assert out["rows_total"] == vectors.count()
    assert not os.path.isdir(f"{idx}/cluster={out['split_cluster']}")


def test_cli_dedup_index_roundtrip(spark, tmp_path, capsys):
    """dedup-index build -> probe (--out persisted pairs) -> append ->
    totals: the CLI front over operators/dedup_index.py."""
    docs = spark.createDataFrame(
        [
            (i, f"w{i % 7} common text body number {i} tail words here")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    idx = str(tmp_path / "idx")
    rc = cli.main(
        ["dedup-index", "build", "--index", idx, "--docs", src,
         "--pb-buckets", "8", "--db-buckets", "8"]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 40 and rep["pb_buckets"] == 8

    batch = docs.filter(F.col("doc_id") == 7).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    bsrc = str(tmp_path / "batch")
    batch.write.parquet(bsrc)
    pairs_out = str(tmp_path / "pairs")
    rc = cli.main(
        ["dedup-index", "probe", "--index", idx, "--docs", bsrc,
         "--out", pairs_out, "--no-batch-pairs"]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_exact"] >= 1
    assert rep["pairs_by_source"].get("history", 0) >= 1
    got = {(r.new_id, r.dup_id) for r in spark.read.parquet(pairs_out).collect()}
    assert (1007, 7) in got

    rc = cli.main(["dedup-index", "append", "--index", idx, "--docs", bsrc])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # a 1-doc batch buffers into the LSM delta; the reported total is
    # the LOGICAL table (live ∪ delta)
    assert rep["route"] == "delta"
    assert rep["n_docs_total"] == 41

    rc = cli.main(["dedup-index", "stats", "--index", idx])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["docs"]["n_rows"] == 41
    assert rep["params"]["pb_buckets"] == 8
    # the buffer's share OF the totals (r15 fold-cadence signal;
    # n_rows already includes it — live-only = n_rows - delta_rows)
    assert rep["tables"]["docs"]["delta_rows"] == 1
    assert rep["tables"]["docs"]["delta_files"] == 1

    # fold: the buffered append re-lays into the Hive layout in place
    rc = cli.main(["dedup-index", "fold", "--index", idx])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["folded_rows"] == 1
    import os as _os

    assert not _os.path.isdir(f"{idx}/delta")
    rc = cli.main(["dedup-index", "stats", "--index", idx])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["docs"]["n_rows"] == 41  # nothing lost/doubled
    assert rep["tables"]["docs"]["delta_rows"] == 0  # folded away

    # fold exposes --ingest-log-horizon-s (ADVICE r16): <=0 keeps
    # every entry — an aged key survives the keep-all fold and still
    # rejects its retry; the default-horizon fold then prunes it
    from tests.test_dedup_index import _age_entry, _log_entry
    from idhub_spark.commit import batch_key

    b2 = docs.filter(F.col("doc_id") == 9).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text"
    )
    b2src = str(tmp_path / "batch2")
    b2.write.parquet(b2src)
    rc = cli.main(["dedup-index", "append", "--index", idx, "--docs",
                   b2src, "--batch-id", "cli-b2"])
    assert rc == 0
    capsys.readouterr()
    _age_entry(idx, batch_key("cli-b2"), 8 * 24 * 3600 * 1000)
    rc = cli.main(["dedup-index", "fold", "--index", idx,
                   "--ingest-log-horizon-s", "0"])
    assert rc == 0
    capsys.readouterr()
    assert _log_entry(idx, batch_key("cli-b2"))[0] is not None
    rc = cli.main(["dedup-index", "fold", "--index", idx])
    assert rc == 0
    capsys.readouterr()
    assert _log_entry(idx, batch_key("cli-b2"))[0] is None


def test_cli_fsck_honors_ingest_log_horizon(spark, tmp_path, capsys):
    """ADVICE r17: both fsck entry points must honor
    --ingest-log-horizon-s (<=0 -> profile every entry as in-horizon,
    same mapping as fold/compact/merge-cold), so n_past_horizon is
    reported against the operator's REAL horizon instead of the 7-day
    default; and passing the flag with a non-consuming dedup-index
    action warns instead of silently ignoring."""
    import sys as _sys

    from idhub_spark.commit import batch_key
    from tests.test_dedup_index import _age_entry

    docs = spark.createDataFrame(
        [(i, f"fsck horizon body {i} shared tail words") for i in range(12)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_fh")
    docs.write.parquet(src)
    idx = str(tmp_path / "idx_fh")
    assert cli.main(
        ["dedup-index", "build", "--index", idx, "--docs", src,
         "--pb-buckets", "4", "--db-buckets", "4"]
    ) == 0
    batch = docs.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    bsrc = str(tmp_path / "batch_fh")
    batch.write.parquet(bsrc)
    assert cli.main(
        ["dedup-index", "append", "--index", idx, "--docs", bsrc,
         "--batch-id", "fh-1"]
    ) == 0
    capsys.readouterr()
    _age_entry(idx, batch_key("fh-1"), 8 * 24 * 3600 * 1000)  # 8 days

    # default horizon (7 d): the aged entry profiles past it
    assert cli.main(["dedup-index", "fsck", "--index", idx]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ingest_log"]["n_past_horizon"] == 1
    # <=0 -> None: every entry in-horizon (the fold/compact mapping)
    assert cli.main(
        ["dedup-index", "fsck", "--index", idx,
         "--ingest-log-horizon-s", "0"]
    ) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ingest_log"]["n_past_horizon"] == 0
    # a looser explicit horizon (9 d > the entry's 8-day age) flips
    # the past-default-horizon entry back to in-horizon
    assert cli.main(
        ["dedup-index", "fsck", "--index", idx,
         "--ingest-log-horizon-s", str(9 * 24 * 3600)]
    ) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ingest_log"]["n_past_horizon"] == 0

    # non-consuming action: flag warned-and-ignored, run unaffected
    assert cli.main(
        ["dedup-index", "stats", "--index", idx,
         "--ingest-log-horizon-s", "60"]
    ) == 0
    cap = capsys.readouterr()
    assert "--ingest-log-horizon-s only affects fold and fsck" in cap.err
    assert json.loads(cap.out.strip().splitlines()[-1])["tables"]

    # index-fsck: same flag, same mapping, on the IVF twin
    from idhub_spark.operators.ann import (
        ivf_sq8_index_write,
        sq8_fit,
    )
    from tests.test_ann import _merge_fixture

    vectors, centroids = _merge_fixture(spark)
    vidx = str(tmp_path / "ivf_fh")
    bounds = sq8_fit(vectors)
    ivf_sq8_index_write(vectors, centroids, bounds, vidx)
    vbatch = vectors.limit(3).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    from idhub_spark.operators.ann import ivf_sq8_index_append

    assert ivf_sq8_index_append(
        vbatch, centroids, bounds, vidx, batch_id="fh-ivf"
    ) == "appended"
    _age_entry(vidx, batch_key("fh-ivf"), 8 * 24 * 3600 * 1000)
    assert cli.main(["index-fsck", "--index", vidx]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ingest_log"]["n_past_horizon"] == 1
    assert cli.main(
        ["index-fsck", "--index", vidx, "--ingest-log-horizon-s", "0"]
    ) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ingest_log"]["n_past_horizon"] == 0
