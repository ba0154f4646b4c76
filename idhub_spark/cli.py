"""Command-line entry points (the reference ships one main.py per
service; here one CLI fronts the pipelines).

  python -m idhub_spark.cli validate-fragment --input f.csv \
      --mapping m.json --registry registry.parquet --batch-id batch_20260813_x \
      --out staging/
  python -m idhub_spark.cli load-batch --fragment staged.parquet \
      --current table.parquet --table specimen --batch-id b --out table.parquet
  python -m idhub_spark.cli load-batch --fragment staged.parquet \
      --current bucketed_table/ --table specimen --batch-id b \
      --layout bucketed --n-buckets 1024 --approve   # in-place pruned rewrite
  python -m idhub_spark.cli bench

Dry-run is the default for load-batch (the reference's
transaction-rollback default, table-loader/main.py:44-52): pass
--approve to write.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from idhub_spark.config import load_mapping
from idhub_spark.session import get_spark
from idhub_spark.validate import batch_id_valid


def _horizon_kw(args) -> dict:
    """Map --ingest-log-horizon-s to the operator kwarg, one shared
    rule for every consumer (compact / fold / merge-cold / both fscks —
    ADVICE r17: the fscks must honor the same flag so n_past_horizon is
    profiled against the operator's real horizon, not the 7-day
    default): unset -> {} (the function default is the one source of
    truth), <=0 -> None (keep / profile every entry), else the value."""
    if args.ingest_log_horizon_s is None:
        return {}
    return {
        "ingest_log_horizon_s": (
            args.ingest_log_horizon_s
            if args.ingest_log_horizon_s > 0
            else None
        )
    }


def _cmd_validate_fragment(args) -> int:
    from idhub_spark.pipelines.validate_fragment import validate_fragment
    from idhub_spark.sources.files import csv_scan, parquet_scan

    if not batch_id_valid(args.batch_id):
        print(f"invalid batch id: {args.batch_id!r}", file=sys.stderr)
        return 2
    spark = get_spark("validate_fragment")
    fragment = (
        csv_scan(spark, args.input)
        if args.input.endswith(".csv")
        else parquet_scan(spark, args.input)
    )
    registry = parquet_scan(spark, args.registry)
    res = validate_fragment(
        spark,
        fragment,
        load_mapping(args.mapping),
        registry=registry,
        batch_id=args.batch_id,
    )
    print(json.dumps(res.report))
    if res.status != "VALIDATED":
        return 1
    if args.out:
        res.mapped.write.mode("overwrite").parquet(
            f"{args.out}/{args.batch_id}/{res.report['table_name']}"
        )
        res.local_id_records.write.mode("overwrite").parquet(
            f"{args.out}/{args.batch_id}/local_subject_ids"
        )
    return 0


def _cmd_load_batch(args) -> int:
    from idhub_spark.pipelines.load_batch import load_batch
    from idhub_spark.schema import IMMUTABLE_FIELDS, NATURAL_KEYS, UPDATE_STRATEGIES
    from idhub_spark.sources.files import parquet_scan

    spark = get_spark("load_batch")
    fragment = parquet_scan(spark, args.fragment)
    current = parquet_scan(spark, args.current)
    natural_key = NATURAL_KEYS.get(args.table, [fragment.columns[0]])
    resolutions = (
        parquet_scan(spark, args.resolutions) if args.resolutions else None
    )
    if args.layout == "bucketed":
        from pyspark.sql import functions as F

        from idhub_spark.operators.merge_into import bucket_expr, check_layout

        # Validate the layout FIRST: a mismatched --n-buckets would
        # make the pruned stats below silently wrong (existing keys
        # classify 'new') long before the upsert's own guard fires —
        # and before any audit rows land.
        check_layout(
            spark, args.current, n_buckets=args.n_buckets,
            natural_key=natural_key, custom_bucket_of=False,
        )
        # Prune the stats/audit merge to the fragment's touched
        # buckets: classification against the FULL registry would make
        # every bucketed load O(table) instead of O(batch), defeating
        # the layout. Keys outside these buckets cannot match fragment
        # keys (same bucket function), so new/updated/unchanged tallies
        # are identical; 'orphan' becomes slice-bounded (it was never a
        # batch statistic — classify_changes counts the whole registry
        # as orphans for any small fragment).
        if resolutions is None:
            inc_buckets = [
                r[0]
                for r in fragment.select(
                    bucket_expr(natural_key, args.n_buckets).alias("_b")
                )
                .distinct()
                .collect()
            ]
            current = current.filter(F.col("_bucket").isin(inc_buckets)).drop(
                "_bucket"
            )
        else:
            # resolution-driven deletes can hit buckets the fragment
            # doesn't touch: classification must see the full registry
            # for this (rare, human-curated) path, and the physical
            # delete keys flow to partition_pruned_upsert below
            current = current.drop("_bucket")
    elif args.approve and not args.out:
        print("--out is required for --approve with layout=snapshot", file=sys.stderr)
        return 2
    res = load_batch(
        fragment,
        current,
        table_name=args.table,
        batch_id=args.batch_id,
        resolutions=resolutions,
        # evolution is a bucketed-binding capability: P4's drop-unknown
        # default stays unless the operator explicitly asked to widen
        keep_new_columns=(args.layout == "bucketed" and args.evolve == "rewrite"),
    )
    stats = {r["change_type"]: r["n"] for r in
             (row.asDict() for row in res.merge.stats().collect())}
    print(json.dumps({"batch_id": args.batch_id, "table": args.table,
                      "dry_run": not args.approve, "layout": args.layout,
                      "stats": stats}))
    if args.approve:
        if args.audit_out:
            # layout guard (r7 ADVICE): audit stores written by the
            # pre-batch-subdir CLI hold flat parquet files at the
            # root; mixing them with batch=<id> subdirs makes
            # spark.read.parquet(audit_out) fail on conflicting
            # directory structures. Refuse with a migration hint
            # (local-path best-effort; object stores skip the check).
            try:
                legacy = [
                    f
                    for f in os.listdir(args.audit_out)
                    if f.endswith(".parquet") and not f.startswith("_")
                ]
            except OSError:
                legacy = []
            if legacy:
                print(
                    f"audit store at {args.audit_out} holds legacy flat "
                    f"files ({legacy[:3]}...): move them into a "
                    "batch=<id> subdir (their rows carry batch_id) "
                    "before writing new audits here",
                    file=sys.stderr,
                )
                return 2
            # BEFORE any in-place rewrite: the audit lineage reads the
            # pre-write registry files (self-overwrite hazard,
            # operators/merge_into.py two-phase-write note). One
            # OVERWRITTEN subdir per batch id, so a retry after a
            # failed rewrite replaces its own audit rows instead of
            # appending phantom duplicates.
            # subdir key deliberately NOT batch_id= : the audit rows
            # already carry a batch_id data column, and partition
            # inference would collide with it
            res.merge.audit.write.mode("overwrite").parquet(
                f"{args.audit_out.rstrip('/')}/batch={args.batch_id}"
            )
        if args.layout == "bucketed":
            # in-place pruned rewrite of the bucketed table at
            # --current (only the touched key-buckets); --out is
            # ignored in this layout
            from idhub_spark.operators.merge_into import partition_pruned_upsert

            partition_pruned_upsert(
                spark,
                args.current,
                res.incoming,
                natural_key,
                n_buckets=args.n_buckets,
                mode=UPDATE_STRATEGIES.get(args.table, "upsert"),
                immutable=IMMUTABLE_FIELDS.get(args.table, []),
                evolve=args.evolve,
                # resolution-driven deletes reach the disk too — the
                # pruned path only ever inserted/updated before
                delete_keys=res.deleted_keys,
            )
        else:
            from idhub_spark import commit

            tmp = args.out + ".staged"
            res.merge.merged.write.mode("overwrite").parquet(tmp)
            spark.read.parquet(tmp).write.mode("overwrite").parquet(args.out)
            fs, jtmp = commit.hadoop_fs(spark, tmp)
            fs.delete(jtmp, True)
    return 0


def _cmd_scd2(args) -> int:
    """Materialize the SCD Type-2 version view of a SnapshotStore.

    The store's retained versions ARE the per-batch entity images
    scd2_versions consumes (version number = batch sequence), so this
    derives the warehouse-facing type-2 dimension from history the
    engine already keeps — the row-version complement to the
    field-level audit trail (reference data_change_audit,
    01-schema.sql:118-127). valid_from/valid_to are INCLUSIVE version
    numbers; after a vacuum the surviving numbers keep their meaning
    (intervals are in version space, not a dense index).
    """
    from pyspark.sql import functions as F

    from idhub_spark.operators.changes import scd2_versions
    from idhub_spark.schema import NATURAL_KEYS
    from idhub_spark.snapshots import SnapshotStore

    spark = get_spark("scd2")
    store = SnapshotStore(args.store)
    history = sorted(store.versions(), key=lambda e: e["version"])
    if not history:
        print(f"no versions under {args.store}", file=sys.stderr)
        return 2
    key = (
        args.key.split(",")
        if args.key
        else NATURAL_KEYS.get(args.table or "", [])
    )
    if not key:
        print("--key (or a --table with a known natural key) is required",
              file=sys.stderr)
        return 2
    latest = store.read(spark, history[-1]["version"])
    attrs = (
        args.attrs.split(",")
        if args.attrs
        else [c for c in latest.columns if c not in key]
    )
    images = None
    for e in history:
        img = store.read(spark, e["version"])
        missing = [c for c in [*key, *attrs] if c not in img.columns]
        if missing:
            # schema drift across versions: refuse rather than invent
            # nulls that would register as spurious attribute changes
            print(
                f"version {e['version']} lacks column(s) {missing}; pass "
                "--attrs restricted to columns present in every version",
                file=sys.stderr,
            )
            return 2
        img = img.select(*key, *attrs, F.lit(e["version"]).alias("_scd2_seq"))
        images = img if images is None else images.unionByName(img)
    view = scd2_versions(images, key, attrs, seq_col="_scd2_seq")
    view.write.mode("overwrite").parquet(args.out)
    out = spark.read.parquet(args.out)
    print(json.dumps({
        "store": args.store,
        "versions": [e["version"] for e in history],
        "key": key,
        "attrs": attrs,
        "version_rows": out.count(),
        "current_rows": out.filter("is_current").count(),
        "out": args.out,
    }))
    return 0


def _cmd_split_cluster(args) -> int:
    """Maintenance entrypoint for the IVF hot-cluster split: picks the
    biggest cluster from ivf_index_stats unless --cluster is given,
    splits it into --k2 sub-clusters (only that directory is
    rewritten; _fits/centroids refreshed), and reports the before and
    after layout as one JSON line. With --max-share/--max-rows it runs
    the split_hot_clusters POLICY instead: split every cluster above
    the threshold, biggest first, until none remain."""
    from idhub_spark.operators.ann import (
        ivf_index_split_cluster,
        ivf_index_stats,
        split_hot_clusters,
    )

    spark = get_spark("split-cluster")
    if args.max_share is not None or args.max_rows is not None:
        if args.max_share is not None and args.max_rows is not None:
            print("split-cluster: --max-share and --max-rows are "
                  "mutually exclusive", file=sys.stderr)
            return 2
        before = {
            r.cluster: r.n_rows
            for r in ivf_index_stats(spark, args.index).collect()
        }
        new_centroids, report = split_hot_clusters(
            spark,
            args.index,
            max_share=args.max_share,
            max_rows=args.max_rows,
            k2=args.k2,
            max_splits=args.max_splits,
        )
        after = {
            r.cluster: r.n_rows
            for r in ivf_index_stats(spark, args.index).collect()
        }
        print(json.dumps({
            "index": args.index,
            "policy": {
                "max_share": args.max_share,
                "max_rows": args.max_rows,
                "k2": args.k2,
                "max_splits": args.max_splits,
            },
            "splits": report,
            "n_clusters": new_centroids.count(),
            "max_cluster_rows": max(
                (n for c, n in after.items() if c >= 0), default=0
            ),
            "rows_total": after[-1],
            "rows_preserved": after[-1] == before[-1],
        }))
        return 0 if after[-1] == before[-1] else 3
    stats = {
        r.cluster: r.n_rows for r in ivf_index_stats(spark, args.index).collect()
    }
    cluster = args.cluster
    if cluster is None:
        cluster = max((c for c in stats if c >= 0), key=lambda c: stats[c])
    new_centroids = ivf_index_split_cluster(
        spark, args.index, cluster, k2=args.k2
    )
    after = {
        r.cluster: r.n_rows for r in ivf_index_stats(spark, args.index).collect()
    }
    print(json.dumps({
        "index": args.index,
        "split_cluster": cluster,
        "split_rows": stats[cluster],
        "k2": args.k2,
        "n_clusters": new_centroids.count(),
        "rows_total": after[-1],
        "rows_preserved": after[-1] == stats[-1],
    }))
    return 0 if after[-1] == stats[-1] else 3


def _cmd_dedup_index(args) -> int:
    """Maintenance entrypoints for the incremental MinHash dedup index
    (operators/dedup_index.py): build or append persisted per-doc
    state; probe a batch against history and report/persist the
    near-duplicate pairs. One JSON line per invocation."""
    from idhub_spark.operators.dedup_index import (
        _load_params,
        check_buckets,
        minhash_index_append,
        minhash_index_delete,
        minhash_index_fold_delta,
        minhash_index_probe,
        minhash_index_stats,
        minhash_index_write,
    )
    from idhub_spark.sources.files import csv_scan, parquet_scan

    # --ingest-log-horizon-s is parser-shared across every dedup-index
    # action but only fold (prune) and fsck (age profile) consume it;
    # warn instead of silently ignoring so an operator doesn't believe
    # an append/probe/delete/stats run took the horizon into account
    # (ADVICE r17).
    if args.ingest_log_horizon_s is not None and args.action not in (
        "fold",
        "fsck",
    ):
        print(
            "dedup-index: --ingest-log-horizon-s only affects fold and "
            f"fsck; ignored for {args.action!r}",
            file=sys.stderr,
        )
    check_buckets(args.pb_buckets, args.db_buckets)
    spark = get_spark("dedup-index")
    if args.action == "stats":
        # params first: a non-index path gets the clear 'no _params'
        # error instead of a raw scan failure
        n_hashes, bands, pb, db = _load_params(spark, args.index.rstrip("/"))
        rows = minhash_index_stats(spark, args.index).collect()
        print(json.dumps({
            "index": args.index, "action": "stats",
            "params": {"n_hashes": n_hashes, "bands": bands,
                       "pb_buckets": pb, "db_buckets": db},
            "tables": {
                r.tbl: {
                    "n_rows": r.n_rows, "n_files": r.n_files,
                    "n_partitions": r.n_partitions,
                    "delta_rows": r.delta_rows,
                    "delta_files": r.delta_files,
                    "hot_bucket_rows": r.hot_bucket_rows,
                }
                for r in rows
            },
        }))
        return 0
    if args.action == "fsck":
        from idhub_spark.operators.dedup_index import minhash_index_fsck

        rep = minhash_index_fsck(spark, args.index, **_horizon_kw(args))
        print(json.dumps({"index": args.index, "action": "fsck", **rep}))
        # nonzero on findings so cron alerting can key on the exit code
        return 0 if rep["healthy"] else 3
    if args.action == "fold":
        _load_params(spark, args.index.rstrip("/"))  # clear non-index error
        rep = minhash_index_fold_delta(spark, args.index, **_horizon_kw(args))
        print(json.dumps({"index": args.index, "action": "fold", **rep}))
        return 0

    def _read(path):
        return (
            csv_scan(spark, path) if path.endswith(".csv") else parquet_scan(spark, path)
        )

    if not args.docs:
        print("dedup-index: --docs is required for this action",
              file=sys.stderr)
        return 2
    if args.action == "delete":
        ids = _read(args.docs).select(args.id_col)
        rep = minhash_index_delete(
            spark, args.index, ids, id_col=args.id_col
        )
        print(json.dumps({"index": args.index, "action": "delete", **rep}))
        return 0
    if args.action == "build":
        docs = _read(args.docs)
        minhash_index_write(
            docs,
            args.index,
            n_hashes=args.n_hashes,
            bands=args.bands,
            pb_buckets=args.pb_buckets,
            db_buckets=args.db_buckets,
            id_col=args.id_col,
            text_col=args.text_col,
        )
        n = spark.read.parquet(f"{args.index.rstrip('/')}/docs").count()
        print(json.dumps({
            "index": args.index, "action": "build", "n_docs": n,
            "n_hashes": args.n_hashes, "bands": args.bands,
            "pb_buckets": args.pb_buckets, "db_buckets": args.db_buckets,
        }))
        return 0
    if args.action == "append":
        from idhub_spark.operators.dedup_index import _read_state_table

        docs = _read(args.docs)
        route = minhash_index_append(
            docs, args.index, id_col=args.id_col, text_col=args.text_col,
            batch_id=args.batch_id,
        )
        # logical table = live Hive layout ∪ delta buffer (a small
        # batch lands in the delta, so a live-only count misses it)
        n = _read_state_table(spark, args.index.rstrip("/"), "docs").count()
        print(json.dumps({
            "index": args.index, "action": "append", "route": route,
            "n_batch": docs.count(), "n_docs_total": n,
        }))
        return 0
    # probe
    batch = _read(args.docs)
    pairs = minhash_index_probe(
        spark,
        args.index,
        batch,
        threshold_est=args.threshold,
        include_batch_pairs=not args.no_batch_pairs,
        max_bucket_rows=args.max_bucket_rows,
        id_col=args.id_col,
        text_col=args.text_col,
    )
    if args.out:
        pairs.write.mode("overwrite").parquet(args.out)
        pairs = spark.read.parquet(args.out)  # count what was written
    from pyspark.sql import functions as F

    summary = {
        r.dup_source: r.n
        for r in pairs.groupBy("dup_source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_exact = pairs.filter(F.col("est_jaccard") == 1.0).count()
    n_hashes, bands, pb, db = _load_params(spark, args.index.rstrip("/"))
    print(json.dumps({
        "index": args.index, "action": "probe",
        "threshold_est": args.threshold,
        "pairs_by_source": summary, "n_exact": n_exact,
        "params": {"n_hashes": n_hashes, "bands": bands,
                   "pb_buckets": pb, "db_buckets": db},
        "out": args.out,
    }))
    return 0


def _cmd_index_fsck(args) -> int:
    """Read-only IVF index health check (ivf_index_fsck): classifies
    pending stagings, zombie dirs, orphan centroids, ingest-log age —
    zero mutations; one JSON line; exit 3 on findings (cron-friendly)."""
    from idhub_spark.operators.ann import ivf_index_fsck

    spark = get_spark("index-fsck")
    rep = ivf_index_fsck(spark, args.index, **_horizon_kw(args))
    print(json.dumps({"index": args.index, "action": "fsck", **rep}))
    return 0 if rep["healthy"] else 3


def _cmd_adopt_unrouted(args) -> int:
    """Recovery entrypoint for ivf_index_adopt_unrouted: re-home rows
    in cluster dirs absent from the centroid set (zombie dirs no probe
    routes to — legacy staging promotions, restored backups); one JSON
    line."""
    from idhub_spark.operators.ann import ivf_index_adopt_unrouted

    spark = get_spark("adopt-unrouted")
    rep = ivf_index_adopt_unrouted(spark, args.index)
    print(json.dumps(
        {"index": args.index, "action": "adopt_unrouted", **rep}
    ))
    return 0


def _cmd_merge_cold(args) -> int:
    """Maintenance entrypoint for ivf_index_merge_cold_clusters: fold
    every cluster below --min-rows into its members' nearest surviving
    cluster (staged, crash-safe); one JSON line."""
    from idhub_spark.operators.ann import (
        ivf_index_merge_cold_clusters,
        ivf_index_stats,
    )

    spark = get_spark("merge-cold")
    before = {
        r.cluster: r.n_rows
        for r in ivf_index_stats(spark, args.index).collect()
    }
    # same horizon mapping as the compact subcommand (ADVICE r16: the
    # cold-merge prunes the ingest log at the maintenance cadence, so
    # an operator who disabled pruning elsewhere must be able to
    # disable it here)
    cents, rep = ivf_index_merge_cold_clusters(
        spark, args.index, min_rows=args.min_rows, **_horizon_kw(args)
    )
    after = {
        r.cluster: r.n_rows
        for r in ivf_index_stats(spark, args.index).collect()
    }
    print(json.dumps({
        "index": args.index,
        "min_rows": args.min_rows,
        **rep,
        "n_clusters": cents.count(),
        "rows_total": after[-1],
        "rows_preserved": after[-1] == before[-1],
    }))
    return 0 if after[-1] == before[-1] else 3


def _cmd_index_delete(args) -> int:
    """Retract vectors from an on-disk IVF index: only their cluster
    directories are rewritten (emptied ones dropped); one JSON line."""
    from idhub_spark.operators.ann import ivf_index_delete
    from idhub_spark.sources.files import parquet_scan

    spark = get_spark("index-delete")
    if args.ids_path:
        ids = parquet_scan(spark, args.ids_path).select(args.id_col)
    elif args.ids:
        ids = [int(x) for x in args.ids.split(",")]
    else:
        print("index-delete: pass --ids or --ids-path", file=sys.stderr)
        return 2
    rep = ivf_index_delete(spark, args.index, ids, id_col=args.id_col)
    print(json.dumps({"index": args.index, **rep}))
    return 0


def _cmd_compact(args) -> int:
    """Maintenance entrypoint for storage.compact_small_files: the
    incremental sinks (streaming micro-batches, per-batch staging)
    accrete small files; this glues them into ~target-size files per
    leaf directory with zero shuffle, then (optionally) proves the
    copy lossless via order-independent bucket checksums before the
    operator swaps directories. --index uses the IVF-index-aware
    path, which also carries the _fits sidecar so the compacted index
    stays self-contained."""
    from idhub_spark.storage import bucket_checksum, compact_small_files

    spark = get_spark("compact")
    # only pass the horizon when set (the function default is the one
    # source of truth); <=0 means "keep every entry" (horizon None)
    hkw = _horizon_kw(args)
    if args.index:
        from idhub_spark.operators.ann import ivf_index_compact

        n_src, n_out = ivf_index_compact(
            spark, args.src, args.dst,
            target_bytes=args.target_mb * 1024 * 1024, **hkw,
        )
    elif args.minhash_index:
        from idhub_spark.operators.dedup_index import minhash_index_compact

        n_src, n_out = minhash_index_compact(
            spark, args.src, args.dst,
            target_bytes=args.target_mb * 1024 * 1024, **hkw,
        )
    else:
        # only the index-aware paths carry an ingest log; warn instead
        # of silently dropping the flag so an operator who forgot the
        # mode flag doesn't believe horizon pruning was applied (the
        # same warned-not-ignored rule as _cmd_dedup_index's actions)
        if args.ingest_log_horizon_s is not None:
            print(
                "compact: --ingest-log-horizon-s only affects --index/"
                "--minhash-index compaction; ignored for the generic "
                "path",
                file=sys.stderr,
            )
        n_src, n_out = compact_small_files(
            spark, args.src, args.dst, target_bytes=args.target_mb * 1024 * 1024
        )
    verified = None
    if args.verify_key and args.verify_cols:
        cols = args.verify_cols.split(",")
        a = {
            r.bucket: (r.n_rows, r.checksum)
            for r in bucket_checksum(
                spark.read.parquet(args.src), args.verify_key, cols
            ).collect()
        }
        b = {
            r.bucket: (r.n_rows, r.checksum)
            for r in bucket_checksum(
                spark.read.parquet(args.dst), args.verify_key, cols
            ).collect()
        }
        verified = a == b
    print(json.dumps({
        "src": args.src, "dst": args.dst,
        "n_source_files": n_src, "n_output_files": n_out,
        "verified": verified,
    }))
    return 0 if verified in (None, True) else 3


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="idhub_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate-fragment")
    v.add_argument("--input", required=True)
    v.add_argument("--mapping", required=True)
    v.add_argument("--registry", required=True)
    v.add_argument("--batch-id", required=True)
    v.add_argument("--out")
    v.set_defaults(fn=_cmd_validate_fragment)

    l = sub.add_parser("load-batch")
    l.add_argument("--fragment", required=True)
    l.add_argument("--current", required=True)
    l.add_argument("--table", required=True)
    l.add_argument("--batch-id", required=True)
    l.add_argument("--out")
    l.add_argument("--audit-out")
    l.add_argument(
        "--resolutions",
        help="parquet of conflict resolutions; use_incoming/delete_both "
        "rows delete their existing-side match (bucketed layout "
        "deletes on disk via delete_keys)",
    )
    l.add_argument("--approve", action="store_true")
    l.add_argument(
        "--layout",
        choices=["snapshot", "bucketed"],
        default="snapshot",
        help="snapshot: full-image rewrite to --out; bucketed: "
        "in-place pruned rewrite of the bucketed table at --current "
        "(seed it with operators.merge_into.seed_bucketed_table)",
    )
    l.add_argument("--n-buckets", type=int, default=1024)
    l.add_argument(
        "--evolve",
        choices=["reject", "rewrite"],
        default="reject",
        help="bucketed layout only: fragment columns the table lacks "
        "are DROPPED by default (the loader's P4 schema-intersection "
        "parity; 'reject' is what the binding would do if they got "
        "through); 'rewrite' keeps them and widens the whole table "
        "once",
    )
    l.set_defaults(fn=_cmd_load_batch)

    s2 = sub.add_parser(
        "scd2",
        help="materialize the SCD Type-2 version view of a snapshot "
        "store's retained history",
    )
    s2.add_argument("--store", required=True, help="SnapshotStore root")
    s2.add_argument("--out", required=True)
    s2.add_argument("--table", help="defaults --key from the table's natural key")
    s2.add_argument("--key", help="comma-separated natural-key columns")
    s2.add_argument(
        "--attrs",
        help="comma-separated tracked attributes (default: every "
        "non-key column of the latest version)",
    )
    s2.set_defaults(fn=_cmd_scd2)

    c = sub.add_parser(
        "compact",
        help="bin-pack small parquet files (partition-aware, "
        "zero-shuffle) and verify losslessness with bucket checksums",
    )
    c.add_argument("--src", required=True, help="source table root")
    c.add_argument("--dst", required=True, help="compacted output root (must differ)")
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument(
        "--verify-key",
        help="column for the anti-entropy verification buckets; with "
        "--verify-cols, reads both roots back and compares per-bucket "
        "(count, checksum) before reporting success",
    )
    c.add_argument("--verify-cols", help="comma-separated identity+content columns")
    c.add_argument(
        "--index",
        action="store_true",
        help="src is an on-disk IVF index: carry its _fits sidecar to "
        "dst so the compacted index stays self-contained",
    )
    c.add_argument(
        "--minhash-index",
        action="store_true",
        help="src is a MinHash dedup index: carry its _params sidecar "
        "to dst so the compacted index stays self-contained",
    )
    c.add_argument(
        "--ingest-log-horizon-s",
        type=float,
        default=None,
        help="index modes: carry only ingest-log entries younger than "
        "this retry horizon (default 7 days; <=0 keeps every entry). "
        "Set above the orchestrator's maximum retry delay — a retry "
        "arriving after the horizon re-ingests",
    )
    c.set_defaults(fn=_cmd_compact)

    sc = sub.add_parser(
        "split-cluster",
        help="split a hot cluster of an on-disk IVF index into k2 "
        "sub-clusters (only its directory is rewritten)",
    )
    sc.add_argument("--index", required=True, help="index root path")
    sc.add_argument(
        "--cluster",
        type=int,
        help="cluster id to split (default: the biggest by row count)",
    )
    sc.add_argument("--k2", type=int, default=2)
    sc.add_argument(
        "--max-share",
        type=float,
        help="POLICY mode: split every cluster holding more than this "
        "row share, biggest first, until none remain (see "
        "docs/operations.md for the threshold heuristic)",
    )
    sc.add_argument(
        "--max-rows",
        type=int,
        help="POLICY mode: split every cluster above this absolute row "
        "count (mutually exclusive with --max-share)",
    )
    sc.add_argument(
        "--max-splits",
        type=int,
        default=16,
        help="policy-mode runaway guard (default 16 splits per run)",
    )
    sc.set_defaults(fn=_cmd_split_cluster)

    di = sub.add_parser(
        "dedup-index",
        help="incremental MinHash dedup index: build/append persisted "
        "per-doc state, or probe a batch against history",
    )
    di.add_argument(
        "action",
        choices=["build", "append", "probe", "delete", "stats", "fold",
                 "fsck"],
        help="build (overwrite), append a reviewed batch, probe a new "
        "batch for near-duplicates against history, delete (retract) "
        "documents — --docs then carries the id frame — report "
        "index health (stats: rows/files/partitions + hot bucket), "
        "fold the LSM delta buffer into the Hive layout (the minor "
        "compaction; daily cadence — docs/operations.md), or fsck: a "
        "READ-ONLY crash-debris/health classification (zero "
        "mutations, replica-safe; exit 3 on findings)",
    )
    di.add_argument("--index", required=True, help="index root path")
    di.add_argument(
        "--docs",
        help="document frame (parquet dir or .csv) with id/text "
        "columns; required for every action except stats/fold",
    )
    di.add_argument("--id-col", default="doc_id")
    di.add_argument("--text-col", default="text")
    di.add_argument("--n-hashes", type=int, default=16)
    di.add_argument("--bands", type=int, default=4)
    di.add_argument(
        "--pb-buckets", type=int, default=64,
        help="build: band-table partition count, >= 1 (size a few "
        "times the typical batch's band rows — docs/operations.md)",
    )
    di.add_argument("--db-buckets", type=int, default=64,
                    help="build: doc-table partition count, >= 1")
    di.add_argument("--threshold", type=float, default=0.5,
                    help="probe: min est_jaccard to report")
    di.add_argument(
        "--max-bucket-rows", type=int,
        help="probe: stop-bucket guard — exclude band buckets holding "
        "more rows than this from candidate generation (size from "
        "dedup-index stats' hot_bucket_rows; docs/operations.md)",
    )
    di.add_argument("--no-batch-pairs", action="store_true",
                    help="probe: suppress within-batch pairs")
    di.add_argument(
        "--batch-id",
        help="append: idempotency key — a retried append whose key is "
        "already in the ingest log returns route='duplicate' instead "
        "of double-ingesting (exactly-once under at-least-once retry)",
    )
    di.add_argument("--out", help="probe: write the pair relation here")
    di.add_argument(
        "--ingest-log-horizon-s",
        type=float,
        default=None,
        help="fold: prune ingest-log entries older than this retry "
        "horizon at the fold cadence; fsck: profile entry age against "
        "it (default 7 days; <=0 keeps/profiles every entry — match "
        "whatever the compact subcommand uses); warned-and-ignored for "
        "other actions",
    )
    di.set_defaults(fn=_cmd_dedup_index)

    mc = sub.add_parser(
        "merge-cold",
        help="fold every IVF cluster below --min-rows into its "
        "members' nearest surviving cluster (staged, crash-safe)",
    )
    mc.add_argument("--index", required=True, help="index root path")
    mc.add_argument("--min-rows", type=int, required=True)
    mc.add_argument(
        "--ingest-log-horizon-s",
        type=float,
        default=None,
        help="prune ingest-log entries older than this retry horizon "
        "at the merge cadence (default 7 days; <=0 keeps every entry "
        "— match whatever the compact subcommand uses)",
    )
    mc.set_defaults(fn=_cmd_merge_cold)

    ifk = sub.add_parser(
        "index-fsck",
        help="READ-ONLY IVF index health check: pending stagings (with "
        "the action a settle would take), zombie dirs, orphan "
        "centroids, ingest-log age; zero mutations, replica-safe; "
        "exit 3 on findings",
    )
    ifk.add_argument("--index", required=True, help="index root path")
    ifk.add_argument(
        "--ingest-log-horizon-s",
        type=float,
        default=None,
        help="profile ingest-log entry age against this retry horizon "
        "(default 7 days; <=0 profiles every entry as in-horizon) — "
        "match whatever the maintenance subcommands use; informational "
        "only, never flags by itself",
    )
    ifk.set_defaults(fn=_cmd_index_fsck)

    au = sub.add_parser(
        "adopt-unrouted",
        help="re-home IVF rows living in cluster dirs absent from the "
        "centroid set (zombie dirs no probe routes to)",
    )
    au.add_argument("--index", required=True, help="index root path")
    au.set_defaults(fn=_cmd_adopt_unrouted)

    idel = sub.add_parser(
        "index-delete",
        help="retract vectors from an on-disk IVF index (only their "
        "cluster directories are rewritten; emptied ones dropped)",
    )
    idel.add_argument("--index", required=True, help="index root path")
    idel.add_argument("--ids", help="comma-separated integer vector ids")
    idel.add_argument("--ids-path", help="parquet frame of ids")
    idel.add_argument("--id-col", default="vec_id")
    idel.set_defaults(fn=_cmd_index_delete)

    b = sub.add_parser("bench")
    b.set_defaults(fn=lambda a: __import__("bench").main() or 0)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
