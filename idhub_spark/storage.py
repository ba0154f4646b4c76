"""Physical table layout & skew utilities for cluster scale.

The reference leans on Postgres indexes (01-schema.sql:292-343,
including the center-agnostic partial index on
lower(local_subject_id)); at 100 TB the equivalents are layout
decisions made at write time:

- registry tables (subjects, local_subject_ids): hash-bucketed on the
  join key (lower(local_subject_id) / global_subject_id) so the
  identity-resolution join and the MERGE classification co-partition
  without an exchange.
- fact/staging tables: partitioned by batch_id (the unit of load and
  of reprocessing) and sorted within partitions by the natural key so
  min/max row-group stats prune keyed lookups.
- audit: partitioned by date(changed_at) — append-only, time-pruned.

`write_bucketed` / `write_partitioned` apply these; `salted_join`
handles the hot-key case AQE's skew-join can't fix (a single key too
big for one task even after split, e.g. one local_subject_id shared
by millions of records).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idhub_spark import commit


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    num_buckets: int = 256,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Save as a bucketed table: joins/aggs on bucket_cols skip the
    shuffle entirely when both sides share the layout."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: list[str],
    sort_within: list[str] | None = None,
) -> None:
    """Partition-pruned layout (batch_id / date partitions) with
    within-partition sort for row-group min/max pruning."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_staging_csv(
    df: DataFrame,
    staging_root: str,
    *,
    batch_id: str,
    table: str,
    header: bool = True,
    single_file: bool = False,
) -> str:
    """K1: the validated-fragment staging sink — the reference writes
    `staging/validated/{batch_id}/{table}.csv` to S3
    (fragment-validator/services/validator.py:139-145,
    s3_client.py:22-41). Same keys here (local path or s3a://);
    `single_file=True` coalesces to one part for small curated
    fragments (the reference's one-CSV-per-table contract),
    multi-part otherwise so big fragments write in parallel."""
    path = f"{staging_root.rstrip('/')}/staging/validated/{batch_id}/{table}.csv"
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", header).csv(path)
    return path


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the big side gets a random salt in
    [0, salt); the small side is replicated salt times. One hot key
    spreads over `salt` tasks instead of pinning one.

    Use when AQE skew-split is insufficient (single-key hotspots);
    costs a `salt`-fold replication of the small side, so keep it for
    dimension-sized right sides.

    `how` admits only join types where an unmatched SMALL-side row
    never reaches the output: under right/full outer, every replicated
    copy of an unmatched small row would survive — `salt` duplicates
    per missing key. Flip the sides (or de-salt) for those shapes.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "semi",
               "left_semi", "leftsemi", "anti", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}): right/full outer joins would "
            f"emit `salt` copies of every unmatched small-side row; "
            f"use one of {sorted(allowed)}"
        )
    big_s = big.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt")
    small_s = small.select("*", salts)
    joined = big_s.join(small_s, [key, "_salt"], how)
    return joined.drop("_salt")


def size_bucketed_repartition(
    df: DataFrame, size_col, *, target_partitions: int
) -> DataFrame:
    """Range-repartition by a payload-size column so heavy rows (large
    binary media) spread evenly — the multimodal decode partner
    (operators/multimodal.py scale notes)."""
    return df.repartitionByRange(target_partitions, F.col(size_col))


def bucket_checksum(
    df: DataFrame,
    key,
    hash_cols: list[str],
    *,
    n_buckets: int = 64,
    salt: str = "ck",
) -> DataFrame:
    """Per-bucket (n_rows, checksum) summary for anti-entropy table
    comparison — the sync-verification primitive the reference's
    row-by-row reconciliation (LabKey/NocoDB sync reads back whole
    tables to diff them) cannot afford at scale.

    Two replicas of a 100 TB table are compared by exchanging
    n_buckets summary rows each (one aggregation scan per side, no
    row shipping); only buckets whose (count, checksum) differ need
    key-level diffing, and that drill-down reads just the divergent
    buckets. This is the standard Merkle-bucket anti-entropy scheme
    (Dynamo/Cassandra repair — public design), flattened to one
    level.

    The checksum is ORDER-INDEPENDENT (a modular SUM of per-row
    hashes), so replicas may differ in partitioning, file layout, and
    row order. Row hash = 56 bits of md5 over the '|'-joined
    canonical columns; the sum runs in decimal(38,0) (no bigint
    overflow at any realistic bucket size) and is reduced mod 2^62 to
    land in a BIGINT. Callers canonicalize float columns to fixed
    point BEFORE hashing (cross-engine float->string rendering is not
    stable; integer cents are — same discipline as the MERGE
    oracles).

    NULLs are rendered as an explicit sentinel (chr(0) + 'NULL' — a
    value no sane text column contains) BEFORE the join: concat_ws
    alone SKIPS nulls, so ('a', NULL, 'b') and ('a', 'b', NULL) would
    hash identically and a replica divergence consisting only of
    which column is null would be masked. Oracles must mirror the
    same coalesce (replica_divergence / compaction_roundtrip do).

    key: column (or name) the bucket is derived from — must be the
    same on both replicas being compared. hash_cols: string-castable
    columns that define row identity+content.
    """
    from idhub_spark.operators.sampling import hash_bucket

    key_col = F.col(key) if isinstance(key, str) else key
    row_h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                        for c in hash_cols
                    ],
                )
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        df.select(
            hash_bucket(key_col, n_buckets, salt).alias("bucket"),
            row_h.alias("_h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("_h").cast("decimal(38,0)")) % F.lit(2**62))
            .cast("bigint")
            .alias("checksum"),
        )
    )


def compact_small_files(
    spark,
    src_dir: str,
    dst_dir: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Bin-pack a directory of small parquet files into ~target-size
    files; returns (n_source_files, n_output_files).

    The small-files problem is the dominant operational tax of
    incremental ingestion at scale (every streaming/merge micro-batch
    lands a file per partition; a year of 5-minute triggers is 10^5
    files whose open/footer costs dwarf the data). Compaction here is
    a COALESCE, not a repartition: glueing existing partitions
    together moves no rows between executors (zero shuffle — at 100 TB
    a shuffling compactor would be the most expensive job in the
    system), at the cost of not fixing skew (skewed inputs go through
    size_bucketed_repartition instead). File sizes are listed via the
    Hadoop FS API so s3a:// roots work identically
    (commit.hadoop_fs).

    PARTITIONED layouts are handled by recursion: every directory
    level is walked, and each LEAF directory (one Hive partition,
    e.g. `source=web/year=2024/`) is bin-packed independently into
    the mirrored path under dst_dir — still coalesce-only per leaf
    (partition boundaries are never crossed, so compaction stays
    zero-shuffle AND the Hive layout survives: the compacted root
    reads back with identical partition columns). A flat directory is
    simply the single-leaf case (same plan as before). Pointing
    src_dir at a root with NO data files anywhere raises instead of
    silently 'succeeding' on nothing.

    Reference anchor: the reference's staging sink appends one CSV
    per batch (table-loader staging) and never compacts; this is the
    maintenance operator that keeps such a layout readable.
    """
    import math
    import posixpath

    src_n, dst_n = posixpath.normpath(src_dir), posixpath.normpath(dst_dir)
    if (
        dst_n == src_n
        or dst_n.startswith(src_n + "/")
        or src_n.startswith(dst_n + "/")
    ):
        raise ValueError(
            "compact_small_files: dst_dir must be disjoint from src_dir — "
            "a nested dst is written mid-walk and then double-counted by "
            "any read of the src root (and self-overwrite fails mid-job "
            "under dynamic partition overwrite); compact into a sibling "
            "and swap"
        )
    fs, jpath = commit.hadoop_fs(spark, src_dir)

    def leaves(jp, rel):
        files, out = [], []
        for st in fs.listStatus(jp):
            name = st.getPath().getName()
            if st.isFile():
                if not name.startswith(("_", ".")):
                    files.append(st)
            elif not name.startswith(("_", ".")):
                # metadata directories (_spark_metadata from the streaming
                # file sink, checkpoint dirs, .staging) hold files that do
                # NOT start with '_' ('0', '1', '2.compact') — recursing
                # would collect them as a data leaf and fail the compaction
                out.extend(leaves(st.getPath(), f"{rel}/{name}" if rel else name))
        if files:
            out.append((rel, files))
        return out

    groups = leaves(jpath, "")
    if not groups:
        raise ValueError(
            f"compact_small_files: no parquet data files under {src_dir!r} "
            "(empty directory, or a root holding only metadata files)"
        )
    n_src = n_out = 0
    dst_root = dst_dir.rstrip("/")
    for rel, files in groups:
        total = sum(f.getLen() for f in files)
        k = max(1, math.ceil(total / target_bytes))
        dst_leaf = f"{dst_root}/{rel}" if rel else dst_root
        # read the EXPLICIT file list the walker collected, not the leaf
        # directory: a directory read would re-list (trusting whatever
        # metadata/sink-log detection Spark applies — a root carrying
        # _spark_metadata is read through the streaming-sink manifest),
        # while the explicit list is exactly the set being compacted
        paths = [str(f.getPath()) for f in files]
        spark.read.parquet(*paths).coalesce(k).write.mode("overwrite").parquet(
            dst_leaf
        )
        n_src += len(files)
        n_out += k
    return n_src, n_out


def compact_partitioned(
    spark,
    src_dir: str,
    dst_dir: str,
    part_col: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    extra_paths: list[str] | None = None,
) -> tuple[int, int]:
    """Single-JOB compactor for a Hive-partitioned table: one scan +
    one hash-shuffle on the partition column + one partitioned write —
    every partition lands in exactly ceil(partition_bytes/target)
    files (almost always 1). Returns (n_source_files, n_output_files).

    Why it exists next to compact_small_files: the generic compactor
    is zero-shuffle but runs ONE SPARK JOB PER LEAF directory —
    exactly right for flat or few-partition layouts, and a sequential
    driver-round-trip disaster at index scale (the dedup index's
    4096+1024 dirs mean >5000 jobs; measured in the r13 audit smoke,
    the job loop dwarfed the data by orders of magnitude, and a
    realistic 10^5-partition 100 TB layout would make it the slowest
    job in the system). The partitioned layouts this serves (dedup
    band/doc state, IVF codes) are 100-1000x smaller than the corpus
    they index, so ONE bounded shuffle of the state is the right
    trade; k files per partition value fall out of the hash
    repartition for free (all rows of a value land in one task, which
    writes one file per value it holds).

    extra_paths: flat parquet directories whose rows FOLD INTO the
    compacted layout (the dedup index's LSM delta buffer — its rows
    carry part_col as a plain data column, so the same partitioned
    write routes them). Their files count into n_source_files; the
    compacted copy has no delta.

    The partition column is hash-uniform by construction in every
    caller (db/pb are pmod(xxhash64), cluster is kmeans-assigned), so
    the shuffle has no planted skew; a skewed partition would simply
    yield a large (but still single) file, same as the per-leaf
    compactor. Underscore/dot sidecars (_params, _fits, staging) are
    invisible to both the listing and the scan — callers carry them
    explicitly, same contract as compact_small_files."""
    import math
    import posixpath

    src_n, dst_n = posixpath.normpath(src_dir), posixpath.normpath(dst_dir)
    if (
        dst_n == src_n
        or dst_n.startswith(src_n + "/")
        or src_n.startswith(dst_n + "/")
    ):
        raise ValueError(
            "compact_partitioned: dst_dir must be disjoint from src_dir"
        )
    fs, jsrc = commit.hadoop_fs(spark, src_dir)

    def walk(jp):
        for st in fs.listStatus(jp):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isFile():
                yield st
            else:
                yield from walk(st.getPath())

    files = list(walk(jsrc))
    if not files:
        raise ValueError(
            f"compact_partitioned: no data files under {src_dir!r}"
        )
    extra_files = []
    for ep in extra_paths or []:
        ep_n = posixpath.normpath(ep)
        if dst_n == ep_n or dst_n.startswith(ep_n + "/") or ep_n.startswith(
            dst_n + "/"
        ):
            raise ValueError(
                "compact_partitioned: extra_paths must be disjoint from "
                "dst_dir"
            )
        fs_e, jep = commit.hadoop_fs(spark, ep)
        extra_files.extend(
            st
            for st in fs_e.listStatus(jep)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        )
    n_src = len(files) + len(extra_files)
    total = sum(f.getLen() for f in files) + sum(
        f.getLen() for f in extra_files
    )
    # partition values from the directory listing — free, no extra job
    src_parts = commit.partition_values(spark, src_dir, part_col)
    n_parts = len(src_parts)
    if n_parts == 0:
        raise ValueError(
            f"compact_partitioned: {src_dir!r} has no {part_col}= "
            "partition directories — use compact_small_files for flat "
            "layouts"
        )
    k = max(1, math.ceil(total / max(n_parts, 1) / target_bytes))
    df = spark.read.option("basePath", src_dir).parquet(src_dir)
    for ep in extra_paths or []:
        df = df.unionByName(spark.read.parquet(ep))
    if k == 1:
        out = df.repartition(F.col(part_col))
    else:
        # salt from stable row CONTENT, not monotonically_increasing_id
        # (ADVICE r13): a nondeterministic salt re-routes recomputed
        # rows to different reducers on task retry — the repartition-
        # correctness class Spark only guards for round-robin — risking
        # duplicated/lost rows in the compacted copy at scale
        out = df.repartition(
            F.col(part_col),
            F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns if c != part_col]),
                F.lit(k),
            ),
        )
    if not commit.write_partitions(out, dst_dir, part_col):
        # a source of zero-row files only: keep the copy readable too
        commit.write_empty_partition(df, dst_dir, part_col, min(src_parts))
    fs_d, jdst = commit.hadoop_fs(spark, dst_dir)

    def walk_d(jp):
        for st in fs_d.listStatus(jp):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isFile():
                yield st
            else:
                yield from walk_d(st.getPath())

    return n_src, sum(1 for _ in walk_d(jdst))


def zorder_value(
    df: DataFrame, zcols: list[str], *, bits: int = 8
) -> DataFrame:
    """Append a `_z` column interleaving the rank-bucket bits of
    zcols — the Morton (Z-order) curve position used to cluster a
    table for MULTI-dimensional data skipping (the public design
    behind Delta OPTIMIZE ZORDER BY / Databricks 2018 blog; no Delta
    code or jars involved — built from percentile_approx + bit
    expressions).

    A table sorted on one column prunes scans filtering THAT column
    and nothing else; a Z-ordered table interleaves the bit planes of
    several columns so that file-level min/max stats stay tight on
    EVERY zcol at once — each dimension degrades from perfect
    clustering to ~sqrt/ ~n^(1/d) selectivity instead of one
    dimension getting everything and the rest nothing.

    Scale shape: one percentile_approx aggregate per call computes
    2^bits equal-FREQUENCY boundaries per column (equal-frequency,
    not width_bucket's equal-width — skewed columns would otherwise
    collapse into a handful of buckets and lose their bit planes);
    the boundaries come back to the driver as a few-KB literal and
    the per-row bucket id is a fold over that broadcast array —
    whole-stage-codegen arithmetic, no shuffle, no UDF. NULLs take
    bucket 0 (they cluster together at the curve origin, like
    nulls-first in a linear sort).

    zcols must be numeric/date/timestamp (cast to double for
    boundary fitting); bits * len(zcols) must fit a bigint.
    """
    n_cols = len(zcols)
    if not (1 <= n_cols <= 8):
        raise ValueError("zorder_value: 1-8 zcols supported")
    if bits * n_cols > 62:
        raise ValueError(
            f"zorder_value: bits*len(zcols)={bits * n_cols} exceeds bigint"
        )
    n_bounds = (1 << bits) - 1
    qs = [(i + 1) / (n_bounds + 1) for i in range(n_bounds)]

    dtypes = dict(df.dtypes)

    def _num(c):
        # DATE has no direct double cast in Spark; hop through timestamp
        # (seconds since epoch) — monotone, so bucket ranks are unchanged
        if dtypes.get(c) == "date":
            return F.col(c).cast("timestamp").cast("double")
        return F.col(c).cast("double")

    bounds_row = df.agg(
        *[F.percentile_approx(_num(c), qs).alias(c) for c in zcols]
    ).collect()[0]

    z = F.lit(0).cast("bigint")
    for ci, c in enumerate(zcols):
        bounds = sorted(set(bounds_row[c] or []))
        if not bounds:  # all-null column: every row in bucket 0
            continue
        bucket = F.coalesce(
            F.aggregate(
                F.lit(bounds),
                F.lit(0),
                lambda acc, x: acc + F.when(_num(c) >= x, 1).otherwise(0),
            ),
            F.lit(0),
        )
        # interleave: bit b of this column lands at position b*n_cols+ci
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("bigint"),
                b * n_cols + ci,
            )
    return df.withColumn("_z", z)


def zorder_layout(
    df: DataFrame,
    zcols: list[str],
    out_path: str,
    *,
    n_files: int,
    bits: int = 8,
) -> None:
    """Write df as ~n_files parquet files clustered along the Z-order
    curve of zcols: range-repartition on _z (contiguous curve spans
    per file -> tight per-file min/max on every zcol), sort within
    each file for row-group-level skipping, drop the helper column.

    repartitionByRange samples _z to place balanced split points, so
    output files are even-sized regardless of data skew — the same
    write-side discipline as write_partitioned, plus multi-dim
    skipping."""
    zdf = zorder_value(df, zcols, bits=bits)
    (
        zdf.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def file_skipping_stats(
    spark, path: str, col: str, lo, hi
) -> tuple[int, int]:
    """(n_files_total, n_files_a_stats_skipper_must_read) for the
    predicate `col BETWEEN lo AND hi` against a parquet layout —
    a file must be read iff its [min, max] span of `col` overlaps
    the predicate (exactly the footer/manifest min-max test Spark's
    parquet reader applies per row group and table formats apply per
    file). Computed from the data itself via input_file_name(), so it
    measures what the WRITTEN layout makes possible; one scan of the
    audited table (an audit tool, not a hot-path operator)."""
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
    )
    n_total = per_file.count()
    n_read = per_file.filter(
        (F.col("mx") >= F.lit(lo)) & (F.col("mn") <= F.lit(hi))
    ).count()
    return n_total, n_read
