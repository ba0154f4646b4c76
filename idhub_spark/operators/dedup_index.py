"""Persisted MinHash dedup index: dedupe a NEW batch against corpus
HISTORY without recomputing the corpus.

plans/dedup_q.py's minhash_lsh_pairs is batch-global — the right tool
when the whole corpus is in hand. The production cadence is
different: a crawl/ingest batch arrives and must be deduped against
everything already accepted. Recomputing shingles+signatures for a
100 TB history per batch is the dominant cost; this module persists
the per-document MinHash STATE once, so a probe pays for the BATCH's
shingle work plus a PRUNED read of history's two narrow state tables:

  <path>/docs/   (doc_id, sig array<bigint>, n_sh)  — one row per doc,
                 hash-partitioned by db = pmod(xxhash64(doc_id), D)
  <path>/bands/  (band, bkey bigint, doc_id)        — bands rows/doc,
                 hash-partitioned by pb = pmod(bkey, P)

The partition columns make the probe's two history reads prune at the
FILE level (Hive layout → PartitionFilters in the scan, the same
mechanism as the on-disk IVF index): the candidate join can only
match history band rows whose bkey equals a batch bkey, so reading
only the batch's pb partitions is lossless; the estimate join only
needs the matched candidates' doc rows, so reading only their db
partitions is lossless too. Both prune sets are collected as bounded
literals (≤ P and ≤ D values — partition ids, never keys). A batch
touching t of P band partitions reads t/P of history's band files
regardless of history size; state rows are ~(bands+n_hashes)*8 B per
doc — a 100-1000x byte reduction vs the raw text even unpruned.

Why Hive partitioning rather than catalog bucketing
(storage.write_bucketed): bucketBy metadata lives in the session
metastore, but this index is SELF-CONTAINED on a path — the round
driver (and any production reader) opens it from a bare SparkSession
where catalog bucket info would silently vanish and the table would
read as plain parquet. Path-based partition pruning needs no catalog
and shows up verifiably in the executed plan. pb_buckets and
db_buckets are at least 1 (one partition prunes nothing); probe
results are byte-identical at any bucket count (pruning only removes
partitions that cannot join). A table is never left without a data
file: a build of an empty frame, or a delete of every doc, leaves one
zero-row file in one partition, so the index reads back as empty.

Signatures are int64 minima of per-component xxhash64 — 8 bytes per
component vs the 32-byte md5 hex the in-memory path uses (an index
that persists pays for width; the hash family change is a documented
difference, not a drift: both are standard MinHash). Band keys hash
the band's components back through xxhash64. Everything is
deterministic and partitioning-invariant (min over a set).

Probe semantics: candidates = batch bands ⋈ index bands on
(band, bkey), then cross-pair Jaccard is ESTIMATED from signature
component agreement (matching/n_hashes — the classic unbiased MinHash
estimator; var ~ j(1-j)/n_hashes). Exact verification against
history would require storing shingle sets (shingles >> corpus — the
exact thing an index exists to avoid); callers needing exact J on
the survivors re-verify against retained raw text, which the
candidate set has already narrowed to ~pairs.

Scale shape: the candidate join runs batch bands against the PRUNED
history band partitions — Catalyst broadcasts the batch side when it
is small (the common case) and falls back to a shuffle join for bulk
backfills; NO forced hint (the batch side is not bounded by
construction — the r11 broadcast-boundedness rule).

Crash safety: every append and every fold is a commit.StagedCommit
under <path>/_append_staging — the staged tables, then any
_BATCH_<key> / _FOLD_DELTA marker, then _COMMITTED last. The staging
is complete iff _COMMITTED exists: the next entry point applies a
committed staging (FS-renames its files into the live layout —
append-only, each file lives in exactly one place, so the apply is
idempotent and rows are never duplicated) and discards an uncommitted
one. Every delete is a StagedCommit under <path>/_delete_staging whose
apply renames staged partition dirs over their live twins
(minhash_index_delete). A full rebuild (minhash_index_write) deletes
_params FIRST and creates it LAST, so a crashed rebuild raises 'no
_params' on the next probe instead of serving a half-old, half-new
index. Reference
anchor: the reference has no dedup at all — this extends
plans/dedup_q.py's training-data operators to the incremental regime.

LSM delta buffer (r14 — the fix for the r13 audit's append finding):
a DIRECT append creates ~min(batch_band_rows, pb) +
min(batch_docs, db) staged files and renames each into the Hive
layout, a fixed file-op term (~47-84 s/append at pb=4096/db=1024 on
the audit host) that dominates small-batch cadence REGARDLESS of
batch bytes — and on object storage every rename is a copy. Small
appends therefore land as ONE file per state table under
<path>/delta/{docs,bands} (partition ids attached as plain DATA
columns), making a small append's file ops O(1). Every reader
composes the live Hive layout with the delta: probes and deletes
read bands ∪ delta and docs ∪ delta with the SAME bounded prune
applied to both sides (PartitionFilters on the Hive side, a row
filter on the tiny delta), so results are byte-identical to the
folded layout by construction. minhash_index_delete rewrites the
delta tables alongside the pruned partitions; minhash_index_compact
FOLDS the delta into the partitioned layout (the LSM MAJOR
compaction — the compacted copy has no delta), and
minhash_index_fold_delta is the MINOR compaction (flush): it re-lays
only the buffer's rows into the Hive layout at I/O ∝ delta bytes,
history untouched — the cadence operation that bounds the buffer's
probe tax between majors. Append mode is 'auto' by default:
batches under direct_min_docs (default 32·(pb+db) — ≥~32 rows per
file the direct path would create) buffer into the delta, larger
batches take the direct partition-rename path whose per-file cost
they amortize. The delta stays small by construction (compaction
cadence folds it), so the probe's extra scan is one tiny file per
small append since the last compaction.

Single-writer assumption: maintenance entry points (append, delete,
compact) assume ONE writer at a time — the staging/settle protocol
makes crashes of that single writer resumable, not concurrent
writers safe. Read-only entry points (probe, stats) settle pending
staging BEST-EFFORT: losing a settle race to a concurrent writer, or
probing from a read-only replica, degrades to a warning + a read of
the live files only (ADVICE r13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idhub_spark import commit

_STAGING = "_append_staging"
_DELTA = "delta"
_FOLD = "_FOLD_DELTA"
_DELETE_STAGING = "_delete_staging"


def _doc_state(
    docs: DataFrame,
    *,
    n_hashes: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-doc MinHash state (doc_id, sig array<bigint>, n_sh) — a
    pure per-row projection, ZERO shuffles (r19 optimization).

    The r18 shape (word_shingles -> distinct -> groupBy(doc_id) with
    n_hashes mins) paid two exchanges per invocation — a distinct over
    the exploded shingle rows and the signature aggregation — and a
    second scan of the input for the short-doc fallback union. But the
    shingle SET of one document is a per-row value: build it as an
    array column (array_distinct over the word-3-gram transform, the
    whole trimmed text for docs under 3 words) and take each signature
    component as array_min(transform(shset, s -> xxhash64(i, s))).
    min over a set is duplicate- and order-insensitive, so the values
    are bit-identical to the aggregated form; n_sh is the distinct
    count either way. Same hash evaluations per (doc, shingle), no
    exchange, one scan (plan + A/B value pins:
    tests/test_dedup_index.py::test_doc_state_plan_shape_and_ab_values).

    The two explode(array(...)) Generates are 1-row:1-row barriers
    that materialize the split array and the shingle set as real
    attributes — without them CollapseProject inlines the split into
    every shingle lookup and the shingle build into every one of the
    n_hashes array_mins (the word_shingles quadratic-replan trap;
    subexpression elimination does not reach into lambda bodies).

    Short-doc fallback: word-3-gram shingling emits nothing for
    documents under 3 words, which would silently exclude them from
    the index AND from probes — an exact copy of a short doc would
    never be detected. Such docs contribute their whole (trimmed) text
    as a single shingle instead: exact copies still collide on every
    band deterministically; near-dup sensitivity for them degenerates
    to exact match, which is the honest best available without
    n-grams. NULL-text docs are excluded entirely (the pre-r19
    behavior: neither shingle branch emitted a row for them).

    doc_ids are assumed unique across the input (the module-level
    ingest discipline); the old groupBy coincidentally merged
    duplicate ids, this form emits one row per input row.

    Memory envelope: one document's shingle SET now lives in a single
    row value (the exploded form streamed it) — per-task memory is
    bounded by the largest document's shingle bytes (~3x its text).
    Ingest-size discipline already caps documents well under row
    limits (the doc_chunking operator is the pressure valve for
    outliers); a corpus of multi-GB single documents should chunk
    before indexing.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).filter(F.col("text").isNotNull())
    ws_row = base.select(
        "doc_id",
        "text",
        F.explode(F.array(F.split("text", " "))).alias("ws"),
    )
    shset = F.array_distinct(
        F.when(
            F.size("ws") >= 3,
            F.expr(
                "transform(sequence(0, size(ws)-3), "
                "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
            ),
        ).otherwise(F.array(F.trim(F.col("text"))))
    )
    st = ws_row.select("doc_id", F.explode(F.array(shset)).alias("shs"))
    # ONE F.expr for the whole signature array: building the n_hashes
    # array_min(transform(...)) columns through the Python DSL costs
    # hundreds of Py4J round-trips per call (~0.5 s of pure driver
    # time, x7 calls per cadence-query run — measured); the SQL string
    # is a single JVM-side parse. xxhash64(<int literal>, s) types the
    # seed exactly like F.lit(i), so values are bit-identical
    # (A/B-pinned in tests/test_dedup_index.py::
    # test_doc_state_plan_shape_and_ab_values).
    sig = (
        "array("
        + ", ".join(
            f"array_min(transform(shs, s -> xxhash64({i}, s)))"
            for i in range(n_hashes)
        )
        + ")"
    )
    return st.select(
        "doc_id",
        F.expr(sig).alias("sig"),
        F.size("shs").cast("bigint").alias("n_sh"),
    )


def _bands_from_state(state: DataFrame, *, n_hashes: int, bands: int) -> DataFrame:
    """Band rows (doc_id, band, bkey) derived from the sig ARRAY — a
    pure projection over the (checkpointed) per-doc state, so deriving
    the second table never re-runs the shingle aggregation or touches
    history."""
    rows = n_hashes // bands
    if rows * bands != n_hashes:
        raise ValueError("n_hashes must be divisible by bands")
    # one explode(array(struct...)) instead of a `bands`-way union
    # (r19): the union re-scanned the (checkpointed) state once per
    # band and scheduled a taskset per branch; the Generate emits the
    # same rows in one pass. Built as ONE SQL string — the Python DSL
    # pays a Py4J round-trip per expression node (the _doc_state
    # measurement). `<int> as band` types the literal exactly like
    # F.lit(bi).
    structs = ", ".join(
        "struct({bi} as band, xxhash64({comps}) as bkey)".format(
            bi=bi,
            comps=", ".join(
                f"element_at(sig, {bi * rows + r + 1})" for r in range(rows)
            ),
        )
        for bi in range(bands)
    )
    return state.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("_b")
    ).select("doc_id", "_b.band", "_b.bkey")


# The build parameters live in ONE empty marker file,
# _params/_META.<n_hashes>.<bands>.<pb>.<db>: the index's only
# parameter record and its build's commit marker (deleted first,
# created last). Loading it is one globStatus RPC, no Spark job; the
# metadata-in-the-filename discipline of the ingest log's
# <key>.<accept_ms> entries (storage-independent, no stream reads).
_PARAMS_META = "_META"


def check_buckets(pb_buckets: int, db_buckets: int) -> None:
    """The index has one layout: both tables hash-partitioned, at least
    one partition each."""
    if pb_buckets < 1 or db_buckets < 1:
        raise ValueError(
            "minhash index: pb_buckets and db_buckets must be >= 1 (one "
            f"partition prunes nothing); got pb={pb_buckets}, db={db_buckets}"
        )


def _write_params(spark, root: str, vals: tuple[int, int, int, int]) -> None:
    """Replace root's _params with the one marker for vals (written last
    by every build and compact)."""
    name = ".".join(str(int(v)) for v in vals)
    fs, jp = commit.hadoop_fs(spark, f"{root}/_params")
    fs.delete(jp, True)
    fs.create(commit.hadoop_fs(spark, f"{root}/_params/{_PARAMS_META}.{name}")[1],
              True).close()


def _load_params(spark, root: str) -> tuple[int, int, int, int]:
    """(n_hashes, bands, pb_buckets, db_buckets) from the one _params
    marker; raises unless exactly one well-formed marker exists."""
    fs, jglob = commit.hadoop_fs(
        spark, f"{commit.glob_escape(root.rstrip('/'))}/_params/{_PARAMS_META}.*"
    )
    matches = list(fs.globStatus(jglob) or [])
    if not matches:
        raise ValueError(
            f"minhash index at {root!r} has no _params — not an index, "
            "or a rebuild crashed mid-write (rerun minhash_index_write)"
        )
    names = sorted(m.getPath().getName() for m in matches)
    parts = names[0].split(".")[1:]
    if len(names) != 1 or len(parts) != 4 or not all(
        p.lstrip("-").isdigit() for p in parts
    ):
        raise ValueError(
            f"minhash index at {root!r}: _params must hold exactly one "
            f"{_PARAMS_META}.<n_hashes>.<bands>.<pb>.<db> marker, found "
            f"{names} (rerun minhash_index_write)"
        )
    n_hashes, bands, pb, db = (int(p) for p in parts)
    check_buckets(pb, db)
    return n_hashes, bands, pb, db


def _tables(
    state: DataFrame, *, n_hashes: int, bands: int, pb_buckets: int, db_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """The index's two tables for one batch's state, with their
    partition columns attached. Both derive from the same
    (checkpointed) state — one shingle pass per batch, no history
    read (the r11 append re-scanned history's docs table to re-derive
    the batch's bands; deriving from the live state makes append I/O
    strictly ∝ batch)."""
    docs_df = state.withColumn(
        "db", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(db_buckets))
    )
    bands_df = _bands_from_state(
        state, n_hashes=n_hashes, bands=bands
    ).withColumn("pb", F.pmod(F.col("bkey"), F.lit(pb_buckets)))
    return docs_df, bands_df


def _write_table(df: DataFrame, path: str, part_col: str) -> None:
    """One file per touched partition (pre-write repartition by the
    partition column — the IVF index writer's file-count discipline),
    Hive layout for PartitionFilters pruning. A write that lands no
    partition (an empty build) leaves one zero-row file under
    <part_col>=0, so the table reads back as empty."""
    if not commit.write_partitions(df.repartition(F.col(part_col)), path, part_col):
        commit.write_empty_partition(df, path, part_col, 0)


def _par_jobs(*thunks) -> None:
    """Run INDEPENDENT Spark actions concurrently from driver threads
    (r19 — the optimization guide's job-overlap pattern): the index's
    docs and bands tables derive from the same checkpointed state and
    land under different paths, so writing them sequentially leaves
    the cluster idle through each job's scheduling tail. Job
    descriptions/groups are thread-local and Py4J allocates one
    gateway connection per thread, so a plain pool is safe; every
    thunk is awaited and the first exception re-raises BEFORE the
    caller proceeds to its commit marker — every table is staged, then
    marked."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        for f in futures:
            f.result()


def _append_commit(spark, root: str) -> commit.StagedCommit:
    """The staging every append and fold commits through."""
    return commit.StagedCommit(spark, root, _STAGING)


def _promote_staging(spark, root: str) -> None:
    """Apply step of a committed append/fold staging: rename its files
    into the live layout (docs/bands partition trees, or the delta/
    subtree of a buffered append). A fold staging (_FOLD_DELTA marker)
    holds the delta's rows re-laid-out, so the delta dir is deleted
    after the renames. Both steps are idempotent."""
    staging = f"{root}/{_STAGING}"
    for table in ("docs", "bands", _DELTA):
        commit.move_tree(spark, f"{staging}/{table}", f"{root}/{table}")
    if _append_commit(spark, root).exists(_FOLD):
        fs, jdelta = commit.hadoop_fs(spark, f"{root}/{_DELTA}")
        fs.delete(jdelta, True)


def _delete_commit(spark, root: str) -> commit.StagedCommit:
    """The staging every delete commits through: the survivor images of
    the tables it rewrites plus the _emptied record (paths relative to
    root) of the partitions, or the whole delta buffer, it empties."""
    return commit.StagedCommit(spark, root, _DELETE_STAGING, record="_emptied")


# the tables a delete stages, with their partition columns (the delta
# tables are flat)
_DELETE_TABLES = {"bands": "pb", "docs": "db", f"{_DELTA}/bands": None,
                  f"{_DELTA}/docs": None}


def _recover(spark, root: str, *, best_effort: bool = False) -> None:
    """Entry settle of every dedup-index operation: a pending delete
    first, then the append/fold staging — creation order, since every
    entry point settles before it stages, so a pending delete predates
    any other staging. best_effort: read-only entry points warn and
    read live files only."""
    dele = _delete_commit(spark, root)
    dele.settle(lambda: dele.promote(_DELETE_TABLES), best_effort=best_effort)
    _append_commit(spark, root).settle(
        lambda: _promote_staging(spark, root), best_effort=best_effort
    )


def _read_state_table(
    spark,
    root: str,
    table: str,
    *,
    prune_col: str | None = None,
    prune_vals: list | None = None,
) -> DataFrame:
    """The LOGICAL image of one state table: live Hive layout ∪ delta
    buffer, with the same bounded prune applied to both sides — a
    PartitionFilter on the live side (file-level pruning), a row
    filter on the delta (one tiny file per buffered append, where the
    partition id is a plain column). Lossless by the same argument as
    the live prune: a row whose pb/db is outside the batch's set
    cannot join. Every reader goes through here so bands∪delta is
    byte-equivalent to the folded layout by construction."""

    def read(p):
        df = spark.read.parquet(p)
        return df if prune_col is None else df.filter(F.col(prune_col).isin(prune_vals))

    df = read(f"{root}/{table}")
    delta = f"{root}/{_DELTA}/{table}"
    fs, jd = commit.hadoop_fs(spark, delta)
    if fs.exists(jd):
        df = df.unionByName(read(delta))
    return df


def minhash_index_write(
    docs: DataFrame,
    path: str,
    *,
    n_hashes: int = 16,
    bands: int = 4,
    pb_buckets: int = 64,
    db_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the MinHash dedup index for a document frame and
    record its build parameters under <path>/_params (underscore dir —
    invisible to data scans, same convention as the ANN _fits): band
    keys are positional functions of (n_hashes, bands) and the
    partition layout of (pb_buckets, db_buckets), so a probe built
    with different parameters would silently find NOTHING; append and
    probe read the stored parameters instead of trusting the caller.
    _params doubles as the build's COMMIT marker (deleted first,
    created last), so a crashed rebuild raises on the next use
    instead of serving a half-written index. pb_buckets and db_buckets
    below 1 raise ValueError. doc_ids are assumed
    unique across the index's lifetime (the ingest key discipline
    every upsert in this engine already follows).

    A rebuild also clears any leftover _append_staging/_delete_staging
    FIRST: a staging committed against the OLD build's
    parameters (possibly different n_hashes/bands/pb/db) must never be
    promoted into the new index — the next append's resume would mix
    signature lengths and partition layouts, silently breaking probes
    and the lossless-pruning invariant. The old staging's batch was
    part of the old index generation; the rebuild's input corpus is
    the new truth."""
    check_buckets(pb_buckets, db_buckets)
    root = path.rstrip("/")
    spark = docs.sparkSession
    fs, _ = commit.hadoop_fs(spark, root)
    # _params (the commit marker) goes first; the delta buffer belongs
    # to the OLD generation too: its rows carry the old parameters'
    # signatures, and docs/bands overwrite writes would never touch the
    # sibling delta dir; the ingest log likewise (its batch ids name
    # batches of the old corpus — a post-rebuild retry of one is a NEW
    # ingest decision)
    for stale in ("_params", _STAGING, _DELETE_STAGING, _DELTA, commit.INGEST_LOG):
        _, jst = commit.hadoop_fs(spark, f"{root}/{stale}")
        if fs.exists(jst):
            fs.delete(jst, True)
    # LAZY persist instead of an eager checkpoint job (r20): the two
    # overlapped table writes below are the state's first actions — the
    # first write job computes each partition into the cache, the
    # second blocks on the per-partition cache lock and reads it, so
    # the state is still computed exactly once and the standalone
    # materialization job disappears (guide §1.2 — one fewer pass).
    state = _doc_state(
        docs, n_hashes=n_hashes, id_col=id_col, text_col=text_col
    ).persist()
    docs_df, bands_df = _tables(
        state,
        n_hashes=n_hashes,
        bands=bands,
        pb_buckets=pb_buckets,
        db_buckets=db_buckets,
    )
    _par_jobs(
        lambda: _write_table(docs_df, f"{root}/docs", "db"),
        lambda: _write_table(bands_df, f"{root}/bands", "pb"),
    )
    state.unpersist()
    _write_params(spark, root, (n_hashes, bands, pb_buckets, db_buckets))


def minhash_index_append(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "auto",
    direct_min_docs: int | None = None,
    batch_id: str | None = None,
) -> str:
    """Accept a batch INTO the index (after its probe survived review):
    I/O strictly ∝ batch (the batch's state is checkpointed once and
    both tables derive from it — history is never read), build
    parameters from the index itself, crash-safe via the staged
    commit.StagedCommit (see module docstring). Existing files
    are never rewritten — promotion RENAMES the batch's files into
    the live layout. Returns the route taken ('direct' | 'delta' |
    'empty') so callers/audits can assert placement.

    Routing (r14 — the fix for the r13 audit's append finding): a
    DIRECT append creates ~min(batch_band_rows, pb_buckets) +
    min(batch_docs, db_buckets) files — one per touched partition —
    a fixed file-op term that dominated small-batch cadence (~70 s
    per append at pb=4096 on the audit host REGARDLESS of batch
    bytes). mode='auto' (default) therefore routes batches smaller
    than direct_min_docs into the LSM DELTA BUFFER: one coalesced
    file per state table under <root>/delta, O(1) file ops, same
    staged-marker crash protocol (the staging carries a delta/
    subtree instead of partition trees). direct_min_docs defaults to
    32·(pb_buckets+db_buckets) — the point where the direct path
    writes ≥~32 rows per file it creates. mode='delta'/'direct' force
    a route. Probes/deletes read
    bands ∪ delta, so placement never changes results;
    minhash_index_compact folds the delta back into the layout.

    batch_id (r15) — EXACTLY-ONCE ingest under at-least-once retries.
    Without it, a retry of an append that crashed AFTER its staging
    committed silently double-ingests: the retry's entry settle
    promotes the staged batch, then the retry appends the same docs
    again — violating the doc_ids-unique-for-life discipline with no
    error. With a caller idempotency key, promotion records
    <root>/_ingest_log/<sha256(batch_id)>.<accept_ms> (accept time in
    the name — storage-independent age) within the staged commit (the
    log entry exists iff the batch's rows are fully live), and an
    append whose key
    is already logged returns 'duplicate' without reading the batch.
    The log is one empty marker file per batch (pure file-existence
    metadata, invisible to scans); minhash_index_compact carries it
    to the compacted copy, a rebuild clears it with the rest of the
    old generation. Returns the route taken
    ('direct' | 'delta' | 'empty' | 'duplicate')."""
    if mode not in ("auto", "delta", "direct"):
        raise ValueError(f"minhash_index_append: unknown mode {mode!r}")
    root = path.rstrip("/")
    spark = docs.sparkSession
    n_hashes, bands, pb_buckets, db_buckets = _load_params(spark, root)
    _recover(spark, root)

    if batch_id is not None and commit.ingest_log_has(
        spark, root, commit.batch_key(batch_id)
    ):
        return "duplicate"

    staging = f"{root}/{_STAGING}"
    # lazy persist + count = ONE materialization job (r20; was an eager
    # checkpoint job AND a count job). The count doubles as the routing
    # input and the empty-batch guard (an all-null/empty batch returns
    # 'empty' without staging anything).
    state = _doc_state(
        docs, n_hashes=n_hashes, id_col=id_col, text_col=text_col
    ).persist()
    n_docs = state.count()
    if n_docs == 0:
        state.unpersist()
        return "empty"
    if mode == "auto":
        if direct_min_docs is None:
            direct_min_docs = 32 * (pb_buckets + db_buckets)
        route = "delta" if n_docs < direct_min_docs else "direct"
    else:
        route = mode
    docs_df, bands_df = _tables(
        state,
        n_hashes=n_hashes,
        bands=bands,
        pb_buckets=pb_buckets,
        db_buckets=db_buckets,
    )
    if route == "delta":
        # partition ids stay as plain data columns; one file per table
        # (state is cached by the count above, so coalesce(1) is a
        # single JVM task over materialized blocks — not the
        # Python-sequential trap literal_frame exists for)
        _par_jobs(
            lambda: docs_df.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{staging}/{_DELTA}/docs"),
            lambda: bands_df.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{staging}/{_DELTA}/bands"),
        )
    else:
        _par_jobs(
            lambda: _write_table(docs_df, f"{staging}/docs", "db"),
            lambda: _write_table(bands_df, f"{staging}/bands", "pb"),
        )
    state.unpersist()
    sc = _append_commit(spark, root)
    sc.commit(batch_id=batch_id)
    sc.settle(lambda: _promote_staging(spark, root))
    return route


def minhash_index_fold_delta(
    spark,
    path: str,
    *,
    ingest_log_horizon_s: float | None = commit.INGEST_LOG_HORIZON_S,
) -> dict:
    """MINOR compaction — the LSM flush: re-lay ONLY the delta
    buffer's rows into the partitioned Hive layout (one file per
    touched partition, the direct-append shape) and drop the buffer.
    I/O ∝ delta bytes — at production scale this is the cadence
    operation that bounds the buffer's probe tax WITHOUT the full
    compactor's rewrite of the entire state (minhash_index_compact
    remains the MAJOR compaction: it glues a year of append debris
    AND folds the delta, but reads and rewrites everything).

    Protocol: the buffered rows are staged in the direct layout and
    committed with the _FOLD_DELTA marker; the apply step renames the
    staged files in and — because of the marker — deletes the delta
    dir. The entry settle first finishes any committed delete, so the
    buffer read here is whole. Every crash point resumes through the
    ordinary settle (the staged files and the
    delta never hold a row visible TWICE except in the narrow
    half-promoted window, which only a failed best-effort settle on a
    concurrent read-only replica could observe — the single-writer
    assumption covers writers). An empty or absent buffer is a no-op.

    Cost shape (measured, scale_audit_r14.md §4): the fold pays the
    direct path's rename-per-file promotion ONCE for the whole buffer
    — capped at ~min(buffer_band_rows, pb) + min(buffer_docs, db)
    renames per fold instead of per append (4 buffered 1k-doc appends
    + one fold ≈ 94 s vs ~216 s direct, and the cap means 40 appends
    still fold in the same ~90-120 s). Against the MAJOR compactor
    the trade is byte-volume: at harness state sizes the single-job
    full rewrite is cheaper (35 s at 2M — the state is only ~100 MB),
    but compact rewrites the ENTIRE state while fold writes only the
    delta, so fold wins exactly when state_bytes >> delta_bytes — the
    production regime a 100 TB corpus index lives in.

    Returns {"folded_rows", "files_written"}."""
    root = path.rstrip("/")
    _load_params(spark, root)  # the clear error on a non-index path
    _recover(spark, root)
    # the fold IS the maintenance cadence, so it also bounds the
    # ingest log (retention rationale at commit.INGEST_LOG_HORIZON_S)
    # — runs even when the buffer turns out empty below
    commit.prune_ingest_log(spark, root, ingest_log_horizon_s)
    fs, jdelta = commit.hadoop_fs(spark, f"{root}/{_DELTA}")
    if not fs.exists(jdelta):
        return {"folded_rows": 0, "files_written": 0}
    staging = f"{root}/{_STAGING}"
    # lazy persist + count = one materialization job (r20); the cached
    # image also pins the pre-fold file snapshot the staged write reads
    docs_df = spark.read.parquet(f"{root}/{_DELTA}/docs").persist()
    bands_df = spark.read.parquet(f"{root}/{_DELTA}/bands")
    n_rows = docs_df.count()
    _par_jobs(
        lambda: _write_table(docs_df, f"{staging}/docs", "db"),
        lambda: _write_table(bands_df, f"{staging}/bands", "pb"),
    )
    docs_df.unpersist()

    def _count_staged(jp):
        n = 0
        for st in fs.listStatus(jp):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            n += 1 if st.isFile() else _count_staged(st.getPath())
        return n

    files_written = sum(
        _count_staged(commit.hadoop_fs(spark, f"{staging}/{t}")[1])
        for t in ("docs", "bands")
    )
    sc = _append_commit(spark, root)
    sc.commit(markers=(_FOLD,))
    sc.settle(lambda: _promote_staging(spark, root))
    return {"folded_rows": int(n_rows), "files_written": int(files_written)}


def minhash_index_probe(
    spark,
    path: str,
    batch: DataFrame,
    *,
    threshold_est: float = 0.5,
    include_batch_pairs: bool = True,
    max_bucket_rows: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs of a NEW batch against the persisted index
    (and, by default, within the batch itself) WITHOUT touching
    history's raw text: (new_id, dup_id, est_jaccard, dup_source) with
    dup_source 'history' | 'batch' and est_jaccard the signature-
    agreement estimate, filtered at threshold_est. Build parameters
    come from the index's own _params (band keys are positional
    functions of them — a mismatched probe would silently find
    nothing, so the caller is not trusted with them).

    Cost shape: the batch computes its own shingle state ONCE (the
    state is cached; every downstream job reuses it); history
    contributes only (a) the band partitions whose pb matches a batch
    band key — lossless pruning, since the candidate join requires
    bkey equality — and (b) the doc partitions whose db matches a
    matched candidate — lossless for the same reason. Both prune sets
    are bounded literal lists of PARTITION ids (≤ pb_buckets /
    ≤ db_buckets values), so file-level PartitionFilters do the work;
    a batch touching t of P band partitions reads t/P of history's
    band files at ANY history size. The returned frame is
    deterministic and byte-identical at any bucket count.

    Bulk-backfill caveat: the candidate set is cached (executor
    memory/disk, ∝ matched candidates) to derive the doc-partition
    prune set without recomputing the join — right for the
    ingest-batch cadence this index serves; a backfill the size of
    history touches every bucket anyway, so the prune saves nothing
    there (docs/operations.md sizing note).

    max_bucket_rows — the STOP-BUCKET guard, minhash_index_stats'
    hot-bucket finding turned into an action (the stop-shingle idea
    at index level): band buckets holding MORE than this many rows
    are excluded from candidate generation on the side they're hot
    in. Boilerplate/templated corpora collapse onto few band keys —
    one bucket with 10^5 history rows makes EVERY colliding batch doc
    emit 10^5 candidate pairs and turns the estimate join into an
    all-pairs blowup. The recall trade is explicit and bounded: a
    TRUE near-dup pair is only lost if every one of its `bands`
    agreeing bands is a stop bucket, and exact copies of
    non-boilerplate docs keep all their buckets. Size it from
    minhash_index_stats' hot_bucket_rows (set the cap well above the
    corpus's organic duplicate-group size, below the boilerplate
    blob). Bucket sizes are counted per side over the PRUNED rows —
    one extra aggregate whose shuffle carries one row per surviving
    (band, bkey), never per doc.

    Like every other entry point, the probe first settles any pending
    staging: between a crash mid-promotion and the
    next append, half the batch's files are live and half staged — a
    promoted band row whose doc row is still staged would silently
    drop its pair in the estimate join. The settle is two fs.exists
    calls when no staging exists."""
    root = path.rstrip("/")
    n_hashes, bands, pb_buckets, db_buckets = _load_params(spark, root)
    _recover(spark, root, best_effort=True)
    # LAZY persist (r20): the pb prune-set collect below is the state's
    # first action and materializes it into the cache in the SAME job —
    # the standalone eager-checkpoint job is gone. Every downstream
    # consumer still computes the batch's shingle state exactly once,
    # from the cache.
    b_state = _doc_state(
        batch, n_hashes=n_hashes, id_col=id_col, text_col=text_col
    ).persist()
    b_bands = _bands_from_state(b_state, n_hashes=n_hashes, bands=bands)

    def _drop_hot(bands_df):
        if max_bucket_rows is None:
            return bands_df
        ok = (
            bands_df.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_rows)
            .select("band", "bkey")
        )
        return bands_df.join(ok, ["band", "bkey"], "semi")

    pbs = [
        r.pb
        for r in b_bands.select(
            F.pmod(F.col("bkey"), F.lit(pb_buckets)).alias("pb")
        )
        .distinct()
        .collect()
    ]
    # live Hive layout ∪ delta buffer, same bounded prune on both
    idx_bands = _read_state_table(
        spark, root, "bands", prune_col="pb", prune_vals=pbs
    )
    idx_bands = _drop_hot(idx_bands.select("band", "bkey", "doc_id"))

    est = (
        F.aggregate(
            F.zip_with(
                "sig", "dup_sig", lambda a, b: (a == b).cast("int")
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.lit(float(n_hashes))
    )

    def scored(cand, dup_state, source):
        return (
            cand.join(b_state.select("doc_id", "sig"), cand["new_id"] == F.col("doc_id"))
            .drop("doc_id")
            .join(
                dup_state.select(
                    F.col("doc_id").alias("_did"), F.col("sig").alias("dup_sig")
                ),
                cand["dup_id"] == F.col("_did"),
            )
            .select(
                "new_id",
                "dup_id",
                est.alias("est_jaccard"),
                F.lit(source).alias("dup_source"),
            )
            .filter(F.col("est_jaccard") >= threshold_est)
        )

    hist_cand = (
        b_bands.join(idx_bands.alias("i"), ["band", "bkey"])
        .select(
            b_bands["doc_id"].alias("new_id"), F.col("i.doc_id").alias("dup_id")
        )
        .distinct()
    )
    # the estimate join needs only matched candidates' doc rows; their
    # db partitions are a bounded literal set (≤ db_buckets ids). LAZY
    # persist + collect (r20): the prune-set collect is the candidate
    # join's first action and caches it in the same job (was an eager
    # checkpoint job + a collect job), so the estimate join still never
    # re-runs the candidate join.
    hist_cand = hist_cand.persist()
    dbs = [
        r.db
        for r in hist_cand.select(
            F.pmod(F.xxhash64(F.col("dup_id")), F.lit(db_buckets)).alias("db")
        )
        .distinct()
        .collect()
    ]
    idx_docs = _read_state_table(
        spark, root, "docs", prune_col="db", prune_vals=dbs
    ).select("doc_id", "sig", "n_sh")

    out = scored(hist_cand, idx_docs, "history")
    if include_batch_pairs:
        safe_bands = _drop_hot(b_bands)
        a, b = safe_bands.alias("a"), safe_bands.alias("b")
        batch_cand = (
            a.join(b, ["band", "bkey"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("dup_id")
            )
            .distinct()
        )
        out = out.unionByName(scored(batch_cand, b_state, "batch"))
    return out


def minhash_index_stats(spark, path: str) -> DataFrame:
    """Operational health of a persisted dedup index — the
    ivf_index_stats twin: one row per state table with
    (tbl, n_rows, n_files, n_partitions, delta_rows, delta_files,
    hot_bucket_rows).

    delta_rows/delta_files are the LSM buffer's share OF the totals —
    n_rows/n_files count the LOGICAL table (live ∪ delta), so the
    buffer is INCLUDED in them; live-only counts are n_rows -
    delta_rows / n_files - delta_files, never live + delta (that
    double-counts — ADVICE r15). The breakdown is the fold-cadence
    signal: every probe reads the WHOLE buffer (row filter, no
    partition pruning), so its cost term grows with delta_files; fold
    when they cross the operations-doc threshold (docs/operations.md,
    numbers in docs/scale_audit_r15.md). Derived from the same scan
    via the _d flag — no extra job.

    hot_bucket_rows (bands row only) is the largest (band, bkey)
    bucket — THE candidate-join cost signal: a probe that hits a hot
    bucket pairs against every doc in it, so a bucket holding 10^5
    docs makes any colliding batch row emit 10^5 candidates (the
    stop-shingle phenomenon at index scale: templated/boilerplate
    documents collapse onto few band keys). The fix is upstream
    (boilerplate stripping, or raising bands/rows so templated docs
    stop colliding) — this report is what tells an operator it's
    needed, and its aggregate shuffles one row per (band, bkey), not
    per doc. n_partitions counts the Hive layout's directories that
    hold rows; n_rows/n_files/hot_bucket_rows cover the LOGICAL
    table (live ∪ delta buffer — the delta is unpartitioned by
    design, so its rows never count as partitions) from the same
    single scan per table. Settles any pending staging first,
    BEST-EFFORT (read-only entry point), so the counts never read the
    single writer's half-applied commit."""
    root = path.rstrip("/")
    _recover(spark, root, best_effort=True)
    rows = []
    for tbl, part_col, bucket_cols in (
        ("docs", "db", None),
        ("bands", "pb", ["band", "bkey"]),
    ):
        def sel(frame, is_delta):
            return frame.select(
                F.input_file_name().alias("_f"),
                F.col(part_col).alias("_p"),
                F.lit(is_delta).alias("_d"),
                *(bucket_cols or []),
            )

        agg = sel(spark.read.parquet(f"{root}/{tbl}"), False)
        delta = f"{root}/{_DELTA}/{tbl}"
        fs, jd = commit.hadoop_fs(spark, delta)
        if fs.exists(jd):
            agg = agg.unionByName(sel(spark.read.parquet(delta), True))
        base = agg.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("_f").alias("n_files"),
            # countDistinct skips nulls: delta rows (whose _p is a data
            # column, not a directory) never count
            F.countDistinct(F.when(~F.col("_d"), F.col("_p"))).alias(
                "n_partitions"
            ),
            F.count(F.when(F.col("_d"), F.lit(1))).alias("delta_rows"),
            F.countDistinct(F.when(F.col("_d"), F.col("_f"))).alias(
                "delta_files"
            ),
        )
        if bucket_cols:
            hot = (
                agg.groupBy(*bucket_cols)
                .agg(F.count(F.lit(1)).alias("_n"))
                .agg(F.coalesce(F.max("_n"), F.lit(0)).alias("hot_bucket_rows"))
            )
            base = base.crossJoin(hot)
        else:
            base = base.withColumn("hot_bucket_rows", F.lit(None).cast("bigint"))
        rows.append(base.select(F.lit(tbl).alias("tbl"), "*"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("tbl")


def minhash_index_delete(
    spark,
    path: str,
    ids: DataFrame | list,
    *,
    id_col: str = "doc_id",
) -> dict:
    """Retract documents from the index (takedown/expiry/GDPR path):
    rewrite ONLY the partitions that can hold their state, leave every
    other file untouched.

    Pruning needs no index scan to FIND the work: a doc's db partition
    is pmod(xxhash64(doc_id), D) — computable from the ids alone — and
    its band partitions derive from its stored sig (a projection over
    the db-pruned doomed rows).

    The delta buffer is a third retraction surface: a doomed doc
    accepted since the last fold lives in <root>/delta, not the Hive
    layout, so BOTH delta tables are anti-joined whenever the buffer
    holds doomed rows (one small file each); a buffer the delete
    empties is dropped whole.

    Protocol: one commit.StagedCommit under <path>/_delete_staging. The
    surviving image of every table the delete touches — the pruned
    bands and docs partitions and both delta tables, all derived from
    the pre-delete state — is staged concurrently, then the _emptied
    record (the partitions, or the buffer, left with no rows), then
    _COMMITTED. The apply step (StagedCommit.promote) renames each
    staged dir over its live twin and drops the emptied ones; a delete
    of every doc leaves one zero-row file per table
    (StagedCommit.stage_partitions), so the index reads back as empty.
    A crash
    before the commit retracts nothing: the next entry point discards
    the staging and the caller retries the takedown. A crash after it
    is finished by the next entry point's settle.

    Returns {"rows_deleted", "docs_partitions_rewritten",
    "bands_partitions_rewritten", "delta_rows_deleted"} (rows_deleted
    counts live + delta)."""
    from idhub_spark.session import literal_frame

    root = path.rstrip("/")
    n_hashes, bands, pb_buckets, db_buckets = _load_params(spark, root)
    # settle every pending staging first: a retract that scans only the
    # live files while a committed batch sits staged would miss its
    # rows — the doomed-doc scan must see every accepted document
    _recover(spark, root)
    if isinstance(ids, DataFrame):
        # materialize the retraction set ONCE: it feeds the db prune
        # collect, the doomed semi-join, the delta semi count and all
        # four anti-join images, each of which would re-run the
        # caller's id lineage (scan + distinct exchange) otherwise.
        # Bounded by the takedown list by construction. LAZY persist:
        # the db prune collect is its first action and caches it in the
        # same job.
        ids_df = (
            ids.select(F.col(id_col).alias("doc_id"))
            .distinct()
            .persist()
        )
    else:
        if not ids:
            raise ValueError("minhash_index_delete: empty id list")
        dtype = "bigint" if all(isinstance(i, int) for i in ids) else "string"
        ids_df = literal_frame(
            spark, [(i,) for i in ids], f"doc_id {dtype}"
        ).distinct()
    held = [ids_df]  # every frame this delete persists, released on exit
    try:
        return _delete_ids(
            spark, root, ids_df, held,
            n_hashes=n_hashes, bands=bands, pb_buckets=pb_buckets,
            db_buckets=db_buckets,
        )
    finally:
        for df in held:
            df.unpersist()


def _delete_ids(
    spark, root: str, ids_df: DataFrame, held: list, *,
    n_hashes: int, bands: int, pb_buckets: int, db_buckets: int,
) -> dict:
    """minhash_index_delete's body over the materialized id set."""
    sc = _delete_commit(spark, root)
    fs, _ = commit.hadoop_fs(spark, root)

    def _pruned(table, part_col, parts):
        return spark.read.parquet(f"{root}/{table}").filter(
            F.col(part_col).isin(parts)
        )

    def _stage_delta(table):
        """Stage one delta table's survivors as one file. The docs leg
        reads its survivor count off the staged write's Observation
        (it fires even at zero rows for this flat coalesce(1) shape,
        unlike a partitioned write): zero survivors records the whole
        buffer as emptied — docs and bands empty together, since every
        buffered doc has its band rows in the same buffer. The metric
        is read via the non-blocking getOrEmpty with a read-back count
        as the fallback, so a plan shape that pruned the metrics could
        never hang the delete."""
        from pyspark.sql import Observation

        surv = spark.read.parquet(f"{root}/{_DELTA}/{table}").join(
            ids_df, "doc_id", "anti"
        )
        st = f"{sc.path}/{_DELTA}/{table}"
        if table == "bands":
            surv.coalesce(1).write.mode("overwrite").parquet(st)
            return
        obs = Observation()
        (
            surv.observe(obs, F.count(F.lit(1)).alias("n"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(st)
        )
        try:
            observed = not obs._jo.getOrEmpty().isEmpty()
        except Exception:  # private handle absent: take the read-back
            observed = False
        n_surv = (
            int(obs.get["n"]) if observed else spark.read.parquet(st).count()
        )
        if n_surv == 0:
            sc.emptied.append(_DELTA)

    dbs = [
        r.db
        for r in ids_df.select(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(db_buckets)).alias("db")
        )
        .distinct()
        .collect()
    ]
    docs_tbl = _pruned("docs", "db", dbs)
    # live and delta doomed counted separately: the live count drives
    # the pb prune set (delta docs' bands live in the delta, never in
    # the Hive layout — appends write both tables to one place), the
    # sum is the logical retraction count.
    doomed = docs_tbl.join(ids_df, "doc_id", "semi").persist()
    held.append(doomed)
    res: dict = {}

    def _doomed_stats():
        # ONE job: materializes `doomed` into the cache AND returns the
        # live doomed count plus the pb prune set. Each doomed doc row
        # emits exactly `bands` band rows (explode of a bands-element
        # array literal over a non-null sig), so the doomed row count
        # is nb / bands EXACTLY — duplicate doc_ids included.
        row = (
            _bands_from_state(
                doomed.select("doc_id", "sig", "n_sh"),
                n_hashes=n_hashes,
                bands=bands,
            )
            .agg(
                F.count(F.lit(1)).alias("nb"),
                F.collect_set(F.pmod(F.col("bkey"), F.lit(pb_buckets))).alias(
                    "pbs"
                ),
            )
            .first()
        )
        res["rows_live"] = int(row.nb) // bands
        res["pbs"] = sorted(int(p) for p in row.pbs)

    def _delta_doomed():
        if not fs.exists(commit.hadoop_fs(spark, f"{root}/{_DELTA}/docs")[1]):
            res["rows_delta"] = 0
            return
        dd = spark.read.parquet(f"{root}/{_DELTA}/docs").filter(
            F.col("db").isin(dbs)
        )
        res["rows_delta"] = int(dd.join(ids_df, "doc_id", "semi").count())

    # the two doomed scans touch disjoint surfaces (pruned live docs vs
    # the tiny delta) — overlap them on driver threads
    _par_jobs(_doomed_stats, _delta_doomed)
    rows_live = res["rows_live"]
    rows_delta = res["rows_delta"]
    pbs = res["pbs"]
    # every image derives from the pre-delete state, so the four stage
    # concurrently; a layer with no doomed rows is skipped
    jobs = []
    if rows_live:
        bands_tbl = _pruned("bands", "pb", pbs)
        jobs += [
            lambda: sc.stage_partitions(
                bands_tbl.join(ids_df, "doc_id", "anti").repartition(F.col("pb")),
                "bands", "pb", pbs,
            ),
            lambda: sc.stage_partitions(
                docs_tbl.join(ids_df, "doc_id", "anti").repartition(F.col("db")),
                "docs", "db", dbs,
            ),
        ]
    if rows_delta:
        jobs += [lambda: _stage_delta("bands"), lambda: _stage_delta("docs")]
    if jobs:
        _par_jobs(*jobs)
        if _DELTA in sc.emptied:
            fs.delete(commit.hadoop_fs(spark, f"{sc.path}/{_DELTA}")[1], True)
        sc.write_record(sc.emptied)
        sc.commit()
        sc.settle(lambda: sc.promote(_DELETE_TABLES))
    return {
        "rows_deleted": int(rows_live + rows_delta),
        "docs_partitions_rewritten": len(dbs) if rows_live else 0,
        "bands_partitions_rewritten": len(pbs) if rows_live else 0,
        "delta_rows_deleted": int(rows_delta),
    }


def minhash_index_compact(
    spark,
    src_path: str,
    dst_path: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    ingest_log_horizon_s: float | None = commit.INGEST_LOG_HORIZON_S,
) -> tuple[int, int]:
    """Compact a dedup index's append debris AND carry its _params to
    the compacted copy — ivf_index_compact's twin. Every append lands
    one file per touched partition, so a year of batch cadence is
    10^4-10^5 small files per table.

    Each table goes through storage.compact_partitioned — one scan +
    one hash-shuffle on its partition column + one partitioned write,
    ~1 file per partition — because the generic per-leaf compactor's
    job-per-directory loop is the dominant cost at this layout's
    4096+1024 dirs (>5000 sequential driver round-trips; measured,
    r13 audit) and the state tables are 100-1000x
    smaller than the corpus, so one bounded shuffle is the right
    trade. Settles any pending staging on the SOURCE first: a
    committed but unapplied batch lives under an '_'-dir the compactor
    skips, so it would silently be LEFT OUT of the compacted copy, and a committed but unapplied delete would carry
    its retracted rows into it.

    Compaction is also the LSM MERGE (r14): a delta buffer on the
    source FOLDS into the compacted layout — its rows carry the
    partition ids as data columns, so the single-job engine routes
    them through the same hash-shuffle (extra_paths) and the
    compacted copy has NO delta dir; probes against it read the Hive
    layout alone. Delta files count as source files. Returns summed
    (n_source_files, n_output_files)."""
    from idhub_spark.storage import compact_partitioned

    src = src_path.rstrip("/")
    dst = dst_path.rstrip("/")
    _recover(spark, src)
    n_hashes, bands, pb_buckets, db_buckets = _load_params(spark, src)
    fs, _ = commit.hadoop_fs(spark, src)
    n_src = n_out = 0
    for table, part_col in (("docs", "db"), ("bands", "pb")):
        delta_tbl = f"{src}/{_DELTA}/{table}"
        has_delta = fs.exists(commit.hadoop_fs(spark, delta_tbl)[1])
        s, o = compact_partitioned(
            spark,
            f"{src}/{table}",
            f"{dst}/{table}",
            part_col,
            target_bytes=target_bytes,
            extra_paths=[delta_tbl] if has_delta else [],
        )
        n_src += s
        n_out += o
    _write_params(spark, dst, (n_hashes, bands, pb_buckets, db_buckets))
    # the compacted copy holds the same accepted batches: their
    # in-horizon keys must keep rejecting retries
    commit.carry_ingest_log(spark, src, dst, ingest_log_horizon_s)
    return n_src, n_out


def minhash_index_fsck(
    spark,
    path: str,
    *,
    ingest_log_horizon_s: float | None = commit.INGEST_LOG_HORIZON_S,
) -> dict:
    """READ-ONLY health check of a persisted dedup index — the
    diagnosis half of every settle/maintenance surface, with zero
    mutations (safe on a read-only replica, safe WHILE the single
    writer runs, safe in cron alerting). Where the settle functions
    resolve crash debris, fsck only CLASSIFIES it: each pending state
    is reported with the action the next writer-entry settle would
    take, so an operator can decide to trigger one (any write entry
    point, or stats for best-effort) with full knowledge.

    Returns {"healthy", "findings": [str...], "pending_append_staging",
    "pending_delete_staging", "delta": {present, files}, "ingest_log",
    "duplicate_doc_ids", "params"}. healthy == no findings;
    informational rows (prunable ingest entries, buffered delta files)
    never flag by themselves. duplicate_doc_ids counts ids holding more
    than one docs row across live ∪ delta — one bounded aggregate, the
    only Spark job fsck runs besides reading a committed staging's
    _emptied record.

    Each staging's state and settle action come from
    commit.StagedCommit.report() — the same state() the settle acts on
    (uncommitted -> discard, committed -> apply, unreadable -> the
    settle raises). A pending delete reports the dirs it empties."""
    root = path.rstrip("/")
    # raises the clear no-_params error on a non-index path
    n_hashes, bands, pb_buckets, db_buckets = _load_params(spark, root)
    fs, _ = commit.hadoop_fs(spark, root)
    findings: list[str] = []

    append_state = None
    with commit.fsck_guard(findings, "append staging"):
        sc = _append_commit(spark, root)
        append_state = sc.report(findings)
        if append_state is not None:
            append_state["is_fold"] = sc.exists(_FOLD)

    delete_state = None
    with commit.fsck_guard(findings, "delete staging"):
        delete_state = _delete_commit(spark, root).report(findings)

    jdelta = commit.hadoop_fs(spark, f"{root}/{_DELTA}")[1]
    delta_info = {"present": False, "files": 0}
    with commit.fsck_guard(findings, "delta buffer"):
        if fs.exists(jdelta):
            n = 0
            for table in ("docs", "bands"):
                jt = commit.hadoop_fs(spark, f"{root}/{_DELTA}/{table}")[1]
                if fs.exists(jt):
                    n += sum(
                        1
                        for st in fs.listStatus(jt)
                        if not st.getPath().getName().startswith(("_", "."))
                    )
            delta_info = {"present": True, "files": n}

    log_report = None
    with commit.fsck_guard(findings, "ingest log"):
        log_report = commit.ingest_log_report(spark, root, ingest_log_horizon_s)

    # duplicate doc_ids (VERDICT/ADVICE r19): the r19 per-row _doc_state
    # emits one index row per input row where the old groupBy
    # coincidentally merged duplicate ids — the module-level ingest
    # discipline keeps ids unique, but nothing enforced it, so a dirty
    # ingest now silently yields duplicate docs rows. fsck is the cheap
    # guard: one aggregate over the LOGICAL docs table (live ∪ delta),
    # no hot-path cost. Non-zero flags the index unhealthy (the fix is
    # a retract-and-reingest of the offending ids, or a rebuild).
    dup_doc_ids = None
    with commit.fsck_guard(findings, "docs table (duplicate-id check)"):
        dup_doc_ids = int(
            _read_state_table(spark, root, "docs")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .count()
        )
        if dup_doc_ids:
            findings.append(
                f"{dup_doc_ids} doc_id(s) hold more than one docs row — "
                "the ingest discipline was violated (probes will report "
                "duplicate pairs for them); retract and reingest the "
                "offending ids, or rebuild"
            )

    return {
        "healthy": not findings,
        "findings": findings,
        "pending_append_staging": append_state,
        "pending_delete_staging": delete_state,
        "delta": delta_info,
        "ingest_log": log_report,
        "duplicate_doc_ids": dup_doc_ids,
        "params": {
            "n_hashes": n_hashes,
            "bands": bands,
            "pb_buckets": pb_buckets,
            "db_buckets": db_buckets,
        },
    }
