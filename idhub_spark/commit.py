"""Staged commits for the on-disk indexes (dedup and IVF), plus the
Hadoop-FS helpers and the ingest log they share.

Every index mutation that must survive a driver crash follows ONE rule:
the writer stages its output under an underscore directory
(<root>/<name>, invisible to every data scan), writes any
_BATCH_<key> / _FOLD_DELTA markers, and writes _COMMITTED LAST. A
staging is complete if and only if _COMMITTED exists. The next entry
point settles it:

  absent       nothing to do;
  uncommitted  the writer died before committing — nothing was applied,
               delete the staging;
  committed    run the caller's apply step (idempotent: every file or
               directory moves by one rename and lives in exactly one
               place), record the staging's ingest-log entries, then
               delete the staging;
  unreadable   committed, but the record the apply step needs cannot be
               read — raise and leave the staging for inspection.

Because the apply step runs only after _COMMITTED and is idempotent, a
crash at any point of it is finished by the next settle, and the
ingest-log entry of a batch exists iff the batch's rows are fully live.
The fscks classify with the same state() the settle acts on.

Appends apply by moving files (move_tree). Rewrites of existing
partitions (deletes, the pruned upsert) stage through
StagedCommit.stage_partitions and apply by moving directories
(StagedCommit.promote): the staged image of each touched partition
replaces its live twin, so no table is ever written twice or over the
path its own plan reads.

No partitioned table is ever left without a data file: a write or a
rewrite that would leave none lands one zero-row file carrying the
schema in one partition (write_empty_partition), so an emptied table
reads back as empty instead of failing schema inference.

Engine modules call hadoop_fs through this module's attribute
(commit.hadoop_fs), so a test can inject filesystem faults in one place.
"""

from __future__ import annotations

import contextlib
import hashlib
import logging
import time

log = logging.getLogger("idhub_spark")

COMMITTED = "_COMMITTED"
_BATCH = "_BATCH_"

ABSENT = "absent"
UNCOMMITTED = "uncommitted"
COMMITTED_STATE = "committed"
UNREADABLE = "unreadable"
SETTLE_ACTION = {
    UNCOMMITTED: "discard",
    COMMITTED_STATE: "apply",
    UNREADABLE: "raise (manual inspection — the commit's record is unreadable)",
}


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for `path`, resolved through the session's
    Hadoop configuration — storage-independent (local, HDFS, s3a)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


# Hadoop glob metacharacters (org.apache.hadoop.fs.GlobPattern);
# backslash included so literal backslashes are escaped too
_GLOB_SPECIALS = "\\*?[]{}"


def glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters so a literal path can
    be embedded in a globStatus pattern (the Globber unescapes while
    matching)."""
    return "".join(("\\" + ch) if ch in _GLOB_SPECIALS else ch for ch in path)


def move_tree(spark, src: str, dst: str) -> int:
    """Rename every data file under src into the mirrored path under dst,
    creating directories as needed; names starting with '_' or '.' are
    skipped. Files are never overwritten or copied, so an interrupted
    move resumes idempotently. Every rename's return is checked: a
    false return raises with the remaining files still staged. An
    absent src moves nothing. Returns the number of files moved.

    The renames run on a driver thread pool: on object stores and remote
    HDFS each rename is a network round-trip that releases the GIL."""
    from concurrent.futures import ThreadPoolExecutor

    fs, jsrc = hadoop_fs(spark, src)
    if not fs.exists(jsrc):
        return 0
    pairs = []

    def walk(s: str, d: str) -> None:
        for st in fs.listStatus(hadoop_fs(spark, s)[1]):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isFile():
                pairs.append((st.getPath(), d, f"{d}/{name}", f"{s}/{name}"))
            else:
                walk(f"{s}/{name}", f"{d}/{name}")

    walk(src, dst)
    for d in sorted({p[1] for p in pairs}):
        fs.mkdirs(hadoop_fs(spark, d)[1])

    def _rename(pair):
        jsrc_file, _, dst_file, src_file = pair
        if not fs.rename(jsrc_file, hadoop_fs(spark, dst_file)[1]):
            raise RuntimeError(
                f"staged commit: rename failed for {src_file} -> {dst_file}; "
                "staging left in place for resume"
            )

    with ThreadPoolExecutor(max_workers=16) as ex:
        list(ex.map(_rename, pairs))
    return len(pairs)


_SMALL_PARQUET_FILE = "part-00000-driver.snappy.parquet"


def write_small_parquet(spark, dir_path: str, rows: list[tuple], schema: str) -> None:
    """Land a tiny parquet directory without a Spark job: the bytes are
    built driver-side with pyarrow ('int' -> int32, 'bigint'/'long' ->
    int64, 'string' -> string, the types a Spark write produces) and
    streamed through the Hadoop FileSystem API. The directory is
    cleared first; the file is streamed to a dot-prefixed temporary
    name (invisible to parquet readers) and renamed into place, so a
    failed write never leaves a readable part file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_types = {"int": pa.int32(), "bigint": pa.int64(), "long": pa.int64(),
                "string": pa.string()}
    fields = [f.strip().rsplit(" ", 1) for f in schema.split(",")]
    table = pa.table(
        {
            name.strip(): pa.array(
                [row[i] if typ == "string" else int(row[i]) for row in rows],
                pa_types[typ],
            )
            for i, (name, typ) in enumerate(fields)
        }
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    data = sink.getvalue().to_pybytes()

    d = dir_path.rstrip("/")
    fs, jdir = hadoop_fs(spark, d)
    if fs.exists(jdir):
        fs.delete(jdir, True)
    _, jtmp = hadoop_fs(spark, f"{d}/.{_SMALL_PARQUET_FILE}.tmp")
    out = fs.create(jtmp, True)
    try:
        out.write(data)
    finally:
        out.close()
    if not fs.rename(jtmp, hadoop_fs(spark, f"{d}/{_SMALL_PARQUET_FILE}")[1]):
        raise RuntimeError(f"write_small_parquet: could not rename into {d}")


def write_partitions(df, path: str, part_col: str) -> set[str]:
    """Overwrite `path` with df partitioned by part_col and return the
    part_col values that landed, as directory-name strings, from one
    listStatus: no Spark job, and correct at zero rows, where an
    Observation on the write never fires."""
    df.write.mode("overwrite").partitionBy(part_col).parquet(path)
    return partition_values(df.sparkSession, path, part_col)


def partition_values(spark, path: str, part_col: str) -> set[str]:
    """part_col values of path's <part_col>=<v> directories, as
    directory-name strings; one listStatus."""
    fs, jp = hadoop_fs(spark, path)
    pfx = f"{part_col}="
    return {
        n[len(pfx):]
        for n in (st.getPath().getName() for st in fs.listStatus(jp))
        if n.startswith(pfx)
    }


def write_empty_partition(df, path: str, part_col: str, value) -> None:
    """One zero-row parquet file carrying df's schema (part_col aside)
    under <path>/<part_col>=<value>. range(0) keeps the frame
    JVM-literal; repartition(1) forces one footer-bearing file."""
    from pyspark.sql import functions as F

    df.sparkSession.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in df.schema.fields if f.name != part_col]
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/{part_col}={value}")


# ---------------------------------------------------------------------------
# Ingest log: <root>/_ingest_log/<key>.<accept_ms>, one empty file per
# accepted batch. The accept time lives in the NAME (mtimes are not
# preserved by object stores), so the retention clock survives copies.
# ---------------------------------------------------------------------------

INGEST_LOG = "_ingest_log"
# Exactly-once needs the log to cover the caller's at-least-once retry
# window only; entries older than this are pruned at the maintenance
# cadence (dedup fold/compact, IVF merge-cold/compact), which bounds the
# log at batch_rate x horizon entries (docs/operations.md §ingest-log).
INGEST_LOG_HORIZON_S = 7 * 24 * 3600.0


def batch_key(batch_id: str) -> str:
    """Filesystem-safe ingest-log key for a caller batch id (hashed —
    caller strings are never trusted as path components)."""
    return hashlib.sha256(batch_id.encode("utf-8")).hexdigest()[:32]


def marker_name(key: str, accept_ms: int) -> str:
    return f"{key}.{accept_ms}"


def marker_parse(name: str) -> tuple[str, int]:
    """(key, accept_ms) of one ingest-log entry; raises on a name that is
    not <key>.<accept_ms>."""
    key, _, suffix = name.rpartition(".")
    if not key or not suffix.isdigit():
        raise ValueError(f"ingest-log entry {name!r} is not <key>.<accept_ms>")
    return key, int(suffix)


def _log_dir(root: str) -> str:
    return f"{root.rstrip('/')}/{INGEST_LOG}"


def ingest_log_has(spark, root: str, key: str) -> bool:
    """True iff the ingest log records `key`: one globStatus over
    <escaped-root>/_ingest_log/<key>.* (the root is a caller path, so it
    is glob-escaped; the key is hex). The match stays JVM-side — listing
    every entry through Py4J costs ~20x more at the ~700-entry bound."""
    fs, jglob = hadoop_fs(spark, f"{glob_escape(_log_dir(root))}/{key}.*")
    matches = fs.globStatus(jglob)
    return matches is not None and len(matches) > 0


def record_ingest_entries(spark, root: str, keys: list[str]) -> None:
    """Create the ingest-log entry of each key not logged yet (a resumed
    settle re-enters here; the skip keeps one entry per key)."""
    now_ms = int(time.time() * 1000)
    for key in keys:
        if ingest_log_has(spark, root, key):
            continue
        fs, jlog = hadoop_fs(spark, f"{_log_dir(root)}/{marker_name(key, now_ms)}")
        fs.create(jlog, True).close()


def _log_entries(spark, root: str):
    """(FileSystem, [(FileStatus, key, accept_ms)]) of root's ingest log;
    empty when the log is absent."""
    fs, jlog = hadoop_fs(spark, _log_dir(root))
    if not fs.exists(jlog):
        return fs, []
    return fs, [
        (st, *marker_parse(st.getPath().getName())) for st in fs.listStatus(jlog)
    ]


def _cutoff_ms(horizon_s: float | None, now_ms: int | None = None) -> int | None:
    if horizon_s is None:
        return None
    if now_ms is None:
        now_ms = int(time.time() * 1000)
    return now_ms - int(horizon_s * 1000)


def prune_ingest_log(
    spark, root: str, horizon_s: float | None, *, now_ms: int | None = None
) -> int:
    """Delete entries accepted longer than horizon_s ago (None disables);
    returns the number pruned."""
    cutoff = _cutoff_ms(horizon_s, now_ms)
    if cutoff is None:
        return 0
    fs, entries = _log_entries(spark, root)
    pruned = 0
    for st, _, accept_ms in entries:
        if accept_ms < cutoff:
            fs.delete(st.getPath(), False)
            pruned += 1
    return pruned


def carry_ingest_log(spark, src: str, dst: str, horizon_s: float | None) -> int:
    """Recreate src's in-horizon ingest-log entries under dst with their
    accept times unchanged (a compacted copy holds the same accepted
    batches, so their keys must keep rejecting retries). Returns the
    number carried."""
    cutoff = _cutoff_ms(horizon_s)
    _, entries = _log_entries(spark, src)
    carried = 0
    for _, key, accept_ms in entries:
        if cutoff is not None and accept_ms < cutoff:
            continue
        fs, jd = hadoop_fs(spark, f"{_log_dir(dst)}/{marker_name(key, accept_ms)}")
        fs.create(jd, True).close()
        carried += 1
    return carried


def ingest_log_report(spark, root: str, horizon_s: float | None) -> dict:
    """Read-only profile of the ingest log: entry count, oldest/newest
    accept age and how many are past the horizon. One listStatus."""
    _, entries = _log_entries(spark, root)
    now_ms = int(time.time() * 1000)
    ages = [(now_ms - accept_ms) / 1000.0 for _, _, accept_ms in entries]
    return {
        "n_entries": len(ages),
        "oldest_age_s": round(max(ages), 3) if ages else None,
        "newest_age_s": round(min(ages), 3) if ages else None,
        "n_past_horizon": (
            sum(1 for a in ages if a > horizon_s) if horizon_s is not None else 0
        ),
    }


# ---------------------------------------------------------------------------
# StagedCommit
# ---------------------------------------------------------------------------


class StagedCommit:
    """One staging directory <root>/<name> under the _COMMITTED rule
    (module docstring). `record` names an optional one-column parquet
    under the staging (the cold clusters of a merge, the emptied
    partitions of a rewrite) that the apply step needs; a committed
    staging whose record cannot be read is 'unreadable'.

    stage_partitions is the only place that finds a rewrite's emptied
    partitions: it collects them in `emptied`, which the caller writes
    as the record before commit()."""

    def __init__(self, spark, root: str, name: str, *, record: str | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.name = name
        self.path = f"{self.root}/{name}"
        self.label = name.lstrip("_").replace("_", " ")
        self.record = record
        self._vals: list | None = None
        self.emptied: list[str] = []

    def stage_partitions(self, df, rel: str, part_col: str, touched) -> set[str]:
        """Stage the rewritten image of the live table <root>/<rel>: the
        caller-shaped df is written partitioned by part_col under
        <staging>/<rel>, and every touched value whose partition did not
        land is added to `emptied` as '<rel>/<part_col>=<v>'. Returns
        the values that landed, as directory-name strings.

        When nothing landed and the live table has no partition outside
        `touched`, the promote would leave it with no file at all, so
        one zero-row file is staged in a touched partition (not counted
        as landed, not recorded as emptied). The common path adds no
        job and no file."""
        staged = f"{self.path}/{rel}".rstrip("/")
        landed = write_partitions(df, staged, part_col)
        touched = [str(v) for v in touched]
        if not landed and touched:
            live = partition_values(self.spark, f"{self.root}/{rel}".rstrip("/"), part_col)
            if live <= set(touched):
                write_empty_partition(df, staged, part_col, touched[0])
                touched = touched[1:]
        self.emptied += [
            f"{rel}/{part_col}={v}".lstrip("/") for v in touched if v not in landed
        ]
        return landed

    def exists(self, rel: str | None = None) -> bool:
        """Whether the staging (or `rel` inside it) exists."""
        fs, jp = hadoop_fs(self.spark, self.path if rel is None else f"{self.path}/{rel}")
        return fs.exists(jp)

    def batch_keys(self) -> list[str]:
        fs, jp = hadoop_fs(self.spark, self.path)
        return [
            st.getPath().getName()[len(_BATCH):]
            for st in fs.listStatus(jp)
            if st.getPath().getName().startswith(_BATCH)
        ]

    def write_record(self, vals) -> None:
        """Stage the record, ints or strings, as a one-column parquet
        (before commit())."""
        self._vals = [v if isinstance(v, str) else int(v) for v in vals]
        typ = "string" if any(isinstance(v, str) for v in self._vals) else "int"
        write_small_parquet(
            self.spark, f"{self.path}/{self.record}", [(v,) for v in self._vals],
            f"{self.record.lstrip('_')} {typ}",
        )

    def record_values(self) -> list:
        if self._vals is None:
            self._vals = [
                r[0]
                for r in self.spark.read.parquet(f"{self.path}/{self.record}").collect()
            ]
        return self._vals

    def commit(self, *, batch_id: str | None = None, markers: tuple = ()) -> None:
        """Write the markers, the batch's _BATCH_<key>, then _COMMITTED
        last. Every data write of the staging must precede this call."""
        names = list(markers)
        if batch_id is not None:
            names.append(_BATCH + batch_key(batch_id))
        for name in names + [COMMITTED]:
            fs, jm = hadoop_fs(self.spark, f"{self.path}/{name}")
            fs.create(jm, True).close()

    def promote(self, tables: dict) -> None:
        """Apply step of a staged table rewrite: promote each staged
        table image into its live twin by directory rename, then delete
        every live directory the record (paths relative to root) names
        as emptied (stage_partitions collects them).

        `tables` maps a table's path relative to root ('' for root
        itself) to its partition column, None for a flat table. Each
        staged <rel>/<part_col>=<v> dir replaces <root>/<rel>/<part_col>=<v>;
        a flat table's staged dir replaces the live one whole. The live
        twin is deleted first: Hadoop's rename into an existing
        directory nests the source inside it instead of replacing it.
        The emptied set must be recorded before commit(): once a dir
        has moved, the staging cannot tell 'moved' from 'emptied'.

        One code path on every filesystem, idempotent: a moved dir is no
        longer staged, so a rerun redoes only what is left, and a rename
        cut short before it removed any source file is redone whole.
        On local disk and HDFS a directory rename is atomic; an object
        store copies then deletes, so a crash inside one partition's
        rename can still lose the files it already moved."""
        fs, _ = hadoop_fs(self.spark, self.path)
        for rel, part_col in tables.items():
            staged = f"{self.path}/{rel}".rstrip("/")
            live = f"{self.root}/{rel}".rstrip("/")
            _, jstaged = hadoop_fs(self.spark, staged)
            if not fs.exists(jstaged):
                continue
            if part_col is None:
                moves = [(staged, live)]
            else:
                moves = [
                    (f"{staged}/{n}", f"{live}/{n}")
                    for n in (st.getPath().getName() for st in fs.listStatus(jstaged))
                    if n.startswith(f"{part_col}=")
                ]
            for src, dst in moves:
                _, jdst = hadoop_fs(self.spark, dst)
                fs.delete(jdst, True)
                if not fs.rename(hadoop_fs(self.spark, src)[1], jdst):
                    raise RuntimeError(
                        f"staged commit: rename failed for {src} -> {dst}; "
                        "staging left in place for resume"
                    )
        for rel in self.record_values():
            fs.delete(hadoop_fs(self.spark, f"{self.root}/{rel}")[1], True)

    def state(self) -> str:
        """absent | uncommitted | committed | unreadable — read-only."""
        if not self.exists():
            return ABSENT
        if not self.exists(COMMITTED):
            return UNCOMMITTED
        if self.record is not None:
            try:
                self.record_values()
            except Exception:
                return UNREADABLE
        return COMMITTED_STATE

    def settle(self, apply, *, best_effort: bool = False) -> None:
        """Act on state(): committed -> apply(), record the ingest-log
        entries, delete the staging; uncommitted -> delete the staging;
        unreadable -> raise. With best_effort (read-only entry points) a
        failed settle is logged as a warning on the "idhub_spark" logger
        and the caller reads live files only."""
        try:
            state = self.state()
            if state == ABSENT:
                return
            if state == UNREADABLE:
                raise RuntimeError(
                    f"{self.path}: committed, but its {self.record} record is "
                    "unreadable — refusing to guess (staging left in place)"
                )
            if state == COMMITTED_STATE:
                keys = self.batch_keys()
                apply()
                record_ingest_entries(self.spark, self.root, keys)
            fs, jp = hadoop_fs(self.spark, self.path)
            fs.delete(jp, True)
        except Exception:
            if not best_effort:
                raise
            log.warning(
                "index %r: could not settle pending %s (concurrent writer or "
                "read-only storage); reading live files only",
                self.root,
                self.label,
                exc_info=True,
            )

    def report(self, findings: list) -> dict | None:
        """fsck view of state(): None when absent, else {state,
        settle_action, batch_keys[, <record>]}; appends one finding."""
        state = self.state()
        if state == ABSENT:
            return None
        rep = {"state": state, "settle_action": SETTLE_ACTION[state],
               "batch_keys": self.batch_keys()}
        if self.record is not None:
            rep[self.record.lstrip("_")] = (
                self.record_values() if state == COMMITTED_STATE else None
            )
        findings.append(
            f"{self.label} pending ({state}; settle would {rep['settle_action']})"
        )
        return rep


@contextlib.contextmanager
def fsck_guard(findings: list, label: str):
    """A concurrent writer changing a staging between an fsck's checks
    degrades to a 'rerun fsck' finding instead of failing the check."""
    try:
        yield
    except Exception:
        findings.append(
            f"could not inspect {label} (changed under the check — "
            "concurrent writer? — or unreadable): rerun fsck"
        )
