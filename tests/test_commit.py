"""The one staged-commit rule (idhub_spark/commit.py) across both index
families: every staging is complete iff _COMMITTED exists, the next
entry point applies a committed staging and discards an uncommitted
one. Faults are injected through commit.hadoop_fs, the single
filesystem handle every engine module calls."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from idhub_spark import commit
from tests.conftest import SF_DIR as SF

_STAGINGS = ("_append_staging", "_split_staging", "_merge_staging",
             "_delete_staging", "_upsert_staging")


class _InjectedCrash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "text")
        .filter(F.instr("text", " ") > 0)
    )


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


def _count_fs_calls(monkeypatch, op) -> int:
    real = commit.hadoop_fs
    n = {"calls": 0}

    def counting(spark, path):
        n["calls"] += 1
        return real(spark, path)

    monkeypatch.setattr(commit, "hadoop_fs", counting)
    try:
        op()
    finally:
        monkeypatch.setattr(commit, "hadoop_fs", real)
    return n["calls"]


def _run_crashing_at(monkeypatch, op, k) -> bool:
    """Run op with every hadoop_fs call after the k-th raising; True iff
    it crashed."""
    real = commit.hadoop_fs
    n = {"calls": 0}

    def crashing(spark, path):
        n["calls"] += 1
        if n["calls"] > k:
            raise _InjectedCrash(f"fs call {n['calls']}")
        return real(spark, path)

    monkeypatch.setattr(commit, "hadoop_fs", crashing)
    try:
        op()
        return False
    except RuntimeError:  # _InjectedCrash, or a settle/rename wrapping it
        return True
    finally:
        monkeypatch.setattr(commit, "hadoop_fs", real)


# --- sweep cases: build(spark, docs, vectors, tpl) -> (op, check) --------
# op(idx) runs the operation on a copy of the template; check(idx) asserts
# exactly-once rows and distinct ids after the (crashed) op and its rerun.


def _dedup_check(spark, n_docs, bands):
    from idhub_spark.operators.dedup_index import _read_state_table

    def check(idx):
        d = _read_state_table(spark, idx, "docs")
        assert d.count() == n_docs
        assert d.select("doc_id").distinct().count() == n_docs
        assert _read_state_table(spark, idx, "bands").count() == n_docs * bands

    return check


def _dedup_append(mode):
    def build(spark, docs, vectors, tpl):
        from idhub_spark.operators.dedup_index import (
            minhash_index_append,
            minhash_index_write,
        )

        minhash_index_write(docs.filter(F.col("doc_id") % 2 == 0), tpl,
                            n_hashes=8, bands=2, pb_buckets=4, db_buckets=4)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        return (
            lambda idx: minhash_index_append(batch, idx, mode=mode,
                                             batch_id="b1"),
            _dedup_check(spark, docs.count(), 2),
        )

    return build


def _dedup_fold(spark, docs, vectors, tpl):
    from idhub_spark.operators.dedup_index import (
        minhash_index_append,
        minhash_index_fold_delta,
        minhash_index_write,
    )

    minhash_index_write(docs.filter(F.col("doc_id") % 2 == 0), tpl,
                        n_hashes=8, bands=2, pb_buckets=4, db_buckets=4)
    assert minhash_index_append(docs.filter(F.col("doc_id") % 2 == 1), tpl,
                                mode="delta") == "delta"
    rows = _dedup_check(spark, docs.count(), 2)

    def check(idx):
        rows(idx)
        assert not os.path.isdir(f"{idx}/delta")  # the rerun folded it

    return lambda idx: minhash_index_fold_delta(spark, idx), check


def _dedup_delete(shape):
    """A retraction of three live docs plus, by shape: nothing else
    ('live'); two docs of a buffered append, so it hits both layers
    ('delta' — the benchmark's dedup cycle); every buffered doc
    ('all-delta' — the buffer is dropped)."""

    def build(spark, docs, vectors, tpl):
        from idhub_spark.operators.dedup_index import (
            _read_state_table,
            minhash_index_append,
            minhash_index_delete,
            minhash_index_write,
        )

        base = docs.filter(F.col("doc_id") % 2 == 0)
        appended = docs.filter(F.col("doc_id") % 2 == 1)
        minhash_index_write(docs if shape == "live" else base, tpl,
                            n_hashes=8, bands=2, pb_buckets=4, db_buckets=4)
        if shape != "live":
            assert minhash_index_append(appended, tpl, mode="delta") == "delta"
        app_ids = sorted(r.doc_id for r in appended.select("doc_id").collect())
        victims = sorted(r.doc_id for r in base.select("doc_id").collect())[:3]
        victims += {"live": [], "delta": app_ids[:2], "all-delta": app_ids}[shape]
        rows = _dedup_check(spark, docs.count() - len(victims), 2)

        def check(idx):
            rows(idx)
            for t in ("docs", "bands"):
                assert _read_state_table(spark, idx, t).filter(
                    F.col("doc_id").isin(victims)).count() == 0
            assert os.path.isdir(f"{idx}/delta") == (shape == "delta")

        return lambda idx: minhash_index_delete(spark, idx, victims), check

    return build


def _dedup_delete_everything(spark, docs, vectors, tpl):
    """Every doc retracted: each table keeps one zero-row file, so the
    index stays readable and probes as empty."""
    from idhub_spark.operators.dedup_index import (
        minhash_index_delete,
        minhash_index_probe,
        minhash_index_write,
    )

    subset = docs.filter(F.col("doc_id") % 10 == 0)
    minhash_index_write(subset, tpl, n_hashes=8, bands=2, pb_buckets=4,
                        db_buckets=4)
    ids = [r.doc_id for r in subset.select("doc_id").collect()]
    rows = _dedup_check(spark, 0, 2)

    def check(idx):
        rows(idx)
        assert minhash_index_probe(spark, idx, subset,
                                   include_batch_pairs=False).count() == 0

    return lambda idx: minhash_index_delete(spark, idx, ids), check


def _ivf_check(spark, n_rows, gone=(), absent_ids=()):
    def check(idx):
        got = spark.read.parquet(idx)
        assert got.count() == n_rows
        assert got.select("vec_id").distinct().count() == n_rows
        assert got.filter(F.col("vec_id").isin(list(absent_ids))).count() == 0
        for c in gone:
            assert not os.path.isdir(f"{idx}/cluster={c}")

    return check


def _ivf_delete(spark, docs, vectors, tpl):
    """The whole smallest cluster (its dir is dropped) plus two rows of
    the others."""
    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_index_stats,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    ivf_sq8_index_write(vectors, kmeans_fit(vectors, k=4, max_iter=2),
                        sq8_fit(vectors), tpl)
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, tpl).collect()}
    small = min((c for c in stats if c >= 0), key=lambda c: stats[c])
    live = spark.read.parquet(tpl)
    victims = [int(r.vec_id) for r in
               live.filter(F.col("cluster") == small).select("vec_id").collect()]
    victims += [int(r.vec_id) for r in live.filter(F.col("cluster") != small)
                .select("vec_id").orderBy("vec_id").limit(2).collect()]
    return (
        lambda idx: ivf_index_delete(spark, idx, victims),
        _ivf_check(spark, vectors.count() - len(victims), gone=(small,),
                   absent_ids=victims),
    )


def _ivf_delete_everything(spark, docs, vectors, tpl):
    """Every vector retracted: the index reads back empty and a search
    returns no rows."""
    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    ivf_sq8_index_write(vectors, kmeans_fit(vectors, k=4, max_iter=2),
                        sq8_fit(vectors), tpl)
    ids = [int(r.vec_id) for r in vectors.select("vec_id").collect()]
    rows = _ivf_check(spark, 0)

    def check(idx):
        rows(idx)
        assert ivf_sq8_search_index(
            spark, idx, vectors.filter(F.col("vec_id") < 4), k=5, nprobe=4
        ).count() == 0

    return lambda idx: ivf_index_delete(spark, idx, ids), check


def _seed_upsert_table(spark, tpl):
    from idhub_spark.operators.merge_into import seed_bucketed_table

    def bucket_of(df):
        return (F.col("k") % 8).cast("int")

    seed_bucketed_table(
        spark.createDataFrame([(k, f"name{k}", float(k)) for k in range(16)],
                              ["k", "name", "val"]),
        tpl, ["k"], n_buckets=8, bucket_of=bucket_of,
    )
    return bucket_of


def _pruned_upsert_delete_only_bucket(spark, docs, vectors, tpl):
    """An unchanged incoming row plus delete_keys that empty bucket 3,
    the only bucket the upsert rewrites."""
    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = _seed_upsert_table(spark, tpl)
    incoming = spark.createDataFrame([(0, "name0", 0.0)], ["k", "name", "val"])
    deletes = spark.createDataFrame([(3,), (11,)], ["k"])
    want = {k: float(k) for k in range(16) if k not in (3, 11)}

    def check(idx):
        got = spark.read.parquet(idx)
        assert {r.k: r.val for r in got.collect()} == want
        assert not os.path.isdir(f"{idx}/_bucket=3")

    return (
        lambda idx: partition_pruned_upsert(
            spark, idx, incoming, ["k"], n_buckets=8, bucket_of=bucket_of,
            delete_keys=deletes),
        check,
    )


def _pruned_upsert(spark, docs, vectors, tpl):
    """An upsert (one update, one insert) whose delete_keys empty
    bucket 3."""
    from idhub_spark.operators.merge_into import partition_pruned_upsert

    bucket_of = _seed_upsert_table(spark, tpl)
    incoming = spark.createDataFrame(
        [(0, "name0", 99.0), (100, "new", 0.0)], ["k", "name", "val"])
    deletes = spark.createDataFrame([(3,), (11,)], ["k"])
    want = {k: float(k) for k in range(16) if k not in (3, 11)}
    want.update({0: 99.0, 100: 0.0})

    def check(idx):
        got = spark.read.parquet(idx)
        assert got.count() == len(want)
        assert {r.k: r.val for r in got.collect()} == want
        assert not os.path.isdir(f"{idx}/_bucket=3")

    return (
        lambda idx: partition_pruned_upsert(
            spark, idx, incoming, ["k"], n_buckets=8, bucket_of=bucket_of,
            delete_keys=deletes),
        check,
    )


def _ivf_append(spark, docs, vectors, tpl):
    from idhub_spark.operators.ann import (
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    old = vectors.filter(F.col("vec_id") >= 100)
    new = vectors.filter(F.col("vec_id") < 100)
    centroids = kmeans_fit(old, k=8, max_iter=2)
    bounds = sq8_fit(old)
    ivf_sq8_index_write(old, centroids, bounds, tpl)
    return (
        lambda idx: ivf_sq8_index_append(new, centroids, bounds, idx,
                                         batch_id="b1"),
        _ivf_check(spark, vectors.count()),
    )


def _ivf_split(spark, docs, vectors, tpl):
    from idhub_spark.operators.ann import (
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    ivf_sq8_index_write(vectors, kmeans_fit(vectors, k=4, max_iter=2),
                        sq8_fit(vectors), tpl)
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, tpl).collect()}
    hot = max((c for c in stats if c >= 0), key=lambda c: stats[c])
    return (
        lambda idx: ivf_index_split_cluster(spark, idx, hot, k2=2),
        _ivf_check(spark, vectors.count(), gone=(hot,)),
    )


def _ivf_merge_cold(spark, docs, vectors, tpl):
    from idhub_spark.operators.ann import (
        ivf_index_merge_cold_clusters,
        ivf_sq8_index_write,
        sq8_fit,
    )
    from tests.test_ann import _merge_fixture

    vecs, centroids = _merge_fixture(spark)
    ivf_sq8_index_write(vecs, centroids, sq8_fit(vecs), tpl)
    return (
        lambda idx: ivf_index_merge_cold_clusters(spark, idx, min_rows=20),
        _ivf_check(spark, 200, gone=(2, 3)),
    )


def _ivf_adopt(spark, docs, vectors, tpl):
    """Zombie cluster=2 (5 rows, no centroid) beside live clusters."""
    from idhub_spark.operators.ann import (
        ivf_index_adopt_unrouted,
        ivf_index_merge_cold_clusters,
        ivf_sq8_index_write,
        sq8_encode,
        sq8_fit,
    )
    from tests.test_ann import _merge_fixture

    vecs, centroids = _merge_fixture(spark)
    bounds = sq8_fit(vecs)
    ivf_sq8_index_write(vecs, centroids, bounds, tpl)
    ivf_index_merge_cold_clusters(spark, tpl, min_rows=20)
    new = spark.createDataFrame(
        [(500 + i, [10.0 + i * 0.01] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq8_encode(
        new.select("vec_id", "embedding", vec_d.alias("_v")), bounds,
        vec_col="_v",
    ).select("vec_id", "embedding", "code").repartition(1).write.parquet(
        f"{tpl}/cluster=2"
    )
    return (
        lambda idx: ivf_index_adopt_unrouted(spark, idx),
        _ivf_check(spark, 205, gone=(2, 3)),
    )


_CASES = {
    "dedup-append-delta": _dedup_append("delta"),
    "dedup-append-direct": _dedup_append("direct"),
    "dedup-fold": _dedup_fold,
    "ivf-append": _ivf_append,
    "ivf-split": _ivf_split,
    "ivf-merge-cold": _ivf_merge_cold,
    "ivf-adopt": _ivf_adopt,
    "dedup-delete-live": _dedup_delete("live"),
    "dedup-delete-delta": _dedup_delete("delta"),
    "dedup-delete-all-delta": _dedup_delete("all-delta"),
    "ivf-delete": _ivf_delete,
    "pruned-upsert": _pruned_upsert,
    "dedup-delete-everything": _dedup_delete_everything,
    "ivf-delete-everything": _ivf_delete_everything,
    "pruned-upsert-delete-only-bucket": _pruned_upsert_delete_only_bucket,
}


@pytest.mark.parametrize("case", list(_CASES))
def test_crash_injection_sweep(spark, docs, vectors, tmp_path, monkeypatch,
                               case):
    """Every staged commit — both index families and the pruned
    upsert — killed at strided driver fs-call boundaries and rerun,
    converges: rows exactly once, ids distinct, no retracted id left,
    no staging left. A crash before _COMMITTED discards the staging and
    the rerun redoes the work; after it, the rerun's entry settle
    finishes the apply (a keyed append then returns 'duplicate', a
    delete or upsert then finds nothing left to do)."""
    tpl = str(tmp_path / "tpl")
    op, check = _CASES[case](spark, docs, vectors, tpl)

    cnt = str(tmp_path / "cnt")
    shutil.copytree(tpl, cnt)
    total = _count_fs_calls(monkeypatch, lambda: op(cnt))
    assert total > 5
    check(cnt)

    ks = sorted(set(range(1, total + 1, max(1, total // 8))) | {1, total})
    for k in ks:
        idx = str(tmp_path / f"k{k}")
        shutil.copytree(tpl, idx)
        crashed = _run_crashing_at(monkeypatch, lambda: op(idx), k)
        assert crashed or k == total, f"K={k}"
        if crashed:
            op(idx)  # the rerun
        check(idx)
        for st in _STAGINGS:
            assert not os.path.isdir(f"{idx}/{st}"), f"K={k}: {st} left"
        shutil.rmtree(idx, ignore_errors=True)


def test_append_without_batch_id_double_ingests_on_retry(
    spark, docs, tmp_path, monkeypatch
):
    """The documented gap batch_id closes: an un-keyed append that
    crashes after its commit is applied by the retry's entry settle,
    and the retry then appends the same docs again."""
    from idhub_spark.operators.dedup_index import (
        _read_state_table,
        minhash_index_append,
        minhash_index_write,
    )

    idx = str(tmp_path / "nokey")
    minhash_index_write(docs.filter(F.col("doc_id") % 2 == 0), idx,
                        n_hashes=8, bands=2, pb_buckets=4, db_buckets=4)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    cnt = str(tmp_path / "nokey_cnt")
    shutil.copytree(idx, cnt)
    total = _count_fs_calls(monkeypatch, lambda: minhash_index_append(batch, cnt))
    assert _run_crashing_at(
        monkeypatch, lambda: minhash_index_append(batch, idx), total - 1
    )
    minhash_index_append(batch, idx)  # the naive retry
    assert _read_state_table(spark, idx, "docs").count() > docs.count()


class _FaultyDeleteFs:
    """FileSystem proxy whose recursive delete of `target` removes ONE
    part file and then raises — a non-atomic delete cut short."""

    def __init__(self, fs, target):
        self._fs, self._target = fs, target

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def delete(self, jpath, recursive):
        if recursive and jpath.toString().rstrip("/").endswith(self._target):
            victim = next(
                st.getPath() for st in self._fs.listStatus(jpath)
                if st.getPath().getName().startswith("part-")
            )
            self._fs.delete(victim, False)
            raise _InjectedCrash(f"recursive delete of {self._target} cut short")
        return self._fs.delete(jpath, recursive)


def test_split_resumes_after_partial_recursive_delete(
    spark, vectors, tmp_path, monkeypatch
):
    """A committed split whose apply died half-way through the recursive
    delete of the source cluster dir (dir still present, one part file
    gone) must be RESUMED by the rerun: every vec_id present exactly
    once. Keying the settle on 'source dir still exists' would discard
    the staging and lose the deleted file's rows."""
    from idhub_spark.operators.ann import (
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    # two writes: the hot cluster holds at least two files
    ivf_sq8_index_write(vectors.filter(F.col("vec_id") % 2 == 0), centroids,
                        bounds, path)
    ivf_sq8_index_append(vectors.filter(F.col("vec_id") % 2 == 1), centroids,
                         bounds, path)
    n_total = vectors.count()
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    hot = max((c for c in stats if c >= 0), key=lambda c: stats[c])
    assert len(glob.glob(f"{path}/cluster={hot}/part-*")) >= 2

    real = commit.hadoop_fs

    def faulty(spark_, p):
        fs, jp = real(spark_, p)
        return _FaultyDeleteFs(fs, f"cluster={hot}"), jp

    monkeypatch.setattr(commit, "hadoop_fs", faulty)
    with pytest.raises(_InjectedCrash):
        ivf_index_split_cluster(spark, path, hot, k2=2)
    monkeypatch.setattr(commit, "hadoop_fs", real)
    assert os.path.isdir(f"{path}/cluster={hot}")  # half-deleted, present
    assert os.path.isfile(f"{path}/_split_staging/_COMMITTED")

    ivf_index_split_cluster(spark, path, hot, k2=2)  # the rerun
    got = spark.read.parquet(path)
    assert got.count() == n_total
    assert got.select("vec_id").distinct().count() == n_total
    assert not os.path.isdir(f"{path}/cluster={hot}")
    assert not os.path.isdir(f"{path}/_split_staging")


class _FailingStream:
    def __init__(self, out):
        self._out = out

    def write(self, data):
        raise _InjectedCrash("stream write failed")

    def close(self):
        self._out.close()


class _FailingCreateFs:
    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def create(self, jpath, overwrite):
        return _FailingStream(self._fs.create(jpath, overwrite))


def test_write_small_parquet_is_atomic(spark, tmp_path, monkeypatch):
    """A failed stream write leaves no visible part file: the bytes go
    to a dot-prefixed temporary name and are renamed into place only
    after the stream closes cleanly."""
    d = str(tmp_path / "small")
    real = commit.hadoop_fs

    def failing(spark_, p):
        fs, jp = real(spark_, p)
        return _FailingCreateFs(fs), jp

    monkeypatch.setattr(commit, "hadoop_fs", failing)
    with pytest.raises(_InjectedCrash):
        commit.write_small_parquet(spark, d, [(1,), (2,)], "cluster int")
    monkeypatch.setattr(commit, "hadoop_fs", real)
    assert not glob.glob(f"{d}/part-*")

    commit.write_small_parquet(spark, d, [(1,), (2,)], "cluster int")
    assert glob.glob(f"{d}/part-*") and not glob.glob(f"{d}/.part-*.tmp")
    assert sorted(r.cluster for r in spark.read.parquet(d).collect()) == [1, 2]


def _track_persist(monkeypatch, df):
    from pyspark.storagelevel import StorageLevel

    persisted = []
    cls = type(df)
    real_persist = cls.persist

    def tracking(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", tracking)

    def released():
        assert persisted, "nothing was persisted"
        return all(d.storageLevel == StorageLevel.NONE for d in persisted)

    return released


def test_minhash_index_delete_releases_cache(spark, docs, tmp_path, monkeypatch):
    """minhash_index_delete releases every frame it persisted, on
    success and when the id set itself fails to compute."""
    from idhub_spark.operators.dedup_index import (
        minhash_index_delete,
        minhash_index_write,
    )

    path = str(tmp_path / "mh")
    minhash_index_write(docs, path, n_hashes=8, bands=2, pb_buckets=4,
                        db_buckets=4)
    released = _track_persist(monkeypatch, docs)
    rep = minhash_index_delete(spark, path, docs.limit(3).select("doc_id"))
    assert rep["rows_deleted"] == 3
    assert released()

    bad = docs.limit(3).select(
        F.raise_error(F.lit("injected id failure")).cast("bigint").alias("doc_id")
    )
    with pytest.raises(Exception, match="injected id failure"):
        minhash_index_delete(spark, path, bad)
    assert released()


def test_ivf_index_delete_releases_cache(spark, vectors, tmp_path, monkeypatch):
    """ivf_index_delete releases its id set on every exit path: a
    delete that touches nothing (the early return), a real delete, and
    a failing id set."""
    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    path = str(tmp_path / "ivf")
    ivf_sq8_index_write(vectors, kmeans_fit(vectors, k=4, max_iter=2),
                        sq8_fit(vectors), path)
    released = _track_persist(monkeypatch, vectors)
    absent = spark.range(10**9, 10**9 + 3).select(F.col("id").alias("vec_id"))
    assert ivf_index_delete(spark, path, absent)["rows_deleted"] == 0
    assert released()

    ids = vectors.limit(3).select("vec_id")
    assert ivf_index_delete(spark, path, ids)["rows_deleted"] == 3
    assert released()

    bad = vectors.limit(3).select(
        F.raise_error(F.lit("injected id failure")).cast("bigint").alias("vec_id")
    )
    with pytest.raises(Exception, match="injected id failure"):
        ivf_index_delete(spark, path, bad)
    assert released()


def test_delete_delta_rewrite_without_observation_handle(
    spark, docs, tmp_path, monkeypatch
):
    """The delta rewrite reads its survivor count from an Observation's
    private JVM handle; when that handle is unavailable the delete takes
    the read-back count and returns the same result."""
    from pyspark.sql import Observation

    from idhub_spark.operators.dedup_index import (
        _read_state_table,
        minhash_index_append,
        minhash_index_delete,
        minhash_index_write,
    )

    base = docs.filter(F.col("doc_id") % 2 == 0)
    appended = docs.filter(F.col("doc_id") % 2 == 1)
    app_ids = sorted(r.doc_id for r in appended.select("doc_id").collect())
    victims = app_ids[:2]
    results = []
    for name, patched in (("plain", False), ("no_jo", True)):
        path = str(tmp_path / name)
        minhash_index_write(base, path, n_hashes=8, bands=2, pb_buckets=4,
                            db_buckets=4)
        assert minhash_index_append(appended, path) == "delta"
        if patched:
            real_on = Observation._on

            def on_without_jo(self, *a, **kw):
                out = real_on(self, *a, **kw)
                monkeypatch.delattr(self, "_jo")
                return out

            monkeypatch.setattr(Observation, "_on", on_without_jo)
        rep = minhash_index_delete(spark, path, victims)
        monkeypatch.undo()
        ids = sorted(
            r.doc_id for r in _read_state_table(spark, path, "docs")
            .select("doc_id").collect()
        )
        results.append((rep, ids))
    assert results[0] == results[1]
    assert results[0][0]["delta_rows_deleted"] == 2


def test_hadoop_fs_is_the_only_path_builder():
    """Every engine filesystem call goes through commit.hadoop_fs, the
    one name fault injection patches: no other module builds a Hadoop
    Path, and no write relies on dynamic partition overwrite (partition
    rewrites are promoted by rename under StagedCommit)."""
    import pathlib

    import idhub_spark

    pkg = pathlib.Path(idhub_spark.__file__).parent
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        text = f.read_text()
        if "partitionOverwriteMode" in text:
            offenders.append(f"{f.relative_to(pkg)}: partitionOverwriteMode")
        if f.name != "commit.py" and "hadoop.fs.Path" in text:
            offenders.append(f"{f.relative_to(pkg)}: builds a Hadoop Path")
    assert not offenders, offenders


def test_best_effort_settle_logs_on_idhub_logger(spark, tmp_path, caplog):
    """A read-only entry point's failed settle is a warning on the
    "idhub_spark" logger, with the cause attached; the staging stays,
    and a writing entry point's settle still raises."""
    import logging

    sc = commit.StagedCommit(spark, str(tmp_path / "idx"), "_delete_staging")
    sc.commit()

    def apply():
        raise RuntimeError("read-only storage")

    with caplog.at_level(logging.WARNING, logger="idhub_spark"):
        sc.settle(apply, best_effort=True)
    (rec,) = [r for r in caplog.records if r.name == "idhub_spark"]
    assert rec.levelno == logging.WARNING
    assert "could not settle pending delete staging" in rec.getMessage()
    assert "read-only storage" in str(rec.exc_info[1])
    assert sc.exists()
    with pytest.raises(RuntimeError, match="read-only storage"):
        sc.settle(apply)
