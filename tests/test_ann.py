"""IVF k-means ANN tests: Lloyd's cost decreases monotonically, and
IVF recall@k against the exact brute-force baseline clears the bar
expected for nprobe/k pruning on the synthetic embeddings."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from idhub_spark.operators.ann import _assign, ivf_topk, kmeans_fit

SF = os.environ.get("IDHUB_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


def _cost(vectors, centroids):
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = vectors.select(F.col("vec_id").alias("_id"), vec_d.alias("_v"))
    return (
        _assign(v, centroids)
        .agg(F.sum("_dist").alias("c"))
        .collect()[0]
        .c
    )


def test_kmeans_cost_monotone(spark, vectors):
    costs = [
        _cost(vectors, kmeans_fit(vectors, k=8, max_iter=i)) for i in (0, 1, 3)
    ]
    assert costs[1] <= costs[0] + 1e-6
    assert costs[2] <= costs[1] + 1e-6


def test_ivf_recall_vs_bruteforce(spark, vectors):
    """recall@5 of IVF (k=8, nprobe=3) vs exact top-5 on queries
    vec_id < 8 — the pruned search must recover most true neighbors."""
    centroids = kmeans_fit(vectors, k=8, max_iter=3)
    ivf = ivf_topk(vectors, centroids, query_ids=list(range(8)), k=5, nprobe=3)

    # exact baseline, same contract
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = vectors.select(F.col("vec_id").alias("_id"), vec_d.alias("_v"))
    q = v.filter(F.col("_id") < 8).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("q_v")
    )
    n = v.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("n_v"))
    from idhub_spark.operators.ann import _dot

    cosine = _dot(F.col("q_v"), F.col("n_v")) / (
        F.sqrt(_dot(F.col("q_v"), F.col("q_v")))
        * F.sqrt(_dot(F.col("n_v"), F.col("n_v")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = (
        q.crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    hits = ivf.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")
    )
    recall = hits.count() / exact.count()
    assert recall >= 0.5, f"recall@5 {recall}"
    # every query produced a full (or bucket-limited) result set
    assert ivf.groupBy("query_id").count().agg(F.min("count")).collect()[0][0] >= 1


def test_sq8_roundtrip_and_recall(spark, vectors):
    """SQ8 contract: codes are a true array<tinyint> (the 4x-smaller
    scan column), decode error is bounded by half a quantization step
    per dim, and asymmetric-distance top-k with 4x rescore recovers
    the exact dot-product top-5 (recall@5 >= 0.9 — rescoring with
    full precision repairs nearly all quantization rank noise)."""
    from idhub_spark.operators.ann import _dot, sq8_encode, sq8_fit, sq8_topk

    bounds = sq8_fit(vectors)
    b = bounds.collect()[0]
    assert len(b.mins) == vectors.select(F.size("embedding")).first()[0]

    enc = sq8_encode(vectors, bounds)
    assert dict(enc.dtypes)["code"] == "array<tinyint>"
    # decode error <= step/2 per dim, step = (mx-mn)/255
    err = enc.select(
        F.posexplode("code").alias("p", "c"),
        F.col("embedding"),
    ).select(
        (
            F.abs(
                (F.col("c").cast("double") + 128.0) / 255.0
                * (F.lit(list(b.maxs)).getItem(F.col("p")) - F.lit(list(b.mins)).getItem(F.col("p")))
                + F.lit(list(b.mins)).getItem(F.col("p"))
                - F.element_at("embedding", F.col("p") + 1).cast("double")
            )
            / ((F.lit(list(b.maxs)).getItem(F.col("p")) - F.lit(list(b.mins)).getItem(F.col("p"))) / 255.0)
        ).alias("steps")
    )
    assert err.agg(F.max("steps")).collect()[0][0] <= 0.5 + 1e-6

    queries = vectors.filter(F.col("vec_id") < 8)
    got = sq8_topk(queries, vectors, bounds, k=5, rescore=4)

    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = vectors.select(F.col("vec_id").alias("_id"), vec_d.alias("_v"))
    q = v.filter(F.col("_id") < 8).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("q_v")
    )
    n = v.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("n_v"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    exact = (
        q.crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", _dot(F.col("q_v"), F.col("n_v")).alias("score")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    hits = got.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")
    )
    recall = hits.count() / exact.count()
    assert recall >= 0.9, f"sq8 recall@5 {recall}"


def test_ivf_sq8_recall(spark, vectors):
    """The composed IVF x SQ8 plan (probe-bounded int8 candidate scan
    + exact rescore) must clear the same recall@5 >= 0.9 bar as flat
    SQ8 — composition may only lose the neighbors IVF pruning loses,
    and nprobe=3/8 keeps those rare on the synthetic corpus."""
    from idhub_spark.operators.ann import ivf_sq8_topk, kmeans_fit, sq8_fit

    centroids = kmeans_fit(vectors, k=8, max_iter=3)
    bounds = sq8_fit(vectors)
    got = ivf_sq8_topk(
        vectors, centroids, bounds, query_ids=list(range(8)), k=5, nprobe=3
    )

    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = vectors.select(F.col("vec_id").alias("_id"), vec_d.alias("_v"))
    q = v.filter(F.col("_id") < 8).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("q_v")
    )
    n = v.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("n_v"))
    from idhub_spark.operators.ann import _dot
    from pyspark.sql import Window

    cosine = _dot(F.col("q_v"), F.col("n_v")) / (
        F.sqrt(_dot(F.col("q_v"), F.col("q_v")))
        * F.sqrt(_dot(F.col("n_v"), F.col("n_v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = (
        q.crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    hits = got.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")
    )
    recall = hits.count() / exact.count()
    assert recall >= 0.9, f"ivf_sq8 recall@5 {recall}"


def test_sq8_encode_clamps_out_of_range(spark):
    """Bounds fit on a sample see out-of-range values at encode time;
    under ANSI mode an unclamped tinyint cast would THROW. Codes must
    saturate to -128/127 instead."""
    from idhub_spark.operators.ann import sq8_encode

    df = spark.createDataFrame(
        [(1, [5.0, -5.0, 0.5])], "vec_id long, embedding array<double>"
    )
    bounds = spark.createDataFrame(
        [([0.0, 0.0, 0.0], [1.0, 1.0, 1.0])],
        "mins array<double>, maxs array<double>",
    )
    row = sq8_encode(df, bounds).select("code").first()
    assert row.code == [127, -128, 0]


def test_pq_codes_and_recall(spark, vectors):
    """Product quantization contract: the codebook is m*k centroids,
    pq_code is a true array<tinyint> of m sub-codes (8 BYTES per
    vector — 32x smaller than float32, 8x smaller than SQ8), encoding
    is expression-only (no joins/shuffles), and ADC ranking + exact
    rescore recovers most of the true top-5. The synthetic i.i.d.
    embeddings are PQ's ADVERSARIAL case (no intra-vector correlation
    to exploit), so the dial is rescore depth: recall must improve
    monotonically with it and clear 0.8 at rescore=16 (measured 0.875;
    the whole pipeline is integer-deterministic, so the number is
    stable)."""
    from idhub_spark.operators.ann import _dot, pq_encode, pq_fit, pq_topk

    cb = pq_fit(vectors, m=8, k=16, max_iter=3)
    assert cb.count() == 8 * 16
    enc = pq_encode(vectors, cb)
    assert dict(enc.dtypes)["pq_code"] == "array<tinyint>"
    rng = enc.select(
        F.min(F.size("pq_code")).alias("mn"),
        F.max(F.size("pq_code")).alias("mx"),
        F.max(F.array_max("pq_code")).alias("cmax"),
        F.min(F.array_min("pq_code")).alias("cmin"),
    ).first()
    assert rng.mn == rng.mx == 8 and 0 <= rng.cmin and rng.cmax < 16

    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = vectors.select(F.col("vec_id").alias("_id"), vec_d.alias("_v"))
    q = v.filter(F.col("_id") < 8).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("q_v")
    )
    n = v.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("n_v"))
    from pyspark.sql import Window

    cosine = _dot(F.col("q_v"), F.col("n_v")) / (
        F.sqrt(_dot(F.col("q_v"), F.col("q_v")))
        * F.sqrt(_dot(F.col("n_v"), F.col("n_v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = (
        q.crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    exact = exact.cache()
    ec = exact.count()
    queries = vectors.filter(F.col("vec_id") < 8)

    def recall(rescore):
        got = pq_topk(queries, vectors, cb, k=5, rescore=rescore)
        return got.select("query_id", "neighbor_id").intersect(exact).count() / ec

    r4, r16 = recall(4), recall(16)
    exact.unpersist()
    assert r16 >= r4, f"recall not improving with rescore: {r4} -> {r16}"
    assert r16 >= 0.8, f"pq recall@5 at rescore=16: {r16}"


def test_ivf_pq_recall(spark, vectors):
    """IVF x PQ composition: probe-bounded m-byte candidate scans +
    exact rescore. Bar: within 0.1 of flat PQ at the same rescore
    depth (IVF may only lose what nprobe pruning loses) and >= 0.7
    absolute on the adversarial i.i.d. corpus."""
    from idhub_spark.operators.ann import ivf_pq_topk, kmeans_fit, pq_fit, pq_topk

    centroids = kmeans_fit(vectors, k=8, max_iter=3)
    cb = pq_fit(vectors, m=8, k=16, max_iter=3)
    queries = vectors.filter(F.col("vec_id") < 8)

    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = vectors.select(F.col("vec_id").alias("_id"), vec_d.alias("_v"))
    q = v.filter(F.col("_id") < 8).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("q_v")
    )
    n = v.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("n_v"))
    from idhub_spark.operators.ann import _dot
    from pyspark.sql import Window

    cosine = _dot(F.col("q_v"), F.col("n_v")) / (
        F.sqrt(_dot(F.col("q_v"), F.col("q_v")))
        * F.sqrt(_dot(F.col("n_v"), F.col("n_v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = (
        q.crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    ).cache()
    ec = exact.count()

    flat = pq_topk(queries, vectors, cb, k=5, rescore=16)
    comp = ivf_pq_topk(
        vectors, centroids, cb, query_ids=list(range(8)), k=5, nprobe=3, rescore=16
    )
    r_flat = flat.select("query_id", "neighbor_id").intersect(exact).count() / ec
    r_comp = comp.select("query_id", "neighbor_id").intersect(exact).count() / ec
    exact.unpersist()
    assert r_comp >= r_flat - 0.1, f"ivf_pq {r_comp} << flat {r_flat}"
    assert r_comp >= 0.7, f"ivf_pq recall@5 {r_comp}"


def test_ivf_sq8_index_roundtrip_pruned(spark, vectors, tmp_path):
    """The on-disk index contract: (1) search over the persisted
    cluster-partitioned layout returns EXACTLY what the in-memory
    composition returns, (2) the index scan is partition-pruned to the
    probed clusters (PartitionFilters carries the cluster IN-list, and
    fewer than all partition directories are read), (3) the ranking
    scan projects only id+code (column pruning within the pruned
    partitions)."""
    from idhub_spark.operators.ann import (
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        ivf_sq8_topk,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=8, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "ivf_sq8_index")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    import glob as _glob

    assert len(_glob.glob(f"{path}/cluster=*")) == 8
    # file-count discipline: default files_per_cluster=1 means ONE
    # file per cluster, not one per (task, cluster) — the r11 scale
    # audit measured 32x file debris without the pre-write repartition
    assert len(_glob.glob(f"{path}/cluster=*/*.parquet")) == 8

    queries = vectors.filter(F.col("vec_id") < 4)
    got = ivf_sq8_search_index(
        spark, path, queries, centroids, bounds, k=5, nprobe=2
    )
    want = ivf_sq8_topk(
        vectors, centroids, bounds, query_ids=[0, 1, 2, 3], k=5, nprobe=2
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) == 20

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    # the rescore tail must broadcast the candidate frame here too
    assert "SortMergeJoin" not in plan
    # the probed set is < all 8 clusters for 4 queries x nprobe 2
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*cluster[^\]]*)\]", plan)
    assert m, plan[:2000]
    # ranking scan reads only (vec_id, code) + partition col; the full
    # vector column appears ONLY in the rescore scan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any("code" in s and "embedding" not in s for s in schemas), schemas


def test_ivf_sq8_index_append(spark, vectors, tmp_path):
    """Appending a batch writes only into the batch's cluster
    directories (existing files untouched — mtime-stable) and the
    appended vectors are immediately searchable alongside the
    originals."""
    import glob as _glob
    import os

    from idhub_spark.operators.ann import (
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    old = vectors.filter(F.col("vec_id") >= 100)
    new = vectors.filter(F.col("vec_id") < 100)
    centroids = kmeans_fit(old, k=8, max_iter=2)
    bounds = sq8_fit(old)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(old, centroids, bounds, path)
    before = {f: os.path.getmtime(f) for f in _glob.glob(f"{path}/cluster=*/*.parquet")}

    ivf_sq8_index_append(new, centroids, bounds, path)
    after = {f: os.path.getmtime(f) for f in _glob.glob(f"{path}/cluster=*/*.parquet")}
    assert set(before) < set(after)  # new files appeared...
    assert all(after[f] == before[f] for f in before)  # ...none rewritten
    # append I/O ∝ batch clusters: at most one new file per cluster
    assert len(after) - len(before) <= 8

    assert spark.read.parquet(path).count() == vectors.count()
    # an appended vector's exact duplicate neighborhood is searchable:
    # query vec_id=5 (appended) must find corpus neighbors at all
    got = ivf_sq8_search_index(
        spark, path, vectors.filter(F.col("vec_id") == 5), centroids, bounds,
        k=5, nprobe=3,
    )
    rows = got.collect()
    assert len(rows) == 5 and all(r.query_id == 5 for r in rows)


def test_rescore_tail_no_smj(spark, vectors):
    """The exact-rescore tail must BROADCAST the candidate frame
    (|Q|*rescore*k rows by construction): without the hint Catalyst's
    size estimate above the window+filter compiles both rescore joins
    to SortMergeJoins that shuffle the full-corpus scaled-vector
    projection — at 100 TB a shuffle of data 4x heavier than the int8
    scan the composition just saved. Same plan-assert bar as the
    probe-side joins."""
    from idhub_spark.operators.ann import (
        ivf_sq8_topk,
        kmeans_fit,
        pq_fit,
        pq_topk,
        sq8_fit,
        sq8_topk,
    )

    centroids = kmeans_fit(vectors, k=8, max_iter=1)
    bounds = sq8_fit(vectors)
    cb = pq_fit(vectors, m=8, k=8, max_iter=1)
    queries = vectors.filter(F.col("vec_id") < 4)

    plans = {
        "ivf_sq8_topk": ivf_sq8_topk(
            vectors, centroids, bounds, query_ids=[0, 1, 2, 3], k=5, nprobe=2
        ),
        "sq8_topk": sq8_topk(queries, vectors, bounds, k=5),
        "pq_topk": pq_topk(queries, vectors, cb, k=5),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, f"{name} rescore shuffles the corpus"
        assert "BroadcastHashJoin" in plan, name


def test_ivf_pq_index_roundtrip_pruned(spark, vectors, tmp_path):
    """PQ on-disk index — the same contract bar the SQ8 index cleared:
    (1) search over the persisted cluster-partitioned layout returns
    EXACTLY what the in-memory ivf_pq_topk composition returns, (2) the
    index scan is partition-pruned to the probed clusters
    (PartitionFilters carries the cluster IN-list), (3) the ranking
    scan projects only id+pq_code — the embedding column appears ONLY
    in the rescore scan."""
    from idhub_spark.operators.ann import (
        ivf_pq_index_write,
        ivf_pq_search_index,
        ivf_pq_topk,
        kmeans_fit,
        pq_fit,
    )

    centroids = kmeans_fit(vectors, k=8, max_iter=2)
    cb = pq_fit(vectors, m=8, k=8, max_iter=1)
    path = str(tmp_path / "ivf_pq_index")
    ivf_pq_index_write(vectors, centroids, cb, path)
    import glob as _glob

    assert len(_glob.glob(f"{path}/cluster=*")) == 8
    assert len(_glob.glob(f"{path}/cluster=*/*.parquet")) == 8  # 1/cluster

    queries = vectors.filter(F.col("vec_id") < 4)
    got = ivf_pq_search_index(spark, path, queries, centroids, cb, k=5, nprobe=2)
    want = ivf_pq_topk(
        vectors, centroids, cb, query_ids=[0, 1, 2, 3], k=5, nprobe=2
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) == 20
    # self-contained usage: fits recovered from the index's own _fits
    no_args = ivf_pq_search_index(spark, path, queries, k=5, nprobe=2)
    assert sorted(map(tuple, no_args.collect())) == g
    # opening a PQ index through the SQ8 entry point fails clearly
    from idhub_spark.operators.ann import ivf_sq8_search_index

    with pytest.raises(ValueError, match="lacks _fits"):
        ivf_sq8_search_index(spark, path, queries, k=5)

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    assert "SortMergeJoin" not in plan  # broadcast rescore tail
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*cluster[^\]]*)\]", plan)
    assert m, plan[:2000]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any("pq_code" in s and "embedding" not in s for s in schemas), schemas


def test_ivf_pq_index_append(spark, vectors, tmp_path):
    """PQ index appends write only into the batch's cluster
    directories (existing files untouched — mtime-stable) and appended
    vectors are immediately searchable."""
    import glob as _glob
    import os

    from idhub_spark.operators.ann import (
        ivf_pq_index_append,
        ivf_pq_index_write,
        ivf_pq_search_index,
        kmeans_fit,
        pq_fit,
    )

    old = vectors.filter(F.col("vec_id") >= 100)
    new = vectors.filter(F.col("vec_id") < 100)
    centroids = kmeans_fit(old, k=8, max_iter=2)
    cb = pq_fit(old, m=8, k=8, max_iter=1)
    path = str(tmp_path / "pq_idx")
    ivf_pq_index_write(old, centroids, cb, path)
    before = {f: os.path.getmtime(f) for f in _glob.glob(f"{path}/cluster=*/*.parquet")}

    ivf_pq_index_append(new, centroids, cb, path)
    after = {f: os.path.getmtime(f) for f in _glob.glob(f"{path}/cluster=*/*.parquet")}
    assert set(before) < set(after)  # new files appeared...
    assert all(after[f] == before[f] for f in before)  # ...none rewritten

    assert spark.read.parquet(path).count() == vectors.count()
    got = ivf_pq_search_index(
        spark, path, vectors.filter(F.col("vec_id") == 5), centroids, cb,
        k=5, nprobe=3,
    )
    rows = got.collect()
    assert len(rows) == 5 and all(r.query_id == 5 for r in rows)


def test_sq8_drift_stats(spark):
    """Drift stats must count exactly the values sq8_encode would
    clamp, flag the dimension concentrating the drift, and report
    exact integer-micro rates."""
    from idhub_spark.operators.ann import sq8_drift_stats

    bounds = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 1.0])], "mins array<double>, maxs array<double>"
    )
    batch = spark.createDataFrame(
        [(1, [0.5, 5.0]), (2, [0.5, -3.0]), (3, [0.5, 0.5]), (4, [2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    row = sq8_drift_stats(batch, bounds).collect()[0]
    assert row.n_vectors == 4 and row.n_values == 8
    assert row.n_clamped == 3  # dim1: 5.0, -3.0; dim0: 2.0
    assert row.clamp_rate_micro == 375_000  # 3/8
    assert row.worst_dim == 1 and row.worst_dim_rate_micro == 500_000  # 2/4

    # empty batch: counts are 0 (not NULL); rates stay NULL (0/0)
    empty = batch.filter(F.col("vec_id") < 0)
    erow = sq8_drift_stats(empty, bounds).collect()[0]
    assert erow.n_vectors == 0 and erow.n_values == 0 and erow.n_clamped == 0
    assert erow.clamp_rate_micro is None


def test_pq_drift_stats_exact(spark):
    """PQ drift stats must report the exact integer-micro squared
    reconstruction error of the codes pq_encode would assign, flag the
    subspace concentrating the distortion, and count every subvector —
    pinned on a hand-built 2-sub codebook with known centroids."""
    from idhub_spark.operators.ann import pq_drift_stats

    # sub 0 and sub 1 each have centroids {0.0, 1.0} (n=1 exact sums)
    codebook = spark.createDataFrame(
        [
            (0, 0, [0.0], 1, [0]),
            (0, 1, [1.0], 1, [1000]),
            (1, 0, [0.0], 1, [0]),
            (1, 1, [1.0], 1, [1000]),
        ],
        "sub int, cluster int, centroid array<double>, _n long, _s array<long>",
    )
    # NULL and empty vectors must contribute NO subvectors (the
    # encodable-content contract; ADVICE r11: the constructed per_sub
    # array is non-null even when every element is, so the unfixed
    # posexplode emitted m NULL-se rows per such vector, inflating
    # counts and deflating mse)
    batch = spark.createDataFrame(
        [(1, [0.1, 0.9]), (2, [0.0, 0.5]), (3, None), (4, [])],
        "vec_id long, embedding array<double>",
    )
    row = pq_drift_stats(batch, codebook).collect()[0]
    # v1: sub0 err (0.1-0)^2=0.01 -> 10000 micro; sub1 (0.9-1)^2 -> 10000
    # v2: sub0 0; sub1 (0.5-0)^2 = (0.5-1)^2 = 0.25 -> 250000
    assert row.n_vectors == 2 and row.n_subvectors == 4
    assert row.mse_micro == (10000 + 10000 + 0 + 250000) // 4
    assert row.max_se_micro == 250000
    assert row.worst_sub == 1 and row.worst_sub_mse_micro == 260000 // 2


def test_pq_drift_worst_sub_uses_its_own_count(spark):
    """Variable-length (truncated) vectors leave trailing subspaces
    NULL, so per-sub n differs — worst_sub_mse_micro must divide the
    worst sub's total by THAT sub's count, not by max(n) over all subs
    (ADVICE r12: max(tot) div max(n) mixed operands from different
    subs once the NULL-se filter made n non-uniform)."""
    from idhub_spark.operators.ann import pq_drift_stats

    codebook = spark.createDataFrame(
        [
            (0, 0, [0.0], 1, [0]),
            (0, 1, [1.0], 1, [1000]),
            (1, 0, [0.0], 1, [0]),
            (1, 1, [1.0], 1, [1000]),
        ],
        "sub int, cluster int, centroid array<double>, _n long, _s array<long>",
    )
    # sub0: se 0, 250000, 0 (n=3, tot=250000); sub1: se 250000, 250000
    # over the two FULL vectors only (n=2, tot=500000) — v2 is a
    # truncated length-1 vector whose sub1 slice is empty (NULL se)
    batch = spark.createDataFrame(
        [(1, [0.0, 0.5]), (2, [0.5]), (3, [0.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    row = pq_drift_stats(batch, codebook).collect()[0]
    assert row.n_vectors == 3 and row.n_subvectors == 5
    assert row.mse_micro == 750000 // 5
    assert row.worst_sub == 1
    # the defect reported 500000 div 3 = 166666 (sub1's tot over
    # sub0's n); correct is sub1's own 500000 div 2
    assert row.worst_sub_mse_micro == 250000


def test_ivf_index_compaction_composition(spark, vectors, tmp_path):
    """Maintenance composition: repeated appends leave one file per
    cluster per batch; ivf_index_compact glues them per-leaf AND
    carries the _fits sidecar (the generic compactor deliberately
    skips '_'-dirs, which would strand a self-contained index), so
    the COMPACTED index answers a no-fit-args search byte-identically
    (partition columns survive the mirror layout)."""
    import glob as _glob

    from idhub_spark.operators.ann import (
        ivf_index_compact,
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=8, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    thirds = [
        vectors.filter(F.col("vec_id") % 3 == i) for i in range(3)
    ]
    ivf_sq8_index_write(thirds[0], centroids, bounds, path)
    ivf_sq8_index_append(thirds[1], centroids, bounds, path)
    ivf_sq8_index_append(thirds[2], centroids, bounds, path)
    n_before = len(_glob.glob(f"{path}/cluster=*/*.parquet"))
    assert n_before > 8  # append debris: up to one file per batch per cluster

    packed = str(tmp_path / "idx_packed")
    n_src, n_out = ivf_index_compact(spark, path, packed, target_bytes=10**9)
    assert n_src == n_before and n_out == 8  # one packed file per cluster

    queries = vectors.filter(F.col("vec_id") < 4)
    # no fit args on the compacted copy: _fits must have been carried
    got = ivf_sq8_search_index(spark, packed, queries, k=5, nprobe=3)
    want = ivf_sq8_search_index(spark, path, queries, centroids, bounds, k=5, nprobe=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_index_fits_roundtrip_and_stats(spark, vectors, tmp_path):
    """Self-contained index contract: fits persisted under _fits/ are
    invisible to data scans of the index root, round-trip exactly
    (searching with LOADED fits returns byte-identical results), a
    fitless index raises on load, and ivf_index_stats reports the
    per-cluster row/file layout without reading vector bytes."""
    from idhub_spark.operators.ann import (
        ivf_index_load_fits,
        ivf_index_save_fits,
        ivf_index_stats,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=8, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    ivf_index_save_fits(spark, path, centroids=centroids, bounds=bounds)

    # _fits is invisible to a data read of the index root
    back = spark.read.parquet(path)
    assert back.count() == vectors.count()
    assert "mins" not in back.columns and "_n" not in back.columns

    fits = ivf_index_load_fits(spark, path)
    assert set(fits) == {"centroids", "bounds"}
    queries = vectors.filter(F.col("vec_id") < 4)
    # self-contained usage: no fit args — search loads them from _fits
    got = ivf_sq8_search_index(spark, path, queries, k=5, nprobe=2)
    want = ivf_sq8_search_index(
        spark, path, queries, centroids, bounds, k=5, nprobe=2
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    import pytest as _pytest

    bare = str(tmp_path / "bare")
    ivf_sq8_index_write(vectors, centroids, bounds, bare, save_fits=False)
    with _pytest.raises(ValueError, match="no _fits"):
        ivf_index_load_fits(spark, bare)

    # mixed usage: index persists ONLY centroids, bounds managed
    # externally — search with explicit bounds must work, and a call
    # that needs the absent fit must name exactly it
    half = str(tmp_path / "half")
    ivf_sq8_index_write(vectors, centroids, bounds, half, save_fits=False)
    ivf_index_save_fits(spark, half, centroids=centroids)
    mixed = ivf_sq8_search_index(spark, half, queries, bounds=bounds, k=5, nprobe=2)
    assert sorted(map(tuple, mixed.collect())) == sorted(map(tuple, want.collect()))
    with _pytest.raises(ValueError, match=r"lacks _fits/\['bounds'\]"):
        ivf_sq8_search_index(spark, half, queries, k=5)

    stats = {r.cluster: (r.n_rows, r.n_files) for r in ivf_index_stats(spark, path).collect()}
    assert stats[-1][0] == vectors.count()
    per = {c: v for c, v in stats.items() if c >= 0}
    assert len(per) == 8 and all(v[1] == 1 for v in per.values())
    assert sum(v[0] for v in per.values()) == vectors.count()


def test_ivf_sq8_all_pairs_runs_unhinted(spark, vectors):
    """query_ids=None is the ALL-PAIRS form: the query side is the
    corpus, so the probe/rescore broadcast hints must switch OFF (a
    forced broadcast of a corpus-sized frame dies at scale). Pin that
    the all-pairs plan executes and covers every vector as a query,
    and that its per-query top-k agrees with the bounded form."""
    from idhub_spark.operators.ann import ivf_sq8_topk, kmeans_fit, sq8_fit

    centroids = kmeans_fit(vectors, k=8, max_iter=2)
    bounds = sq8_fit(vectors)
    allp = ivf_sq8_topk(vectors, centroids, bounds, k=3, nprobe=2)
    rows = allp.filter(F.col("query_id") < 4).collect()
    n_queries = allp.select("query_id").distinct().count()
    assert n_queries == vectors.count()
    bounded = ivf_sq8_topk(
        vectors, centroids, bounds, query_ids=[0, 1, 2, 3], k=3, nprobe=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, bounded))


def test_ann_results_partitioning_invariant(spark, vectors):
    """The determinism claim behind every ANN hash oracle: identical
    results whatever the corpus partitioning. Integer scores + integer
    tie-breaks mean nothing depends on partial-sum or scan order —
    pinned by running the same searches on 2- and 17-partition copies
    of the corpus (fits held constant)."""
    from idhub_spark.operators.ann import (
        ivf_sq8_topk,
        kmeans_fit,
        pq_fit,
        pq_topk,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=8, max_iter=2)
    bounds = sq8_fit(vectors)
    cb = pq_fit(vectors, m=8, k=8, max_iter=1)

    def run(corpus):
        a = ivf_sq8_topk(
            corpus, centroids, bounds, query_ids=[0, 1, 2, 3], k=5, nprobe=2
        )
        b = pq_topk(corpus.filter(F.col("vec_id") < 4), corpus, cb, k=5)
        return sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))

    r2 = run(vectors.repartition(2))
    r17 = run(vectors.repartition(17))
    assert r2 == r17


def test_ivf_index_split_cluster(spark, vectors, tmp_path):
    """Splitting a hot cluster must touch ONLY its directory (others
    mtime-stable), preserve every row, renumber sub-clusters above the
    existing max, refresh _fits/centroids, and leave the index fully
    searchable at the recall bar. Members re-route within the split
    cell only (the Faiss split behavior), so the pin is structural +
    recall, not byte-equivalence to a global re-assignment."""
    import glob as _glob
    import os

    from idhub_spark.operators.ann import (
        _dot,
        ivf_index_load_fits,
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    n_total = vectors.count()

    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    hot = max((c for c in stats if c >= 0), key=lambda c: stats[c])
    before = {
        f: os.path.getmtime(f)
        for f in _glob.glob(f"{path}/cluster=*/*.parquet")
        if f"cluster={hot}/" not in f
    }

    # stale staging from a run that crashed BEFORE the apply phase
    # (old dir still present) must be discarded, not resumed
    stale = tmp_path / "idx" / "_split_staging" / "cluster=999"
    stale.mkdir(parents=True)
    (stale / "junk.parquet").write_bytes(b"xx")

    new_centroids = ivf_index_split_cluster(spark, path, hot, k2=2)
    assert not os.path.isdir(f"{path}/_split_staging")  # staging cleaned
    assert not os.path.isdir(f"{path}/cluster=999")  # stale junk discarded
    assert new_centroids.count() == 5  # 4 - 1 + 2
    clusters = {r.cluster for r in new_centroids.select("cluster").collect()}
    assert hot not in clusters and {4, 5} <= clusters  # renumbered above max

    # only the hot directory changed
    assert not os.path.isdir(f"{path}/cluster={hot}")
    after = {
        f: os.path.getmtime(f)
        for f in _glob.glob(f"{path}/cluster=*/*.parquet")
        if f"cluster={hot}/" not in f
    }
    assert all(after[f] == before[f] for f in before)
    # rows preserved; _fits refreshed
    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s2[-1] == n_total and hot not in s2
    assert ivf_index_load_fits(spark, path)["centroids"].count() == 5

    # still searchable at the recall bar (no-arg: uses refreshed fits)
    got = ivf_sq8_search_index(
        spark, path, vectors.filter(F.col("vec_id") < 8), k=5, nprobe=3
    )
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = vectors.select(F.col("vec_id").alias("_id"), vec_d.alias("_v"))
    q = v.filter(F.col("_id") < 8).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("q_v")
    )
    n = v.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("n_v"))
    from pyspark.sql import Window

    cosine = _dot(F.col("q_v"), F.col("n_v")) / (
        F.sqrt(_dot(F.col("q_v"), F.col("q_v")))
        * F.sqrt(_dot(F.col("n_v"), F.col("n_v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = (
        q.crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    recall = (
        got.select("query_id", "neighbor_id").intersect(exact).count()
        / exact.count()
    )
    assert recall >= 0.8, f"post-split recall@5 {recall}"


def test_ivf_index_split_resume_after_crash(spark, vectors, tmp_path):
    """A split that crashed AFTER deleting the old directory (staged
    members + centroid set present, old dir gone, rows temporarily
    missing from the index) must RESUME on rerun: staged directories
    renamed in, _fits/centroids refreshed, staging cleaned, all rows
    restored — and never duplicated."""
    import glob as _glob
    import os
    import shutil

    from idhub_spark.operators.ann import (
        ivf_index_load_fits,
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    n_total = vectors.count()
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    hot = max((c for c in stats if c >= 0), key=lambda c: stats[c])

    # run the split fully, then rewind it to the committed-mid-apply
    # state: new sub-cluster dirs back into staging (+ the staged
    # centroid set, the _source_cluster record and _COMMITTED, all
    # written before the apply's delete), old dir still absent
    done = ivf_index_split_cluster(spark, path, hot, k2=2)
    staging = os.path.join(path, "_split_staging")
    os.makedirs(staging)
    for d in _glob.glob(f"{path}/cluster=*"):
        cid = int(d.rsplit("=", 1)[1])
        if cid in (4, 5):  # the renumbered sub-clusters of a k=4 index
            shutil.move(d, os.path.join(staging, os.path.basename(d)))
    done.coalesce(1).write.parquet(f"{staging}/_new_centroids")
    spark.createDataFrame([(int(hot),)], "cluster int").coalesce(
        1
    ).write.parquet(f"{staging}/_source_cluster")
    open(os.path.join(staging, "_COMMITTED"), "w").close()
    # sanity: the index is now missing the split members
    assert spark.read.parquet(path).count() < n_total

    resumed = ivf_index_split_cluster(spark, path, hot, k2=2)
    assert not os.path.isdir(staging)
    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s2[-1] == n_total  # restored, not duplicated
    assert resumed.count() == 5
    assert ivf_index_load_fits(spark, path)["centroids"].count() == 5


def test_ivf_index_split_rerun_other_cluster_resumes_first(
    spark, vectors, tmp_path
):
    """The ADVICE-r11 scenario: a split of cluster A crashes mid-apply
    (A's members exist ONLY in staging), and the rerun targets a
    DIFFERENT cluster B — the default shape, since the CLI auto-pick
    reads post-crash stats where A is absent. Keyed on the caller's
    argument this used to hit the 'crashed before delete' branch
    (root/cluster=B exists) and delete the staging, silently losing
    every member of A. Keyed on the staged _source_cluster marker, the
    rerun must first RESUME A's split, then perform B's on the resumed
    centroid set: all rows preserved, nothing duplicated."""
    import glob as _glob
    import os
    import shutil

    from idhub_spark.operators.ann import (
        ivf_index_load_fits,
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    n_total = vectors.count()
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    hot = max((c for c in stats if c >= 0), key=lambda c: stats[c])

    # rewind a completed split of `hot` to the crashed-mid-apply state
    done = ivf_index_split_cluster(spark, path, hot, k2=2)
    staging = os.path.join(path, "_split_staging")
    os.makedirs(staging)
    for d in _glob.glob(f"{path}/cluster=*"):
        if int(d.rsplit("=", 1)[1]) in (4, 5):
            shutil.move(d, os.path.join(staging, os.path.basename(d)))
    done.coalesce(1).write.parquet(f"{staging}/_new_centroids")
    spark.createDataFrame([(int(hot),)], "cluster int").coalesce(
        1
    ).write.parquet(f"{staging}/_source_cluster")
    open(os.path.join(staging, "_COMMITTED"), "w").close()
    lost_rows = n_total - spark.read.parquet(path).count()
    assert lost_rows > 0  # A's members live only in staging

    # rerun targets the biggest SURVIVING cluster (the CLI auto-pick)
    post_crash = {
        r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()
    }
    other = max((c for c in post_crash if c >= 0), key=lambda c: post_crash[c])
    assert other != hot

    out = ivf_index_split_cluster(spark, path, other, k2=2)
    assert not os.path.isdir(staging)
    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s2[-1] == n_total  # A's members restored AND B's split applied
    # 4 originals - hot + 2 subs - other + 2 subs
    assert out.count() == 6
    got = {r.cluster for r in out.select("cluster").collect()}
    assert hot not in got and other not in got and {4, 5, 6, 7} <= got
    assert ivf_index_load_fits(spark, path)["centroids"].count() == 6


def test_split_hot_clusters_policy_skewed(spark, tmp_path):
    """The auto-split POLICY on a genuinely SKEWED index (the r11
    audit's split rows used uniform batches — splits exist because of
    skew): one handcrafted cluster holds 70% of the rows; with
    max_share=0.45 the policy must keep splitting until every cluster
    is at or under the threshold, preserve every row, never rewrite an
    untouched sibling file, and leave the index searchable at the
    recall bar through the refreshed _fits."""
    import glob as _glob
    import os

    from idhub_spark.operators.ann import (
        _dot,
        ivf_index_stats,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        split_hot_clusters,
        sq8_fit,
    )
    from pyspark.sql import Window

    dim = 8
    rows = []
    for i in range(240):
        if i < 168:  # 70%: two tight sub-blobs around 10.0 / 10.6
            off = 0.0 if i % 2 == 0 else 0.6
            rows.append(
                (i, [10.0 + off + ((i * 7 + d * 3) % 11) * 0.01 for d in range(dim)])
            )
        else:  # 30%: spread over two far regions
            sgn = -1.0 if i % 2 == 0 else 1.0
            rows.append(
                (i, [sgn * (4.0 + ((i * 13 + d * 5) % 17) * 0.1) for d in range(dim)])
            )
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # handcrafted centroids pin the skew: cluster 0 captures the whole
    # blob (kmeans_fit at max_iter=0 turns the three representative
    # vectors into init centroids carrying the exact _n/_s integer rep)
    reps = spark.createDataFrame(
        [(0, [10.3] * dim), (1, [-4.8] * dim), (2, [4.8] * dim)],
        "vec_id long, embedding array<double>",
    )
    centroids = kmeans_fit(reps, k=3, max_iter=0)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    total = stats.pop(-1)
    assert max(stats.values()) / total > 0.5  # genuinely skewed

    before = {
        f: os.path.getmtime(f) for f in _glob.glob(f"{path}/cluster=*/*.parquet")
    }

    cents, report = split_hot_clusters(spark, path, max_share=0.45, k2=2)

    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    t2 = s2.pop(-1)
    assert t2 == total  # rows preserved across the loop
    assert max(s2.values()) / t2 <= 0.45  # policy goal reached
    assert report and all(r["did_split"] for r in report)
    assert report[0]["cluster"] == 0 and report[0]["rows_before"] == 168
    # centroid frame and refreshed fits agree with the on-disk layout
    assert {r.cluster for r in cents.select("cluster").collect()} == set(s2)
    # no surviving original file was rewritten in place
    after = {
        f: os.path.getmtime(f) for f in _glob.glob(f"{path}/cluster=*/*.parquet")
    }
    survivors = set(before) & set(after)
    assert survivors and all(after[f] == before[f] for f in survivors)
    assert not os.path.isdir(f"{path}/_split_staging")

    # still searchable through the refreshed fits: the blob's 0.01
    # jitter sits BELOW the SQ8 quantization step (~0.067 on this
    # range), so exact-float rank order is not recoverable from codes
    # (candidates tie at quantized precision) — the post-split property
    # that matters is ROUTING: every blob query must still reach the
    # blob's sub-clusters and return k near-identical neighbors
    got = ivf_sq8_search_index(
        spark, path, vectors.filter(F.col("vec_id") < 8), k=5, nprobe=3
    )
    per_q = got.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("neighbor_id").alias("min_nb"),
        F.max("neighbor_id").alias("max_nb"),
        F.min("cosine").alias("min_cos"),
    )
    checks = per_q.agg(
        F.min("n").alias("min_n"),
        F.max("max_nb").alias("max_nb"),
        F.min("min_cos").alias("min_cos"),
    ).collect()[0]
    assert checks.min_n == 5  # full result set per query
    assert checks.max_nb < 168  # every neighbor is a blob member
    assert checks.min_cos > 0.999  # routed to the true near-dup mass


def test_ivf_index_delete(spark, vectors, tmp_path):
    """Vector retraction: deleted ids vanish from the index and from
    search results, only their cluster directories are rewritten
    (others mtime-stable), an entirely-emptied cluster's directory is
    dropped outright, staging is cleaned, and a rerun is a no-op."""
    import glob as _glob
    import os

    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_index_stats,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    n_total = vectors.count()
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    small = min((c for c in stats if c >= 0), key=lambda c: stats[c])
    big = max((c for c in stats if c >= 0), key=lambda c: stats[c])

    # victims: the ENTIRE smallest cluster + one row of the biggest
    idx = spark.read.parquet(path)
    victims = [
        r.vec_id for r in idx.filter(F.col("cluster") == small).collect()
    ] + [
        idx.filter(F.col("cluster") == big).select(F.min("vec_id")).first()[0]
    ]
    untouched = {
        f: os.path.getmtime(f)
        for f in _glob.glob(f"{path}/cluster=*/*.parquet")
        if f"cluster={small}/" not in f and f"cluster={big}/" not in f
    }

    rep = ivf_index_delete(spark, path, [int(v) for v in victims])
    assert rep["rows_deleted"] == len(victims)
    assert rep["clusters_dropped"] == 1 and rep["clusters_rewritten"] == 1
    assert not os.path.isdir(f"{path}/_delete_staging")
    assert not os.path.isdir(f"{path}/cluster={small}")  # emptied -> dropped

    post = spark.read.parquet(path)
    assert post.count() == n_total - len(victims)
    assert post.filter(F.col("vec_id").isin([int(v) for v in victims])).count() == 0
    after = {
        f: os.path.getmtime(f)
        for f in _glob.glob(f"{path}/cluster=*/*.parquet")
        if f"cluster={small}/" not in f and f"cluster={big}/" not in f
    }
    assert untouched and after == untouched  # other dirs never rewritten

    # search: full k results, none of them deleted (fits untouched —
    # the emptied cluster simply yields no candidates)
    got = ivf_sq8_search_index(
        spark, path, vectors.filter(F.col("vec_id") < 4), k=5, nprobe=4
    )
    rows = got.collect()
    assert {r.query_id for r in rows} and all(
        r.neighbor_id not in set(victims) for r in rows
    )

    # rerun: idempotent no-op
    rep2 = ivf_index_delete(spark, path, [int(v) for v in victims])
    assert rep2 == {
        "rows_deleted": 0, "clusters_rewritten": 0, "clusters_dropped": 0
    }


def test_ivf_index_delete_everything_leaves_readable_index(
    spark, vectors, tmp_path
):
    """Deleting every vector empties every cluster; the staged rewrite
    keeps one zero-row file (StagedCommit.stage_partitions), so the
    index reads back as empty, search returns no rows and stats total
    0, instead of every read failing schema inference."""
    import os

    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_index_stats,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    path = str(tmp_path / "idx_all")
    ivf_sq8_index_write(vectors, kmeans_fit(vectors, k=4, max_iter=2),
                        sq8_fit(vectors), path)
    ids = [int(r.vec_id) for r in vectors.select("vec_id").collect()]
    n_clusters = spark.read.parquet(path).select("cluster").distinct().count()
    rep = ivf_index_delete(spark, path, ids)
    assert rep["rows_deleted"] == len(ids)
    assert rep["clusters_rewritten"] == 0
    assert rep["clusters_dropped"] == n_clusters
    assert not os.path.isdir(f"{path}/_delete_staging")
    assert spark.read.parquet(path).count() == 0
    got = ivf_sq8_search_index(
        spark, path, vectors.filter(F.col("vec_id") < 4), k=5, nprobe=4
    )
    assert got.count() == 0
    total = ivf_index_stats(spark, path).collect()[0]
    assert (total.cluster, total.n_rows) == (-1, 0)


def test_ivf_index_split_discards_corrupt_marker_staging(
    spark, vectors, tmp_path
):
    """An UNCOMMITTED staging whose _source_cluster record is unreadable
    (crash DURING the record write) is discarded like any uncommitted
    staging — _COMMITTED is written after the record — and the split
    proceeds normally. A COMMITTED staging with an unreadable record
    raises instead of guessing, leaving the staging in place."""
    import os

    from idhub_spark.operators.ann import (
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    n_total = vectors.count()
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    hot = max((c for c in stats if c >= 0), key=lambda c: stats[c])

    marker = tmp_path / "idx" / "_split_staging" / "_source_cluster"
    marker.mkdir(parents=True)
    (marker / "part-corrupt.parquet").write_bytes(b"not parquet")
    (marker.parent / "_COMMITTED").touch()
    with pytest.raises(RuntimeError, match="refusing to guess"):
        ivf_index_split_cluster(spark, path, hot, k2=2)
    assert os.path.isdir(f"{path}/_split_staging")

    (marker.parent / "_COMMITTED").unlink()
    out = ivf_index_split_cluster(spark, path, hot, k2=2)
    assert out.count() == 5
    assert not os.path.isdir(f"{path}/_split_staging")
    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s2[-1] == n_total


def _merge_fixture(spark):
    """200 vectors in 4 groups: two big (90) and two cold (12 + 8)."""
    from idhub_spark.operators.ann import kmeans_fit

    dim = 8
    rows = []
    for i in range(200):
        if i < 90:
            base, jit = -5.0, ((i * 7) % 11) * 0.01
        elif i < 180:
            base, jit = 5.0, ((i * 5) % 11) * 0.01
        elif i < 192:
            base, jit = 10.0, ((i * 3) % 7) * 0.01
        else:
            base, jit = -10.0, ((i * 3) % 7) * 0.01
        rows.append((i, [base + jit + d * 0.001 for d in range(dim)]))
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    reps = spark.createDataFrame(
        [(0, [-5.0] * dim), (1, [5.0] * dim), (2, [10.0] * dim),
         (3, [-10.0] * dim)],
        "vec_id long, embedding array<double>",
    )
    return vectors, kmeans_fit(reps, k=4, max_iter=0)


def test_ivf_index_merge_cold_clusters(spark, tmp_path):
    """Cold clusters fold into their members' nearest survivors:
    source dirs dropped, rows preserved (appended into targets — no
    existing file rewritten), fits refreshed to the surviving set,
    search intact, rerun a no-op."""
    import glob as _glob
    import os

    from idhub_spark.operators.ann import (
        ivf_index_load_fits,
        ivf_index_merge_cold_clusters,
        ivf_index_stats,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    stats = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert stats[2] == 12 and stats[3] == 8  # the cold pair
    before = {
        f: os.path.getmtime(f) for f in _glob.glob(f"{path}/cluster=*/*.parquet")
    }

    cents, rep = ivf_index_merge_cold_clusters(spark, path, min_rows=20)
    assert rep == {"merged_clusters": [2, 3], "rows_moved": 20}
    assert not os.path.isdir(f"{path}/cluster=2")
    assert not os.path.isdir(f"{path}/cluster=3")
    assert not os.path.isdir(f"{path}/_merge_staging")

    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s2[-1] == 200 and set(s2) == {-1, 0, 1}
    # geometry: the 10-blob joins +5's cluster, the -10-blob joins -5's
    assert s2[0] == 98 and s2[1] == 102
    # append-only: every pre-merge file in a SURVIVING dir is untouched
    survivors = {f for f in before if "/cluster=2/" not in f and "/cluster=3/" not in f}
    assert survivors and all(os.path.getmtime(f) == before[f] for f in survivors)
    assert {r.cluster for r in cents.select("cluster").collect()} == {0, 1}
    assert ivf_index_load_fits(spark, path)["centroids"].count() == 2

    # merged members remain searchable (query 185 sits in the old 10-blob)
    got = ivf_sq8_search_index(
        spark, path, vectors.filter(F.col("vec_id") == 185), k=3, nprobe=2
    )
    nbs = {r.neighbor_id for r in got.collect()}
    assert nbs and nbs <= set(range(180, 192)) - {185}

    # rerun: nothing cold remains
    cents2, rep2 = ivf_index_merge_cold_clusters(spark, path, min_rows=20)
    assert rep2 == {"merged_clusters": [], "rows_moved": 0}


def test_ivf_index_merge_resume_after_crash(spark, tmp_path):
    """A merge that crashed mid-apply (staging committed, only SOME
    cold dirs deleted) must resume on the next call: remaining cold
    dirs deleted, staged rows promoted, fits refreshed — rows never
    duplicated."""
    import os

    from idhub_spark.operators.ann import (
        _assign,
        ivf_index_load_fits,
        ivf_index_merge_cold_clusters,
        ivf_index_stats,
        ivf_sq8_index_write,
        sq8_fit,
    )
    from idhub_spark.session import literal_frame

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    staging = f"{path}/_merge_staging"

    # fabricate the committed staging exactly as phase 1 writes it
    survivors = centroids.filter(~F.col("cluster").isin([2, 3]))
    members = spark.read.parquet(path).filter(F.col("cluster").isin([2, 3]))
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    assigned = _assign(
        members.select(F.col("vec_id").alias("_id"), vec_d.alias("_v")),
        survivors,
    ).select(F.col("_id").alias("vec_id"), "cluster")
    (
        members.drop("cluster")
        .join(assigned, "vec_id")
        .repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{staging}/data")
    )
    survivors.coalesce(1).write.parquet(f"{staging}/_new_centroids")
    literal_frame(spark, [(2,), (3,)], "cluster int").coalesce(1).write.parquet(
        f"{staging}/_cold_clusters"
    )
    # the crash: committed, apply entered — cluster=3 already deleted,
    # cluster=2 not yet
    import pathlib
    import shutil

    pathlib.Path(staging, "_COMMITTED").touch()
    shutil.rmtree(f"{path}/cluster=3")
    assert spark.read.parquet(path).count() == 192  # temporarily missing

    cents, rep = ivf_index_merge_cold_clusters(spark, path, min_rows=20)
    assert rep == {"merged_clusters": [], "rows_moved": 0}  # resume, then no-op
    assert not os.path.isdir(staging)
    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s2[-1] == 200 and set(s2) == {-1, 0, 1}  # restored, not duplicated
    assert ivf_index_load_fits(spark, path)["centroids"].count() == 2
    assert {r.cluster for r in cents.select("cluster").collect()} == {0, 1}


def test_merge_cold_reclaims_orphan_centroids(spark, tmp_path):
    """ivf_index_delete drops an emptied cluster's DIRECTORY but keeps
    its centroid row; every later search routed to that orphan wastes
    one of its nprobe slots on an empty read. merge-cold must judge
    coldness over the CENTROID set (0 rows for dir-less ids) and fold
    the orphan away."""
    import os

    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_index_load_fits,
        ivf_index_merge_cold_clusters,
        ivf_sq8_index_write,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)

    # empty cluster 3 entirely via retraction: dir dropped, centroid kept
    idx = spark.read.parquet(path)
    victims = [
        int(r.vec_id) for r in idx.filter(F.col("cluster") == 3).collect()
    ]
    rep = ivf_index_delete(spark, path, victims)
    assert rep["clusters_dropped"] == 1
    assert not os.path.isdir(f"{path}/cluster=3")
    assert ivf_index_load_fits(spark, path)["centroids"].count() == 4  # orphan

    cents, mrep = ivf_index_merge_cold_clusters(spark, path, min_rows=20)
    # cluster 3 (orphan, 0 rows) and cluster 2 (12 rows) both fold
    assert mrep["merged_clusters"] == [2, 3]
    assert mrep["rows_moved"] == 12  # only cluster 2 had members left
    assert {r.cluster for r in cents.select("cluster").collect()} == {0, 1}
    assert ivf_index_load_fits(spark, path)["centroids"].count() == 2
    total = spark.read.parquet(path).count()
    assert total == 200 - len(victims)


def test_ivf_delete_then_reingest(spark, vectors, tmp_path):
    """Takedown reversal for the vector index: retracted ids can be
    re-accepted via a normal append — exactly one copy afterwards,
    searchable again."""
    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    n_total = vectors.count()

    victims = [0, 1, 2]
    ivf_index_delete(spark, path, victims)
    assert spark.read.parquet(path).count() == n_total - 3

    ivf_sq8_index_append(
        vectors.filter(F.col("vec_id").isin(victims)), centroids, bounds, path
    )
    post = spark.read.parquet(path)
    assert post.count() == n_total
    assert post.filter(F.col("vec_id").isin(victims)).count() == 3  # once each

    got = ivf_sq8_search_index(
        spark, path, vectors.filter(F.col("vec_id") == 0), k=3, nprobe=4
    )
    assert got.count() == 3  # full result set, re-ingested id queryable


def test_maintenance_entry_points_settle_pending_split(
    spark, vectors, tmp_path
):
    """ADVICE r12 medium: after a split crashed mid-apply, the split
    members live ONLY in _split_staging — a delete that scanned the
    index without settling first reported success while never seeing
    those rows, and the eventual split resume renamed the retracted
    vectors back in (the one failure a takedown path must never have);
    stats had the same blind spot. Both entry points now settle the
    pending staging before scanning."""
    import glob as _glob
    import os
    import shutil

    from idhub_spark.operators.ann import (
        ivf_index_delete,
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    n_total = vectors.count()
    stats0 = {
        r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()
    }
    hot = max((c for c in stats0 if c >= 0), key=lambda c: stats0[c])
    done = ivf_index_split_cluster(spark, path, hot, k2=2)
    staging = os.path.join(path, "_split_staging")

    def _rewind():
        """Put the index back in the crashed-mid-apply state: the two
        sub-cluster dirs live only in staging, marker valid, source
        dir (hot) absent."""
        os.makedirs(staging)
        for d in _glob.glob(f"{path}/cluster=*"):
            if int(d.rsplit("=", 1)[1]) in (4, 5):
                shutil.move(d, os.path.join(staging, os.path.basename(d)))
        done.coalesce(1).write.mode("overwrite").parquet(
            f"{staging}/_new_centroids"
        )
        spark.createDataFrame([(int(hot),)], "cluster int").coalesce(
            1
        ).write.parquet(f"{staging}/_source_cluster")
        open(os.path.join(staging, "_COMMITTED"), "w").close()

    # (a) stats settles: the report must count the staged rows
    _rewind()
    assert spark.read.parquet(path).count() < n_total  # rows only staged
    s = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s[-1] == n_total
    assert not os.path.isdir(staging)

    # (b) delete settles: retract a vector that exists ONLY in staging
    _rewind()
    victim = int(
        spark.read.parquet(f"{staging}/cluster=4").select("vec_id").first()[0]
    )
    assert (
        spark.read.parquet(path).filter(F.col("vec_id") == victim).count()
        == 0
    )  # invisible to an unsettled scan — the old silent-success shape
    res = ivf_index_delete(spark, path, [victim])
    assert res["rows_deleted"] == 1
    assert not os.path.isdir(staging)
    live = spark.read.parquet(path)
    assert live.count() == n_total - 1
    assert live.filter(F.col("vec_id") == victim).count() == 0


def test_ivf_maintenance_state_ready(spark):
    """The r15-ready composite driver query (plans/similarity_q.py
    ivf_maintenance_state — unregistered until a rotation slot opens;
    CLAUDE.md round state) must already hold every verdict invariant:
    delete -> orphan reclaim -> cold merge -> stats consistency."""
    from idhub_spark.plans.similarity_q import ivf_maintenance_state

    out = {
        r.metric: r.ok
        for r in ivf_maintenance_state(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(out) == 8
    assert all(v == 1 for v in out.values()), out


def test_split_entry_settles_pending_merge(spark, tmp_path):
    """Cross-wiring of the ADVICE r12 settles: a split call made while
    a crashed MERGE's rows live only in _merge_staging must resume the
    merge first (otherwise its member scan misses committed rows and a
    later merge resume changes the index under the new sub-clusters),
    then split on the resumed centroid set."""
    import os
    import shutil

    from idhub_spark.operators.ann import (
        _assign,
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        sq8_fit,
    )
    from idhub_spark.session import literal_frame

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    staging = f"{path}/_merge_staging"

    # crashed merge of the two cold clusters: staging committed,
    # cluster=3 deleted, cluster=2 not yet (the resume-eligible state)
    survivors = centroids.filter(~F.col("cluster").isin([2, 3]))
    members = spark.read.parquet(path).filter(F.col("cluster").isin([2, 3]))
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    assigned = _assign(
        members.select(F.col("vec_id").alias("_id"), vec_d.alias("_v")),
        survivors,
    ).select(F.col("_id").alias("vec_id"), "cluster")
    (
        members.drop("cluster")
        .join(assigned, "vec_id")
        .repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{staging}/data")
    )
    survivors.coalesce(1).write.parquet(f"{staging}/_new_centroids")
    literal_frame(spark, [(2,), (3,)], "cluster int").coalesce(1).write.parquet(
        f"{staging}/_cold_clusters"
    )
    import pathlib

    pathlib.Path(staging, "_COMMITTED").touch()  # apply entered
    shutil.rmtree(f"{path}/cluster=3")
    assert spark.read.parquet(path).count() == 192  # 8 rows only staged

    # split the biggest cluster; the pending merge must settle first
    out = ivf_index_split_cluster(spark, path, 0, k2=2)
    assert not os.path.isdir(staging)
    assert not os.path.isdir(f"{path}/_split_staging")
    s = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s[-1] == 200  # merge's rows restored AND split applied
    got = {r.cluster for r in out.select("cluster").collect()}
    # merge folded 2,3 into {0,1} FIRST (their dirs are gone), so the
    # split of 0 renumbers above the post-merge max id (1) — ids 2,3
    # are legitimately REUSED for the fresh sub-clusters
    assert got == {1, 2, 3}
    assert 0 not in got  # the split source is retired


def test_compact_settles_pending_split(spark, vectors, tmp_path):
    """ivf_index_compact during a crashed split: the staged rows live
    under '_split_staging', which the compaction scan skips — without
    the settle, the compacted copy would silently LOSE them. With it,
    the copy is complete and searches match a clean-index baseline."""
    import glob as _glob
    import os
    import shutil

    from idhub_spark.operators.ann import (
        ivf_index_compact,
        ivf_index_split_cluster,
        ivf_index_stats,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    centroids = kmeans_fit(vectors, k=4, max_iter=2)
    bounds = sq8_fit(vectors)
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    n_total = vectors.count()
    stats0 = {
        r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()
    }
    hot = max((c for c in stats0 if c >= 0), key=lambda c: stats0[c])
    done = ivf_index_split_cluster(spark, path, hot, k2=2)

    # rewind to the crashed-mid-apply state (sub-dirs only in staging)
    staging = os.path.join(path, "_split_staging")
    os.makedirs(staging)
    for d in _glob.glob(f"{path}/cluster=*"):
        if int(d.rsplit("=", 1)[1]) in (4, 5):
            shutil.move(d, os.path.join(staging, os.path.basename(d)))
    done.coalesce(1).write.parquet(f"{staging}/_new_centroids")
    spark.createDataFrame([(int(hot),)], "cluster int").coalesce(
        1
    ).write.parquet(f"{staging}/_source_cluster")
    open(os.path.join(staging, "_COMMITTED"), "w").close()
    assert spark.read.parquet(path).count() < n_total

    packed = str(tmp_path / "idx_packed")
    ivf_index_compact(spark, path, packed)
    assert not os.path.isdir(staging)
    assert spark.read.parquet(packed).count() == n_total  # nothing lost


def _fabricate_merge_staging(spark, path, centroids):
    """Uncommitted merge staging for cold clusters {2,3}, exactly as
    ivf_index_merge_cold_clusters stages it before writing
    _COMMITTED."""
    from idhub_spark.operators.ann import _assign
    from idhub_spark.session import literal_frame

    staging = f"{path}/_merge_staging"
    survivors = centroids.filter(~F.col("cluster").isin([2, 3]))
    members = spark.read.parquet(path).filter(F.col("cluster").isin([2, 3]))
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    assigned = _assign(
        members.select(F.col("vec_id").alias("_id"), vec_d.alias("_v")),
        survivors,
    ).select(F.col("_id").alias("vec_id"), "cluster")
    (
        members.drop("cluster")
        .join(assigned, "vec_id")
        .repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{staging}/data")
    )
    survivors.coalesce(1).write.parquet(f"{staging}/_new_centroids")
    literal_frame(spark, [(2,), (3,)], "cluster int").coalesce(1).write.parquet(
        f"{staging}/_cold_clusters"
    )
    return staging


def test_merge_settle_keys_on_commit_marker(spark, tmp_path):
    """The apply step's cold-dir delete is not atomic — a crash
    mid-delete of the FIRST dir leaves it present with part-files
    missing, so directory presence proves nothing. The settle keys on
    _COMMITTED alone: (a) committed + a half-emptied cold dir ->
    RESUME (rows restored, nothing lost); (b) uncommitted + all dirs
    present -> discard, and the merge re-runs from live state."""
    import glob as _glob
    import os
    import pathlib

    from idhub_spark.operators.ann import (
        ivf_index_merge_cold_clusters,
        ivf_index_stats,
        ivf_sq8_index_write,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)

    # (a) half-deleted first cold dir, committed -> resume
    path = str(tmp_path / "idx_half")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    staging = _fabricate_merge_staging(spark, path, centroids)
    pathlib.Path(staging, "_COMMITTED").touch()
    # the crash: some (not all) part-files of cluster=2 already gone —
    # the dir still EXISTS, so a presence test would say 'unapplied'
    part_files = _glob.glob(f"{path}/cluster=2/*.parquet")
    assert part_files
    os.remove(part_files[0])
    cents, rep = ivf_index_merge_cold_clusters(spark, path, min_rows=20)
    assert rep == {"merged_clusters": [], "rows_moved": 0}  # resumed, no-op
    assert not os.path.isdir(staging)
    s = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    # all 200 rows present: the 20 staged rows were renamed in, the
    # half-deleted cold dirs removed — nothing lost, nothing doubled
    assert s[-1] == 200 and set(s) == {-1, 0, 1}

    # (b) uncommitted, all cold dirs intact -> staging discarded and
    # the merge re-runs from live state
    path2 = str(tmp_path / "idx_clean")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path2)
    staging2 = _fabricate_merge_staging(spark, path2, centroids)
    assert os.path.isdir(staging2)
    cents2, rep2 = ivf_index_merge_cold_clusters(spark, path2, min_rows=20)
    assert sorted(rep2["merged_clusters"]) == [2, 3]  # fresh merge ran
    assert rep2["rows_moved"] == 20
    assert not os.path.isdir(staging2)
    s2 = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path2).collect()}
    assert s2[-1] == 200 and set(s2) == {-1, 0, 1}


class _InjectedCrash(RuntimeError):
    pass


def test_ivf_append_batch_id_exactly_once(spark, vectors, tmp_path):
    """r15 staged IVF append + idempotency key (the dedup index's
    batch_id contract ported): a retried append with the same key
    returns 'duplicate' and changes nothing; compact carries the
    ingest log; a rebuild clears it with the old generation."""
    import os

    from idhub_spark.operators.ann import (
        ivf_index_compact,
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        kmeans_fit,
        sq8_fit,
    )

    old = vectors.filter(F.col("vec_id") >= 100)
    new = vectors.filter(F.col("vec_id") < 100)
    centroids = kmeans_fit(old, k=8, max_iter=2)
    bounds = sq8_fit(old)
    path = str(tmp_path / "idx_once")
    ivf_sq8_index_write(old, centroids, bounds, path)
    n_all = vectors.count()

    assert ivf_sq8_index_append(
        new, centroids, bounds, path, batch_id="v-7") == "appended"
    assert not os.path.isdir(f"{path}/_append_staging")
    assert spark.read.parquet(path).count() == n_all
    assert ivf_sq8_index_append(
        new, centroids, bounds, path, batch_id="v-7") == "duplicate"
    assert spark.read.parquet(path).count() == n_all

    packed = str(tmp_path / "idx_once_packed")
    ivf_index_compact(spark, path, packed)
    assert ivf_sq8_index_append(
        new, centroids, bounds, packed, batch_id="v-7") == "duplicate"
    assert spark.read.parquet(packed).count() == n_all

    # rebuild clears the log (old generation)
    ivf_sq8_index_write(old, centroids, bounds, path)
    assert not os.path.isdir(f"{path}/_ingest_log")
    assert ivf_sq8_index_append(
        new, centroids, bounds, path, batch_id="v-7") == "appended"


def test_append_settles_pending_merge(spark, tmp_path):
    """ADVICE r15 medium: the staged append is a WRITER — it settles
    pending split/merge maintenance MANDATORILY before assigning, and
    assigns against the RESUMED centroid set. A crashed mid-phase-2
    merge (committed, one cold dir half-deleted) followed by
    an append of vectors nearest the COLD centroid (passed the STALE
    pre-merge centroids) must resume the merge first and land the
    batch in the surviving cluster — the old behavior either promoted
    rows into a recorded cold dir the resume then re-deletes (silent
    loss) or re-created the deleted cluster as a zombie no probe
    routes to."""
    import glob as _glob
    import os
    import pathlib

    from idhub_spark.operators.ann import (
        ivf_index_stats,
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx_app_merge")
    bounds = sq8_fit(vectors)
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    staging = _fabricate_merge_staging(spark, path, centroids)
    pathlib.Path(staging, "_COMMITTED").touch()
    part_files = _glob.glob(f"{path}/cluster=2/*.parquet")
    assert part_files
    os.remove(part_files[0])

    # 5 new vectors in the 10-blob — nearest the COLD centroid (2)
    # under the stale 4-cluster set the caller still holds
    dim = 8
    new = spark.createDataFrame(
        [(500 + i, [10.0 + i * 0.01] * dim) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    assert ivf_sq8_index_append(
        new, centroids, bounds, path, batch_id="m-1") == "appended"

    # the merge resumed BEFORE the append: staging gone, no zombie
    # cold dirs, every row accounted for exactly once
    assert not os.path.isdir(staging)
    assert not os.path.isdir(f"{path}/cluster=2")
    assert not os.path.isdir(f"{path}/cluster=3")
    s = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s[-1] == 205 and set(s) == {-1, 0, 1}

    # the appended rows are REACHABLE: the no-arg search (resumed
    # fits) routes a 10-blob query to its surviving cluster
    q = spark.createDataFrame(
        [(9000, [10.0] * dim)], "vec_id long, embedding array<double>"
    )
    got = ivf_sq8_search_index(spark, path, q, k=5, nprobe=1)
    assert {r.neighbor_id for r in got.collect()} & set(range(500, 505))


def test_ivf_ingest_log_horizon(spark, tmp_path):
    """r16 (VERDICT r15) + r17: the IVF ingest log is bounded by the
    retry horizon with entry age in the FILENAME (storage-independent
    — the dedup index's twin; aging here rewinds the NAME and forces
    mtime to NOW, the object-store case the old setTimes carry lost).
    The cold-merge cadence op prunes aged entries in place — horizon
    now a kwarg, ADVICE r16: None disables it, matching the compact
    surface, so pruning disabled at compact stays disabled here —
    and ivf_index_compact carries in-horizon entries under their
    canonical accept-time name."""
    import time

    from idhub_spark.operators.ann import (
        ivf_index_compact,
        ivf_index_merge_cold_clusters,
        ivf_sq8_index_append,
        ivf_sq8_index_write,
        sq8_fit,
    )
    from idhub_spark.commit import batch_key

    from tests.test_dedup_index import _age_entry, _log_entry

    vecs, centroids = _merge_fixture(spark)
    bounds = sq8_fit(vecs)
    path = str(tmp_path / "idx_log")
    ivf_sq8_index_write(vecs, centroids, bounds, path)
    dim = 8
    n1 = spark.createDataFrame(
        [(900, [5.0] * dim)], "vec_id long, embedding array<double>")
    n2 = spark.createDataFrame(
        [(901, [-5.0] * dim)], "vec_id long, embedding array<double>")
    assert ivf_sq8_index_append(
        n1, centroids, bounds, path, batch_id="a") == "appended"
    assert ivf_sq8_index_append(
        n2, centroids, bounds, path, batch_id="b") == "appended"
    _age_entry(path, batch_key("a"), 8 * 24 * 3600 * 1000)

    # ADVICE r16: horizon=None disables the prune at the merge cadence
    # (no cluster is cold at min_rows=1 — only the entry prune runs)
    ivf_index_merge_cold_clusters(
        spark, path, min_rows=1, ingest_log_horizon_s=None)
    assert _log_entry(path, batch_key("a"))[0] is not None
    # the default horizon prunes it in place, fresh mtime ignored
    ivf_index_merge_cold_clusters(spark, path, min_rows=1)
    assert _log_entry(path, batch_key("a"))[0] is None
    assert _log_entry(path, batch_key("b"))[0] is not None
    assert ivf_sq8_index_append(
        n2, centroids, bounds, path, batch_id="b") == "duplicate"

    # compact carry-prune: aged-by-name never carries; the in-horizon
    # entry carries with its accept time intact in the NAME
    n3 = spark.createDataFrame(
        [(902, [5.0] * dim)], "vec_id long, embedding array<double>")
    assert ivf_sq8_index_append(
        n3, centroids, bounds, path, batch_id="c") == "appended"
    _age_entry(path, batch_key("c"), 8 * 24 * 3600 * 1000)
    b_ms = _log_entry(path, batch_key("b"))[1]
    dst = str(tmp_path / "idx_log_packed")
    ivf_index_compact(spark, path, dst)
    assert _log_entry(dst, batch_key("c"))[0] is None
    assert _log_entry(dst, batch_key("b"))[1] == b_ms


def test_legacy_append_staging_with_pending_merge_not_destroyed(
    spark, tmp_path
):
    """r16 settle ORDER: maintenance resumes BEFORE the append-staging
    promotion at every entry point. A committed append staging can
    coexist with a pending maintenance staging only via a pre-r16
    append (new-protocol appends settle maintenance before staging),
    so its assignment may predate the crashed merge — promoting it
    FIRST would rename its rows into a recorded cold dir the resume
    then deletes (silent loss). With the resume first, the worst case
    is 'promoted into a no-longer-routed directory': rows remain
    stats/compact-visible and recoverable, never silently gone."""
    import glob as _glob
    import os
    import pathlib

    from idhub_spark.operators.ann import (
        ivf_index_stats,
        ivf_sq8_index_write,
        sq8_encode,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx_legacy_app")
    bounds = sq8_fit(vectors)
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    staging = _fabricate_merge_staging(spark, path, centroids)
    pathlib.Path(staging, "_COMMITTED").touch()
    part_files = _glob.glob(f"{path}/cluster=2/*.parquet")
    assert part_files
    os.remove(part_files[0])  # the mid-phase-2 merge crash

    # the LEGACY committed append staging: 5 rows already assigned to
    # the recorded COLD cluster 2 (a pre-merge assignment)
    dim = 8
    new = spark.createDataFrame(
        [(500 + i, [10.0 + i * 0.01] * dim) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    enc = sq8_encode(
        new.select(
            "vec_id", "embedding", vec_d.alias("_v"), F.lit(2).alias("cluster")
        ),
        bounds,
        vec_col="_v",
    ).select("vec_id", "embedding", "code", "cluster")
    app = f"{path}/_append_staging"
    enc.repartition(1).write.mode("overwrite").partitionBy("cluster").parquet(
        f"{app}/data"
    )
    pathlib.Path(app, "_COMMITTED").touch()

    # ANY entry point settles: resume the merge, THEN promote
    s = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert not os.path.isdir(staging) and not os.path.isdir(app)
    # every row accounted for: the 200 pre-merge rows live in the
    # survivors, the 5 legacy-staged rows in the re-created (zombie)
    # cluster=2 dir — visible, not destroyed (the old promote-first
    # order would read 200 here with the batch silently deleted)
    assert s[-1] == 205
    assert s.get(2) == 5 and s[0] + s[1] == 200


def test_ivf_index_adopt_unrouted(spark, tmp_path):
    """ivf_index_adopt_unrouted: rows in a cluster dir ABSENT from the
    centroid set (the recoverable zombie state the r16 settle order
    leaves behind — see test_legacy_append_staging_...) re-assign to
    their nearest live centroid through the staged merge protocol and
    become searchable; the zombie dir drops; a rerun is a no-op; and
    the cold-merge alone never selects them (it judges coldness over
    the CENTROID set — pinned here so the gap stays documented)."""
    import glob as _glob
    import os
    import pathlib

    from idhub_spark.operators.ann import (
        ivf_index_adopt_unrouted,
        ivf_index_merge_cold_clusters,
        ivf_index_stats,
        ivf_sq8_index_write,
        ivf_sq8_search_index,
        sq8_encode,
        sq8_fit,
    )

    # same fabrication as the legacy-ordering test: mid-phase-2 merge
    # crash + a legacy committed append staging assigned to the
    # recorded cold cluster 2 -> after the settle, cluster=2 is a
    # zombie dir holding the 5 appended rows
    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx_adopt")
    bounds = sq8_fit(vectors)
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    staging = _fabricate_merge_staging(spark, path, centroids)
    pathlib.Path(staging, "_COMMITTED").touch()
    os.remove(_glob.glob(f"{path}/cluster=2/*.parquet")[0])
    dim = 8
    new = spark.createDataFrame(
        [(500 + i, [10.0 + i * 0.01] * dim) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    enc = sq8_encode(
        new.select(
            "vec_id", "embedding", vec_d.alias("_v"), F.lit(2).alias("cluster")
        ),
        bounds,
        vec_col="_v",
    ).select("vec_id", "embedding", "code", "cluster")
    app = f"{path}/_append_staging"
    enc.repartition(1).write.mode("overwrite").partitionBy("cluster").parquet(
        f"{app}/data"
    )
    pathlib.Path(app, "_COMMITTED").touch()
    ivf_index_stats(spark, path).collect()  # settle -> zombie state
    assert os.path.isdir(f"{path}/cluster=2")

    # the cold-merge does NOT adopt a zombie: cluster 2 has no
    # centroid row, so centroid-set coldness never selects it
    _, rep = ivf_index_merge_cold_clusters(spark, path, min_rows=1)
    assert rep == {"merged_clusters": [], "rows_moved": 0}
    assert os.path.isdir(f"{path}/cluster=2")

    rep2 = ivf_index_adopt_unrouted(spark, path)
    assert rep2 == {"adopted_rows": 5, "dropped_clusters": [2]}
    assert not os.path.isdir(f"{path}/cluster=2")
    assert not os.path.isdir(f"{path}/_merge_staging")
    s = {r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()}
    assert s[-1] == 205 and set(s) == {-1, 0, 1}

    # the adopted rows are now REACHABLE by the no-arg search
    q = spark.createDataFrame(
        [(9000, [10.0] * dim)], "vec_id long, embedding array<double>"
    )
    got = ivf_sq8_search_index(spark, path, q, k=5, nprobe=1)
    assert {r.neighbor_id for r in got.collect()} & set(range(500, 505))

    # clean index: a rerun costs the settles + one listing, changes
    # nothing
    assert ivf_index_adopt_unrouted(spark, path) == {
        "adopted_rows": 0,
        "dropped_clusters": [],
    }


def test_adopt_unrouted_duplicate_ids_no_fanout(spark, tmp_path):
    """ADVICE r16: the same vec_id in TWO zombie dirs (overlapping
    legacy batches, twice-restored backups) must adopt as exactly two
    physical rows — the old select-then-join-back on bare vec_id
    fanned out quadratically (2 zombie copies -> 4 adopted rows).
    Assignment now runs on the members frame directly with a
    synthetic per-row id."""
    from idhub_spark.operators.ann import (
        ivf_index_adopt_unrouted,
        ivf_index_stats,
        ivf_sq8_index_write,
        sq8_encode,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx_adopt_dup")
    bounds = sq8_fit(vectors)
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    before = {
        r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()
    }

    # two manually 'restored backup' dirs, both holding vec_id=777
    dim = 8
    dup = spark.createDataFrame(
        [(777, [10.0] * dim)], "vec_id long, embedding array<double>"
    )
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    enc = sq8_encode(
        dup.select("vec_id", "embedding", vec_d.alias("_v")),
        bounds,
        vec_col="_v",
    ).select("vec_id", "embedding", "code")
    for zombie in (900, 901):
        enc.repartition(1).write.mode("overwrite").parquet(
            f"{path}/cluster={zombie}"
        )

    rep = ivf_index_adopt_unrouted(spark, path)
    assert rep["adopted_rows"] == 2  # physical rows, never 2x2
    assert rep["dropped_clusters"] == [900, 901]
    after = {
        r.cluster: r.n_rows for r in ivf_index_stats(spark, path).collect()
    }
    assert after[-1] == before[-1] + 2


def test_ivf_index_fsck(spark, tmp_path, monkeypatch):
    """ivf_index_fsck: READ-ONLY classification — healthy on a clean
    index; names zombies (adopt-unrouted's case), orphan centroids
    (merge-cold's case), and a committed append staging with the
    settle action, all WITHOUT mutating anything."""
    import shutil

    from idhub_spark import cli as _cli
    from idhub_spark.operators.ann import (
        ivf_index_fsck,
        ivf_sq8_index_write,
        sq8_encode,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx_fsck")
    bounds = sq8_fit(vectors)
    ivf_sq8_index_write(vectors, centroids, bounds, path)
    rep = ivf_index_fsck(spark, path)
    assert rep["healthy"] is True and rep["findings"] == []
    assert rep["zombie_clusters"] == [] and rep["orphan_centroids"] == []
    assert rep["n_cluster_dirs"] == centroids.count()
    assert "centroids" in rep["fits"]
    assert _cli.main(["index-fsck", "--index", path]) == 0

    # a zombie dir (restored backup): flagged, NOT touched
    dim = 8
    extra = spark.createDataFrame(
        [(777, [10.0] * dim)], "vec_id long, embedding array<double>"
    )
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq8_encode(
        extra.select("vec_id", "embedding", vec_d.alias("_v")),
        bounds, vec_col="_v",
    ).select("vec_id", "embedding", "code").repartition(1).write.parquet(
        f"{path}/cluster=900"
    )
    rep = ivf_index_fsck(spark, path)
    assert rep["healthy"] is False and rep["zombie_clusters"] == [900]
    assert any("adopt-unrouted" in f for f in rep["findings"])
    assert os.path.isdir(f"{path}/cluster=900")  # read-only proof
    assert _cli.main(["index-fsck", "--index", path]) == 3
    shutil.rmtree(f"{path}/cluster=900")

    # an orphan centroid (dir dropped, row kept — the delete's state):
    # flagged with the merge-cold pointer
    victim_dir = f"{path}/cluster=0"
    shutil.rmtree(victim_dir)
    rep = ivf_index_fsck(spark, path)
    assert rep["orphan_centroids"] == [0]
    assert any("merge-cold" in f for f in rep["findings"])

    # a committed append staging: classified 'apply', left in place
    os.makedirs(f"{path}/_append_staging/data")
    open(f"{path}/_append_staging/_COMMITTED", "w").close()
    rep = ivf_index_fsck(spark, path)
    assert rep["pending_append_staging"]["state"] == "committed"
    assert rep["pending_append_staging"]["settle_action"] == "apply"
    assert os.path.isdir(f"{path}/_append_staging")  # not settled
    shutil.rmtree(f"{path}/_append_staging")

    # an uncommitted delete staging: classified 'discard', left in place
    os.makedirs(f"{path}/_delete_staging/cluster=1")
    rep = ivf_index_fsck(spark, path)
    assert rep["pending_delete_staging"]["state"] == "uncommitted"
    assert rep["pending_delete_staging"]["settle_action"] == "discard"
    assert any("delete staging pending" in f for f in rep["findings"])
    assert os.path.isdir(f"{path}/_delete_staging/cluster=1")  # not settled
    shutil.rmtree(f"{path}/_delete_staging")

    # concurrent-writer race: a staging vanishing mid-inspection must
    # degrade to a 'rerun fsck' finding, never crash the check
    from idhub_spark import commit

    os.makedirs(f"{path}/_merge_staging")
    real_fs = commit.hadoop_fs

    def racy(s, p):
        if p.endswith("_merge_staging/_COMMITTED"):
            raise RuntimeError("vanished under the check")
        return real_fs(s, p)

    monkeypatch.setattr(commit, "hadoop_fs", racy)
    rep = ivf_index_fsck(spark, path)
    monkeypatch.setattr(commit, "hadoop_fs", real_fs)
    assert rep["healthy"] is False
    assert any(
        "could not inspect merge staging" in f for f in rep["findings"]
    )
    assert rep["pending_merge_staging"] is None  # classification aborted


def test_merge_staging_empty_cold_committed(spark, tmp_path):
    """A committed merge staging whose _cold_clusters record is readable
    but EMPTY: fsck classifies it committed/apply and the settle does
    exactly that — nothing to delete, nothing to move, staging cleared,
    every row intact. A committed staging whose record is UNREADABLE is
    classified 'unreadable' and the settle raises, leaving it in
    place."""
    import os
    import shutil

    from idhub_spark.operators.ann import (
        ivf_index_compact,
        ivf_index_fsck,
        ivf_index_stats,
        ivf_sq8_index_write,
        sq8_fit,
    )

    vectors, centroids = _merge_fixture(spark)
    path = str(tmp_path / "idx_empty_cold")
    ivf_sq8_index_write(vectors, centroids, sq8_fit(vectors), path)
    n_before = spark.read.parquet(path).count()

    staging = f"{path}/_merge_staging"
    centroids.coalesce(1).write.parquet(f"{staging}/_new_centroids")
    spark.createDataFrame([], "cluster int").write.parquet(
        f"{staging}/_cold_clusters"
    )
    open(f"{staging}/_COMMITTED", "w").close()

    # fsck first (read-only): committed/apply, not touched
    rep = ivf_index_fsck(spark, path)
    assert rep["pending_merge_staging"]["state"] == "committed"
    assert rep["pending_merge_staging"]["settle_action"] == "apply"
    assert rep["pending_merge_staging"]["cold_clusters"] == []
    assert os.path.isdir(staging)  # read-only proof

    # the settle does what fsck predicted
    ivf_index_stats(spark, path).collect()
    assert not os.path.isdir(staging)
    assert spark.read.parquet(path).count() == n_before

    # unreadable record: fsck says so, a writer's settle refuses
    os.makedirs(f"{staging}/_cold_clusters")
    with open(f"{staging}/_cold_clusters/part-0.parquet", "wb") as f:
        f.write(b"not parquet")
    open(f"{staging}/_COMMITTED", "w").close()
    rep = ivf_index_fsck(spark, path)
    assert rep["pending_merge_staging"]["state"] == "unreadable"
    with pytest.raises(RuntimeError, match="refusing to guess"):
        ivf_index_compact(spark, path, str(tmp_path / "idx_packed"))
    assert os.path.isdir(staging)
    shutil.rmtree(staging)
