"""IVF approximate-nearest-neighbor: DataFrame-native k-means
(Lloyd's) + inverted-file search (north-star similarity-search scale
path beyond the sign-bit LSH buckets in plans/similarity_q.py).

Why this shape at 100 TB:
- Training touches a SAMPLE (k-means needs ~100k vectors, not the
  corpus); each Lloyd iteration is one broadcast-join assignment pass
  (centroids are k x dim ints — kilobytes) and one re-centering
  aggregate whose shuffle carries (cluster, dim, partial sum), bounded
  by k x dim, not corpus size.
- Search assigns every query to its nprobe nearest centroids (tiny
  cross join against broadcast centroids) and scans ONLY the matching
  inverted lists: per-query work is nprobe/k of the corpus. The final
  top-k window shuffles (query, candidate, score) pairs only.
- All vector arithmetic is JVM-side higher-order functions (zip_with
  + aggregate) — no Python in the hot path.

Determinism: floating-point k-means is nondeterministic under
parallel summation (partial-sum order varies run to run), which makes
the fit unreproducible and un-oracle-able. This implementation is
EXACT-INTEGER end to end: vectors are quantized once at
_ASSIGN_SCALE (1e-3 resolution — far finer than any cluster
geometry), centroids are carried as (count n, integer sum vector s)
instead of float means, and the assignment argmin compares
d_j = ||n_j*x - s_j||^2 / n_j^2 — an integer numerator with one final
int->double division, bit-identical on every engine and every
partitioning.

Overflow/parity envelope — the binding bound is 2^53, NOT 2^63:
int64 wraparound needs the dims-summed numerator under 2^63, but
CROSS-ENGINE HASH PARITY needs it under 2^53, because above 2^53 the
final int->double conversion is no longer exact and Spark's
correctly-rounded long->double can differ from DuckDB's hugeint->
double by 1-2 ulp (the trap tests/_util.py documents for ssum),
flipping near-tie assignments/rankings. Per-dim |n*x_i - s_i| <=
2*n*S*|x|_max, so the envelope is
    dims * (2 * n * S * |x|_max)^2 < 2^53,
i.e. for 64 dims and unit-scale values (S=1e3), a training sample of
n <= ~5.8e3 vectors. kmeans_fit ASSERTS this envelope over the actual
sample (one aggregate over the persisted working set — it doubles as
the persist warm-up); callers with bigger corpora must train on a
deterministic hash-sample within the envelope, which is also the
statistically right thing for k-means. The search-side cosine uses
the scaled-integer recipe of plans/similarity_q.py's oracle-proven
_COSINE (scale 1e6): 64 products of <= 1e6*|x|_max each keeps the
dot under 2^53 for |x|_max <= ~11 — documented, not asserted, since
asserting would cost a full corpus pass.

The fit has no single-SQL twin as a LOOP, but with determinism the
UNROLLED 2-iteration driver query (ann_topk_ivf) is expressible as a
DuckDB CTE chain — see plans/similarity_q.py:_IVF_ORACLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from idhub_spark import commit

# assignment quantization: round(x * 1000) — exact-integer cluster
# geometry at 1e-3 resolution
_ASSIGN_SCALE = 1000.0
# cosine quantization — matches plans/similarity_q.py _COSINE (1e6)
_COS_SCALE = 1000000.0


def _quantize(col, scale):
    return F.transform(col, lambda x: F.round(x * scale, 0).cast("bigint"))


def _int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _dot(a, b):
    """Double fold — kept for the brute-force baseline in tests."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def kmeans_fit(
    vectors: DataFrame,
    *,
    k: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means; returns (cluster, centroid array<double>,
    _n bigint, _s array<bigint>) — centroid is the float mean for
    inspection, (_n, _s) the exact integer representation _assign
    consumes.

    Deterministic init: the k vectors with the lowest ids (at corpus
    scale: a deterministic hash-sample). Each iteration: broadcast
    centroids -> nearest-centroid assignment (k-way min over a
    broadcast join, no shuffle on the corpus) -> re-center via
    posexplode + groupBy(cluster, dim) whose shuffle is k x dim
    partial sums — and the sums are int64, so the result is the same
    whatever the partitioning.
    """
    from pyspark.storagelevel import StorageLevel

    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # persist the cast+quantized working set: every iteration's
    # assignment pass (and the init scan) re-reads parquet otherwise —
    # the training sample fits in memory by construction
    v = vectors.select(
        F.col(id_col).alias("_id"),
        vec_d.alias("_v"),
        _quantize(vec_d, _ASSIGN_SCALE).alias("_x"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # enforce the 2^53 cross-engine parity envelope (module docstring):
    # one aggregate over the persisted sample, doubling as its warm-up
    env = v.select(
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.aggregate(
                F.col("_x"),
                F.lit(0).cast("long"),
                lambda acc, x: F.greatest(acc, F.abs(x)),
            )
        ).alias("xq_max"),
        F.max(F.size("_x")).alias("dims"),
    ).first()
    if (
        env.n
        and env.dims is not None
        and env.xq_max is not None
        and env.dims * (2 * env.n * env.xq_max) ** 2 >= 2**53
    ):
        raise ValueError(
            "k-means training sample exceeds the exact-arithmetic "
            f"envelope dims*(2*n*S*|x|max)^2 < 2^53 (n={env.n}, "
            f"dims={env.dims}, max|quantized x|={env.xq_max}); train on "
            "a smaller deterministic hash-sample"
        )
    centroids = (
        v.orderBy("_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("_id")) - 1).alias("cluster"),
            F.lit(1).cast("long").alias("_n"),
            F.col("_x").alias("_s"),
        )
    )
    for _it in range(max_iter):
        assigned = _assign(v, centroids)
        centroids = (
            assigned.select("cluster", F.posexplode("_x").alias("dim", "xi"))
            .groupBy("cluster", "dim")
            .agg(F.sum("xi").alias("sd"), F.count(F.lit(1)).alias("nd"))
            .groupBy("cluster")
            .agg(
                F.max("nd").alias("_n"),  # identical across dims
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "sd"))),
                    lambda s: s["sd"],
                ).alias("_s"),
            )
        )
        # truncate the growing lineage periodically (same pattern as
        # the CC loop) — r19: every 4th iteration instead of every
        # iteration. Each eager checkpoint is a full Spark job; the
        # un-checkpointed iterations fuse into the next checkpoint's
        # single job (the assignment is a broadcast over the persisted
        # sample, so the fused lineage re-reads nothing), and 4 levels
        # of broadcast+aggregate keep the plan well under the
        # replanning-cost knee. The loop-exit checkpoint below is
        # unconditional, so callers still receive a materialized frame.
        if (_it + 1) % 4 == 0 and _it + 1 < max_iter:
            centroids = centroids.localCheckpoint(eager=True)
    if max_iter > 0:
        # eager=True also means v's last consumer has executed by the
        # time we unpersist below
        centroids = centroids.localCheckpoint(eager=True)
    v.unpersist()
    # float mean for callers that want coordinates; _assign never
    # touches it
    return centroids.select(
        "cluster",
        F.transform(
            F.col("_s"),
            lambda s: s.cast("double") / F.lit(_ASSIGN_SCALE) / F.col("_n"),
        ).alias("centroid"),
        "_n",
        "_s",
    )


def _assign(v: DataFrame, centroids: DataFrame, *, nprobe: int = 1) -> DataFrame:
    """Nearest (or nprobe-nearest) centroid per vector via broadcast
    cross join + top-n window, on the exact-integer distance
    d_j = ||n_j*x - s_j||^2 / n_j^2 (== squared distance to the mean,
    scaled by _ASSIGN_SCALE^2). Ties break on cluster asc. Preserves
    the input columns and adds (cluster, _dist).

    Input needs a quantized `_x` column; adds one from `_v` if absent
    (the fit's persisted set already carries it)."""
    if "_x" not in v.columns:
        v = v.withColumn("_x", _quantize(F.col("_v"), _ASSIGN_SCALE))
    n, s = F.col("_n"), F.col("_s")
    num = F.aggregate(
        F.zip_with(F.col("_x"), s, lambda x, si: (n * x - si) * (n * x - si)),
        F.lit(0).cast("long"),
        lambda acc, val: acc + val,
    )
    scored = v.crossJoin(F.broadcast(centroids.select("cluster", "_n", "_s"))).select(
        *v.columns,
        F.col("cluster"),
        (num.cast("double") / (n * n).cast("double")).alias("_dist"),
    )
    w = Window.partitionBy("_id").orderBy(F.asc("_dist"), F.asc("cluster"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .drop("_rn")
    )


def _exact_cosine_topk(
    cand: DataFrame,
    queries_src: DataFrame,
    corpus_src: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    broadcast_cand: bool = True,
) -> DataFrame:
    """Shared exact-rescore tail of every quantized search: join the
    (query_id, neighbor_id) candidate pairs back to full-precision
    vectors (point lookups at scale — the candidate set is
    rescore*k per query) and return the exact scaled-int64-cosine
    top-k as (query_id, neighbor_id, cosine, rank).

    broadcast_cand: the candidate frame is |Q|*rescore*k rows BY
    CONSTRUCTION but exits a window+filter whose size Catalyst cannot
    estimate — unhinted, both joins compile to SortMergeJoins that
    shuffle the full-corpus scaled-vector projection. The hint is
    correct whenever |Q| is a bounded query batch; callers whose
    query side is the CORPUS (all-pairs, query_ids=None) must pass
    False — a forced broadcast of |corpus|*rescore*k rows would
    exceed the broadcast-table/driver limits, and SMJ is the right
    plan for that join anyway."""

    def _si(df, idname):
        si = _quantize(
            F.transform(F.col(vec_col), lambda x: x.cast("double")), _COS_SCALE
        )
        return df.select(
            F.col(id_col).alias(idname),
            si.alias(f"_{idname[0]}si"),
            _int_dot(si, si).alias(f"_{idname[0]}nrm"),
        )

    qv = _si(queries_src, "query_id")
    nv = _si(corpus_src, "neighbor_id")
    cosine = _int_dot(F.col("_qsi"), F.col("_nsi")).cast("double") / (
        F.sqrt(F.col("_qnrm").cast("double")) * F.sqrt(F.col("_nnrm").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    if broadcast_cand:
        joined = F.broadcast(F.broadcast(cand).join(qv, "query_id")).join(
            nv, "neighbor_id"
        )
    else:
        joined = cand.join(qv, "query_id").join(nv, "neighbor_id")
    return (
        joined.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    query_ids: list | None = None,
    query_filter=None,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: corpus partitioned into inverted lists by nearest
    centroid; each query scans only its nprobe nearest lists.

    Returns (query_id, neighbor_id, cosine, rank) — the same output
    contract as ann_topk_bruteforce, so recall@k evaluates by a direct
    join of the two results. Cosine uses the scaled-int64 recipe
    (exact dot/norms, one int->double conversion) so results are
    deterministic and oracle-comparable.
    """
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # query_filter is written against the PUBLIC input columns, so it
    # must apply before the internal _id/_v rename
    q_src = vectors if query_filter is None else vectors.filter(query_filter)
    # scaled vectors + exact integer norms computed BELOW the
    # assignment window (a shuffle barrier), so CollapseProject cannot
    # inline the per-row transform into the per-candidate-pair
    # projection above the join
    def _prep(df):
        si = _quantize(vec_d, _COS_SCALE)
        return df.select(
            F.col(id_col).alias("_id"),
            vec_d.alias("_v"),
            si.alias("_si"),
            _int_dot(si, si).alias("_nrm"),
        )

    corpus = _assign(_prep(vectors), centroids).select(
        F.col("_id").alias("neighbor_id"),
        F.col("_si").alias("n_si"),
        F.col("_nrm").alias("n_nrm"),
        "cluster",
    )
    q = _prep(q_src)
    if query_ids is not None:
        q = q.filter(F.col("_id").isin(query_ids))
    probes = _assign(q, centroids, nprobe=nprobe).select(
        F.col("_id").alias("query_id"),
        F.col("_si").alias("q_si"),
        F.col("_nrm").alias("q_nrm"),
        "cluster",
    )
    cosine = _int_dot(F.col("q_si"), F.col("n_si")).cast("double") / (
        F.sqrt(F.col("q_nrm").cast("double")) * F.sqrt(F.col("n_nrm").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    # the probe side is |Q| x nprobe rows by construction — broadcast
    # it so the inverted-list join never shuffles the corpus. The hint
    # is gated on query_ids ONLY (the r11 boundedness rule: hint only
    # sides bounded BY CONSTRUCTION): a query_filter NARROWS the query
    # side but bounds nothing — a broad filter leaves it ~|corpus| x
    # nprobe rows, where the forced broadcast would blow the driver/
    # broadcast limits at scale. Filtered-but-unbounded query sides
    # are left to Catalyst (AQE sizes the post-filter side at runtime),
    # exactly as ivf_sq8_topk and ivf_pq_topk already do.
    bounded = query_ids is not None
    return (
        (F.broadcast(probes) if bounded else probes).join(corpus, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        # a (query, neighbor) pair can appear via two probed lists only
        # if the corpus side were multi-assigned; it is single-assigned,
        # so no distinct needed before ranking
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): 4x smaller candidate scans via int8 codes
# ---------------------------------------------------------------------------


def sq8_fit(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (min, max) bounds for int8 scalar quantization —
    ONE row with two array<double> columns (mins, maxs).

    The explode->groupBy(pos) shuffle carries (dim, partial min/max)
    — bounded by dimensionality, not corpus size. At 100 TB fit on a
    deterministic hash-sample; range bounds converge with a few
    hundred thousand vectors.
    """
    ex = corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
    per_dim = ex.groupBy("pos").agg(
        F.min("x").cast("double").alias("mn"), F.max("x").cast("double").alias("mx")
    )
    return per_dim.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("_a"),
        F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("_b"),
    ).select(
        F.transform("_a", lambda s: s["mn"]).alias("mins"),
        F.transform("_b", lambda s: s["mx"]).alias("maxs"),
    )


def sq8_encode(
    df: DataFrame, bounds: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """Add a `code` array<tinyint> column: per-dim affine map of the
    vector onto [-128, 127] (code = round((x-mn)/(mx-mn)*255) - 128;
    constant dims encode 0). 4x smaller than float32 on disk and in
    shuffle — the column a 100 TB candidate scan reads INSTEAD of the
    embeddings; full-precision vectors are touched only for the
    rescoring candidates. bounds is the sq8_fit 1-row frame
    (broadcast).

    Codes are CLAMPED to [-128, 127] before the tinyint cast: bounds
    fit on a hash-sample (the 100 TB recipe) routinely see
    out-of-range values at encode time, and under ANSI mode an
    unclamped overflow would throw CAST_OVERFLOW and kill the job —
    saturation to the nearest representable code is the correct SQ
    semantics for out-of-bounds values (Faiss does the same)."""
    def _code(x, i):
        width = F.element_at("maxs", i + 1) - F.element_at("mins", i + 1)
        return F.when(width == 0.0, F.lit(0).cast("tinyint")).otherwise(
            F.greatest(
                F.least(
                    F.round(
                        (x - F.element_at("mins", i + 1)) / width * 255.0, 0
                    ).cast("int")
                    - 128,
                    F.lit(127),
                ),
                F.lit(-128),
            ).cast("tinyint")
        )

    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("code", F.transform(F.col(vec_col), _code))
        .drop("mins", "maxs")
    )


def ivf_sq8_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    bounds: DataFrame,
    *,
    query_ids: list | None = None,
    k: int = 5,
    nprobe: int = 2,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF x SQ8: the 100 TB ANN plan — probe-bounded candidate scans
    over int8 codes, exact rescoring of the survivors. With query_ids
    the probe and rescore joins broadcast the bounded query side
    (0-SMJ, the corpus streams); query_ids=None is the ALL-PAIRS form
    where the query side IS the corpus — the hints switch off and the
    shuffle joins are the correct plan.

    sq8_topk alone is a flat scan (4x less I/O than float brute force
    but still O(|Q|*|N|) compute); ivf_topk alone scans full-precision
    vectors inside the probed clusters. Composed (the Faiss IVF-SQ +
    refine design — public), each query (a) routes to its nprobe
    nearest centroids (broadcast, tiny), (b) ranks ONLY the probed
    clusters' candidates on the int8 `code` column — per-query compute
    is nprobe/k of the corpus AND the scan reads 4x fewer bytes — and
    (c) rescores the top rescore*k survivors with full-precision
    vectors (point lookups by id).

    Deterministic end to end, so the whole query is hash-oracle-able
    the way ann_topk_ivf is: the candidate rank is an INTEGER
    asymmetric score — the query is folded against the per-dim widths
    as w_i = round(q_i*(mx_i-mn_i)*1e6) ONCE per query, and
    ascore = sum_i w_i*(code_i+128), a pure int64 sum whose value is
    independent of summation order (ranking by ascore == ranking by
    dot(q, dequantized candidate) up to a per-query constant that
    cancels and the 1e-6 weight quantization the rescore repairs).
    The rescore is the scaled-int64 cosine of ivf_topk (one
    int->double conversion). Output contract: (query_id, neighbor_id,
    cosine, rank) — identical to ivf_topk/ann_topk_bruteforce.

    Overflow envelope (documented like the _COS_SCALE one): per-dim
    |w_i*(code_i+128)| <= 255e6 * |q|max * width_max; 64 dims of
    unit-scale embeddings stay ~2^38, far under the 2^53 parity bound.
    """
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = vectors.select(F.col(id_col).alias("_id"), vec_d.alias("_v"))
    # inverted lists: (neighbor_id, cluster, int8 code) — the ONLY
    # columns the candidate-ranking scan touches
    corpus = sq8_encode(_assign(base, centroids), bounds, vec_col="_v").select(
        F.col("_id").alias("neighbor_id"), "cluster", "code"
    )
    q = base if query_ids is None else base.filter(F.col("_id").isin(query_ids))
    probes = _assign(q, centroids, nprobe=nprobe)
    # per-query folded weights + pure-int64 asymmetric score — the
    # SAME expressions the on-disk index search uses (shared helpers)
    qw = _sq8_query_weights(bounds)(probes)
    # the query side is |Q| x nprobe rows: broadcast it so the corpus
    # streams with no shuffle on cluster — but ONLY when query_ids
    # bounds |Q|; all-pairs (query_ids=None) makes the query side the
    # corpus, where a forced broadcast would blow the broadcast/driver
    # limits and the shuffle join is the right plan
    bounded = query_ids is not None
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("_ascore"), F.asc("neighbor_id")
    )
    cand = (
        (F.broadcast(qw) if bounded else qw).join(corpus, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _sq8_score().alias("_ascore"))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= rescore * k)
        .select("query_id", "neighbor_id")
    )

    # exact rescore: full-precision point lookups for survivors only
    qsrc = vectors if query_ids is None else vectors.filter(F.col(id_col).isin(query_ids))
    return _exact_cosine_topk(
        cand, qsrc, vectors, k=k, id_col=id_col, vec_col=vec_col,
        broadcast_cand=bounded,
    )


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    bounds: DataFrame,
    *,
    k: int = 10,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k: rank candidates on the int8 codes
    (queries stay full-precision — the transformed query q'_i =
    q_i*(mx_i-mn_i)/255 makes code-dot ranking equal approximate
    dot-product ranking up to a per-query constant, which cancels),
    then RESCORE the top rescore*k candidates with the exact float
    dot and return the exact-scored top-k.

    Scan cost: the ranking pass reads only (id, code) — 4x less I/O
    than float32 embeddings; the rescore joins back to full vectors
    for rescore*k rows per query (point lookups at scale). Faiss-style
    SQ8 + refine (public design); the recall test pins quality.

    NOTE: this is a FLAT scan — O(|Q|*|N|) in compute even though the
    bytes are 4x smaller. It is the right tool for a small query side
    or as a rescoring primitive; the large-corpus path is
    ivf_sq8_topk, which runs the same int8 ranking inside nprobe
    probed clusters only.
    """
    enc = sq8_encode(corpus, bounds, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "code"
    )
    qb = queries.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col).alias("query_id"),
        F.transform(
            F.col(vec_col),
            lambda q, i: q
            * (F.element_at("maxs", i + 1) - F.element_at("mins", i + 1))
            / 255.0,
        ).alias("qt"),
    )
    approx = (
        qb.crossJoin(enc)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    "qt", "code", lambda q, c: q * (c.cast("double") + 128.0)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("ascore"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ascore"), F.asc("neighbor_id"))
    cand = approx.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= rescore * k
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    # same size-estimate hazard as _exact_cosine_topk: the candidate
    # frame (|Q|*rescore*k rows by construction) must broadcast so
    # the corpus-vector join streams instead of shuffling the corpus
    # (broadcast_queries=False for a query side too big to broadcast —
    # though a flat scan with a corpus-sized query side is the wrong
    # tool regardless; see the docstring)
    cq = F.broadcast(cand).join(qv, "query_id") if broadcast_queries else cand.join(qv, "query_id")
    exact = (
        (F.broadcast(cq) if broadcast_queries else cq)
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", _dot(F.col("_qv"), F.col("_nv")).alias("score"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return exact.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): m sub-codebooks, 1 byte per subspace
# ---------------------------------------------------------------------------


def pq_fit(
    vectors: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    max_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace codebooks for product quantization: the vector is
    split into m contiguous subspaces and each gets its own k-centroid
    integer k-means (the exact-arithmetic kmeans_fit, so the whole
    codebook is deterministic). Returns (sub, cluster, centroid, _n,
    _s) — m*k rows.

    PQ is the compression rung below SQ8: a 64-dim float32 vector is
    256 bytes, SQ8 64 bytes, PQ(m=8) EIGHT bytes — the candidate-scan
    column for corpora where even int8 vectors dominate I/O
    (Jegou et al., TPAMI'11; the Faiss IVF-PQ design — public).
    Training cost is m small fits over the sample (at 100 TB: the
    same deterministic hash-sample rule as kmeans_fit/sq8_fit).
    """
    dims = vectors.select(F.size(vec_col).alias("d")).first().d
    if dims % m:
        raise ValueError(f"pq_fit: dims={dims} not divisible by m={m}")
    dsub = dims // m

    def _fit_sub(sub: int) -> DataFrame:
        sliced = vectors.select(
            F.col(id_col), F.slice(F.col(vec_col), sub * dsub + 1, dsub).alias("_sv")
        )
        cb = kmeans_fit(sliced, k=k, max_iter=max_iter, id_col=id_col, vec_col="_sv")
        return cb.select(F.lit(sub).alias("sub"), "cluster", "centroid", "_n", "_s")

    # the m sub-fits are INDEPENDENT (each trains on its own slice and
    # returns an eagerly checkpointed frame) — overlap them on driver
    # threads (r20, guide §2.6): each fit's wall is a chain of small
    # scheduling-bound jobs, so sequential fits left the cluster idle
    # through every tail. Results are deterministic regardless of
    # scheduling (exact integer arithmetic), and the pool returns them
    # in subspace order.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 4)) as ex:
        parts = list(ex.map(_fit_sub, range(m)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pq_codebook_rows(codebook: DataFrame):
    """Collect the codebook to the driver — BOUNDED by m*k rows (the
    same bounded-collect class as bucket-id lists): the centroids are
    then embedded as literal expressions, so encoding and LUT scoring
    are pure per-row expressions with zero joins and zero shuffles."""
    rows = codebook.select("sub", "cluster", "_n", "_s").collect()
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r.sub, []).append((r.cluster, int(r._n), [int(v) for v in r._s]))
    for sub in by_sub:
        by_sub[sub].sort()
    return by_sub


def _pq_sub_dists(by_sub, sub, xq):
    """Array of k exact-integer distances d_j = ||n_j*x - s_j||^2/n_j^2
    from this row's sub-vector to every literal sub-centroid (the
    _assign distance against a driver-collected codebook). The scale
    is _ASSIGN_SCALE^2 — d/1e6 is the squared L2 distance in input
    units. Shared by pq_encode (argmin) and pq_drift_stats (min)."""
    dsub = len(by_sub[0][0][2])
    sx = F.slice(xq, sub * dsub + 1, dsub)
    dists = []
    for _cl, n, s in by_sub[sub]:
        num = F.aggregate(
            F.zip_with(
                sx,
                F.array(*[F.lit(v).cast("long") for v in s]),
                lambda x, si: (F.lit(n) * x - si) * (F.lit(n) * x - si),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        dists.append(num.cast("double") / F.lit(float(n * n)))
    return F.array(*dists)


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a `pq_code` array<tinyint> column (m entries, the nearest
    sub-centroid index per subspace). The argmin runs on the same
    exact-integer distance as _assign — d_j = ||n_j*x - s_j||^2/n_j^2
    with one int->double division per centroid — against LITERAL
    centroids (driver-collected codebook, m*k rows), so the encode is
    a single expression-only projection: no joins, no windows, no
    shuffles, deterministic under any partitioning. Ties break on the
    lower cluster id (array_position finds the first minimum)."""
    by_sub = _pq_codebook_rows(codebook)
    m = len(by_sub)
    xq = _quantize(
        F.transform(F.col(vec_col), lambda x: x.cast("double")), _ASSIGN_SCALE
    )

    def _sub_code(sub):
        arr = _pq_sub_dists(by_sub, sub, xq)
        return (F.array_position(arr, F.array_min(arr)) - 1).cast("tinyint")

    return df.withColumn("pq_code", F.array(*[_sub_code(s) for s in range(m)]))


def _pq_lut_col(by_sub, vec_col):
    """Per-row integer ADC lookup table: array of m arrays of k cells,
    L[sub][j] = round(1e6 * dot(q_sub, centroid_{sub,j})) — m*k
    literal-centroid dot expressions, one rounding to int per cell,
    exact comparisons downstream."""
    m = len(by_sub)
    dsub = len(by_sub[0][0][2])
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def _lut(sub):
        qs = F.slice(vec_d, sub * dsub + 1, dsub)
        cells = []
        for _cl, n, s in by_sub[sub]:
            # centroid coord = s_i / (n * ASSIGN_SCALE)
            dot = F.aggregate(
                F.zip_with(
                    qs,
                    F.array(*[F.lit(v).cast("double") for v in s]),
                    lambda q, si: q * si,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            cells.append(
                F.round(dot * F.lit(1000000.0 / (n * _ASSIGN_SCALE)), 0).cast("long")
            )
        return F.array(*cells)

    return F.array(*[_lut(s) for s in range(m)])


def _pq_score():
    """Approximate PQ score: sum of the code-indexed LUT cells — pure
    int64 (a function, not a module constant: Column construction
    needs a live SparkContext)."""
    return F.aggregate(
        F.zip_with(
            "pq_code", "_lut", lambda c, lut: F.element_at(lut, c.cast("int") + 1)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    k: int = 5,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Asymmetric-distance PQ top-k with exact rescore: each query
    builds an integer lookup table L[sub][j] = round(1e6 * dot(q_sub,
    centroid_{sub,j})) ONCE (m*k literal-centroid dot expressions —
    per-row, no joins), candidates are ranked by the pure-int64 sum
    score = sum_sub L[sub][pq_code[sub]] — the scan reads m BYTES per
    candidate — and the top rescore*k are rescored with the exact
    scaled-int64 cosine. Deterministic end to end (integer LUTs,
    integer sums, ties on neighbor_id), same output contract as
    ivf_topk. Flat over the corpus here; the IVF composition is the
    same move as ivf_sq8_topk (rank inside probed clusters only).
    """
    by_sub = _pq_codebook_rows(codebook)
    enc = pq_encode(corpus, codebook, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "pq_code"
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"), _pq_lut_col(by_sub, vec_col).alias("_lut")
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("_pqs"), F.asc("neighbor_id"))
    cand = (
        (F.broadcast(qb) if broadcast_queries else qb)
        .join(enc, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pq_score().alias("_pqs"))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= rescore * k)
        .select("query_id", "neighbor_id")
    )
    return _exact_cosine_topk(
        cand, queries, corpus, k=k, id_col=id_col, vec_col=vec_col,
        broadcast_cand=broadcast_queries,
    )


def ivf_pq_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    *,
    query_ids: list | None = None,
    k: int = 5,
    nprobe: int = 2,
    rescore: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF x PQ — the bottom of the candidate-scan I/O ladder: queries
    route to their nprobe nearest IVF centroids (broadcast), candidate
    ranking reads m BYTES (the pq_code column) per candidate INSIDE
    the probed inverted lists only, survivors rescore exact. Same
    composition move as ivf_sq8_topk with the PQ LUT score swapped in
    (the Faiss IVF-PQ design — public). Deterministic end to end
    (integer LUT sums; exact integer-cosine rescore), identical
    output contract. Default rescore is deeper than SQ8's (8 vs 4):
    PQ's coarser codes push more of the quality budget into the
    rescore stage (see the pq recall test)."""
    by_sub = _pq_codebook_rows(codebook)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = vectors.select(F.col(id_col).alias("_id"), vec_d.alias("_v"))
    corpus = pq_encode(_assign(base, centroids), codebook, vec_col="_v").select(
        F.col("_id").alias("neighbor_id"), "cluster", "pq_code"
    )
    q = base if query_ids is None else base.filter(F.col("_id").isin(query_ids))
    probes = _assign(q, centroids, nprobe=nprobe).select(
        F.col("_id").alias("query_id"),
        "cluster",
        _pq_lut_col(by_sub, "_v").alias("_lut"),
    )
    # probe side is |Q| x nprobe rows: broadcast only when query_ids
    # bounds |Q| (all-pairs would broadcast the corpus — see ivf_sq8_topk)
    bounded = query_ids is not None
    w1 = Window.partitionBy("query_id").orderBy(F.desc("_pqs"), F.asc("neighbor_id"))
    cand = (
        (F.broadcast(probes) if bounded else probes).join(corpus, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pq_score().alias("_pqs"))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= rescore * k)
        .select("query_id", "neighbor_id")
    )
    qsrc = vectors if query_ids is None else vectors.filter(F.col(id_col).isin(query_ids))
    return _exact_cosine_topk(
        cand, qsrc, vectors, k=k, id_col=id_col, vec_col=vec_col,
        broadcast_cand=bounded,
    )


# ---------------------------------------------------------------------------
# On-disk IVF indexes (SQ8 and PQ): cluster-partitioned Hive layout,
# partition-pruned probes — shared plumbing, per-codec encode/score
# ---------------------------------------------------------------------------


def _ivf_index_materialize(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    encode,
    code_col: str,
    *,
    id_col: str,
    vec_col: str,
    mode: str,
    files_per_cluster: int = 1,
    batch_id: str | None = None,
) -> str | None:
    """Shared write path for on-disk IVF indexes: assign each vector to
    its nearest centroid, apply the codec's `encode` (a df->df adding
    `code_col`), and land a Hive layout PARTITIONED BY cluster. Each
    inverted list is its own directory of (id, code, full-precision
    vector) rows. A probe then reads exactly the nprobe directories it
    routes to — the filter lands in the scan's PartitionFilters, so a
    100 TB index serves a query from nprobe/k of its files without any
    driver-side file math. The full-precision vector rides along IN
    the partition so the rescore stays a within-partition column read
    (codes and vector share a row group; the ranking scan still prunes
    to id+code via parquet column projection).

    mode='overwrite' builds, mode='append' maintains: appends assign
    NEW vectors against the EXISTING centroids/codec, so only touched
    clusters get new files and existing files are never rewritten
    (per-batch I/O ∝ batch, the pruned-upsert discipline). Re-fit only
    on measured drift — the IVF contract.

    File-count discipline (r11 scale audit finding): partitionBy
    writes one file per (task, cluster) pair, so a naive write lands
    O(shuffle_partitions * k) small files — 32x the minimum at
    defaults, and every append scatters another task-multiple. The
    repartition below clusters rows by (cluster [, salt]) FIRST:
    files_per_cluster=1 lands EXACTLY one file per touched cluster
    (hash-colliding clusters share a task but partitionBy still splits
    their files); files_per_cluster>1 spreads each cluster over UP TO
    that many tasks/files — salt buckets can hash-collide into one
    task, so the spread is probabilistic, an upper bound on files and
    a best-effort write-parallelism knob for giant clusters, not an
    exact count. Probe I/O and file listing stay ∝ nprobe/k either
    way. The shuffle this adds is a one-time cost of the build/append
    job itself (the pass over the batch was already being paid).
    Parquet stays splittable, so read-side parallelism of a giant
    cluster does not depend on this knob — row groups fan out to
    tasks regardless."""

    def _enc(cents: DataFrame) -> DataFrame:
        # built lazily AGAINST A CHOSEN CENTROID SET: the append path
        # below may swap the caller-passed frame for the one a resumed
        # split/merge produced, and the assignment must follow
        vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        # carry the ORIGINAL vector column into the index (float stays
        # float — storing the double working copy would double the
        # bytes)
        base = vectors.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_orig"),
            vec_d.alias("_v"),
        )
        enc = encode(_assign(base, cents)).select(
            F.col("_id").alias(id_col),
            F.col("_orig").alias(vec_col),
            code_col,
            "cluster",
        )
        if files_per_cluster == 1:
            return enc.repartition(F.col("cluster"))
        return enc.repartition(
            F.col("cluster"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_cluster)),
        )

    if mode != "append":
        # a rebuild starts a new generation: a stale append staging
        # was committed against the OLD fits (promoting it into the
        # new index would mix codec generations) and the ingest log's
        # batch ids name batches of the old corpus — clear both, the
        # minhash_index_write discipline
        spark = vectors.sparkSession
        fs, _ = commit.hadoop_fs(spark, path)
        for stale in (_APPEND_STAGING, commit.INGEST_LOG):
            jst = commit.hadoop_fs(spark, f"{path.rstrip('/')}/{stale}")[1]
            if fs.exists(jst):
                fs.delete(jst, True)
        _enc(centroids).write.mode(mode).partitionBy("cluster").parquet(path)
        return None

    # STAGED append — the exactly-once protocol of the dedup index:
    # stage the batch's partition tree, commit (with _BATCH_<key> when a
    # batch_id is given), apply by file renames; a retry whose key is
    # logged returns 'duplicate' without reading the batch.
    spark = vectors.sparkSession
    root = path.rstrip("/")
    # the append is a writer: every pending staging settles first, and
    # a resumed split/merge's centroid set is authoritative for this
    # batch's assignment (the caller's frame predates it — assigning
    # against it could recreate a deleted cluster dir as a zombie)
    _, resumed = _recover(spark, root)
    if resumed is not None:
        centroids = resumed
    if batch_id is not None and commit.ingest_log_has(
        spark, root, commit.batch_key(batch_id)
    ):
        return "duplicate"
    sc = commit.StagedCommit(spark, root, _APPEND_STAGING)
    _enc(centroids).write.mode("overwrite").partitionBy("cluster").parquet(
        f"{sc.path}/data"
    )
    sc.commit(batch_id=batch_id)
    sc.settle(lambda: _apply_append_staging(spark, root))
    return "appended"


_APPEND_STAGING = "_append_staging"
_SPLIT_STAGING = "_split_staging"
_MERGE_STAGING = "_merge_staging"
_DELETE_STAGING = "_delete_staging"


def _apply_append_staging(spark, root: str) -> None:
    """Apply step of a committed append: rename the staged files into
    the live cluster directories (append-only — staged part-file names
    are write-unique, and move_tree raises on any failed rename)."""
    commit.move_tree(spark, f"{root}/{_APPEND_STAGING}/data", root)


def _delete_commit(spark, root: str) -> commit.StagedCommit:
    """The staging a delete commits through: the touched clusters'
    survivor dirs plus the _emptied record of the clusters it empties."""
    return commit.StagedCommit(spark, root, _DELETE_STAGING, record="_emptied")


def _recover(spark, root: str, *, best_effort: bool = False):
    """Settle every pending IVF staging through commit.StagedCommit, in
    this order: delete, split, merge, then append. A pending delete
    predates any other staging (every entry point settles before it
    stages), and its survivor dirs must land before a later
    maintenance moves their rows. Maintenance goes before the append
    because an append staging's cluster assignment may predate a
    crashed split/merge: applying it first could rename its rows into
    a cold/victim directory the maintenance apply then deletes.
    best_effort: read-only entry points warn and read live files only.

    Returns (split_cluster, centroids): the source cluster of a resumed
    split and the freshest resumed centroid set, each None when nothing
    was resumed (a caller's centroid frame predates a resume)."""
    split = commit.StagedCommit(spark, root, _SPLIT_STAGING, record="_source_cluster")
    merge = commit.StagedCommit(spark, root, _MERGE_STAGING, record="_cold_clusters")
    out = [None, None]

    def apply_split():
        (src,) = split.record_values()
        out[:] = [src, _staged_centroids(spark, split)]
        _apply_split_staging(spark, root, src, out[1])

    def apply_merge():
        out[1] = _staged_centroids(spark, merge)
        _apply_merge_staging(spark, root, merge.record_values(), out[1])

    dele = _delete_commit(spark, root)
    dele.settle(lambda: dele.promote({"": "cluster"}), best_effort=best_effort)
    split.settle(apply_split, best_effort=best_effort)
    merge.settle(apply_merge, best_effort=best_effort)
    commit.StagedCommit(spark, root, _APPEND_STAGING).settle(
        lambda: _apply_append_staging(spark, root), best_effort=best_effort
    )
    return out[0], out[1]


def _staged_centroids(spark, sc: commit.StagedCommit) -> DataFrame:
    """A staged maintenance's centroid set, pinned before the apply step
    overwrites _fits/centroids (its lineage may read that parquet)."""
    return spark.read.parquet(f"{sc.path}/_new_centroids").localCheckpoint(
        eager=True
    )


def _ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    code_col: str,
    query_side,
    score_expr,
    *,
    k: int,
    nprobe: int,
    rescore: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared search path for on-disk IVF indexes: queries route to
    their nprobe nearest centroids, the index scan filters
    cluster IN (probed set) — PARTITION-PRUNED at the source, reading
    nprobe/k of the index files — then code-column ranking (the
    codec's `score_expr` over `query_side(probes)`'s per-query
    columns) + exact rescore. The probed-cluster set is a bounded
    collect (|Q| x nprobe cluster ids, the bucket-id-list class), which
    is what turns the probe into a static partition filter instead of
    a join (a join would defeat pruning: partition filters must be
    literal at planning time).

    Usage boundary: this is the INTERACTIVE/batch-lookup path — the
    probed-set collect is bounded by distinct clusters (<= k), but the
    pruning PAYOFF shrinks as |Q| grows: a query batch big enough to
    route to most clusters reads ~the whole index anyway. For
    corpus-scale query sides (e.g. joining a full ingest batch against
    the index) run the in-memory composition (ivf_sq8_topk /
    ivf_pq_topk) over spark.read.parquet(index_path) instead — same
    plan shape, no driver round-trip, and the broadcast probe join
    does the routing.

    Deterministic output contract (query_id, neighbor_id, cosine,
    rank); equivalence tests pin byte-identical results vs the
    in-memory compositions."""
    # settle best-effort (read-only entry point): a committed but
    # unapplied batch would otherwise be invisible to the scan until
    # the next writer runs
    _recover(spark, path.rstrip("/"), best_effort=True)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("_id"), vec_d.alias("_v"))
    probes = _assign(q, centroids, nprobe=nprobe)
    probed = sorted(
        {r.cluster for r in probes.select("cluster").distinct().collect()}
    )
    idx = spark.read.parquet(path).filter(F.col("cluster").isin(probed))
    corpus = idx.select(
        F.col(id_col).alias("neighbor_id"), "cluster", code_col
    )
    qs = query_side(probes)
    w1 = Window.partitionBy("query_id").orderBy(F.desc("_score"), F.asc("neighbor_id"))
    cand = (
        F.broadcast(qs)
        .join(corpus, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score_expr().alias("_score"))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= rescore * k)
        .select("query_id", "neighbor_id")
    )
    # rescore from the SAME pruned partitions: the full vectors ride in
    # the index rows, so no second source is touched
    nv_src = idx.select(F.col(id_col), F.col(vec_col))
    return _exact_cosine_topk(cand, queries, nv_src, k=k, id_col=id_col, vec_col=vec_col)


def _sq8_query_weights(bounds: DataFrame):
    """Query-side builder for SQ8 asymmetric scoring: fold the query
    against the per-dim widths ONCE as w_i = round(q_i*(mx_i-mn_i)*1e6)
    (see ivf_sq8_topk's determinism note)."""

    def build(probes):
        return probes.crossJoin(F.broadcast(bounds)).select(
            F.col("_id").alias("query_id"),
            "cluster",
            F.transform(
                F.col("_v"),
                lambda qi, i: F.round(
                    qi
                    * (F.element_at("maxs", i + 1) - F.element_at("mins", i + 1))
                    * 1000000.0,
                    0,
                ).cast("bigint"),
            ).alias("_w"),
        )

    return build


def _sq8_score():
    """Pure-int64 SQ8 asymmetric score (order-independent sum)."""
    return F.aggregate(
        F.zip_with("_w", "code", lambda w, c: w * (c.cast("long") + 128)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def ivf_sq8_index_write(
    vectors: DataFrame,
    centroids: DataFrame,
    bounds: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    save_fits: bool = True,
) -> None:
    """Materialize the IVF-SQ8 index (see _ivf_index_materialize).
    save_fits (default on) persists centroids+bounds under
    <path>/_fits/ so the index is self-contained — readers recover
    them with ivf_index_load_fits instead of tracking fit state
    externally."""
    # NOT overlapped with the fits save (r20, measured-and-rejected
    # class): mode='overwrite' TRUNCATES the whole target dir, so a
    # concurrently-landed <path>/_fits would be wiped by the data
    # write — the sequential data-then-fits order is load-bearing.
    _ivf_index_materialize(
        vectors,
        centroids,
        path,
        lambda df: sq8_encode(df, bounds, vec_col="_v"),
        "code",
        id_col=id_col,
        vec_col=vec_col,
        mode="overwrite",
        files_per_cluster=files_per_cluster,
    )
    if save_fits:
        ivf_index_save_fits(
            vectors.sparkSession, path, centroids=centroids, bounds=bounds
        )


def ivf_sq8_search_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame | None = None,
    bounds: DataFrame | None = None,
    *,
    k: int = 5,
    nprobe: int = 2,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted ivf_sq8_index_write layout: partition-pruned
    probes, int8 ranking, exact rescore (see _ivf_index_search).
    centroids/bounds default to the index's own _fits (self-contained
    usage: search needs only spark + path + queries)."""
    if centroids is None or bounds is None:
        fits = ivf_index_load_fits(spark, path)
        # require from _fits only what the caller did NOT pass — mixed
        # usage (e.g. bounds managed externally, centroids persisted)
        # is legitimate
        needed = {
            name
            for name, val in (("centroids", centroids), ("bounds", bounds))
            if val is None
        }
        missing = needed - set(fits)
        if missing:
            raise ValueError(
                f"ivf_sq8_search_index: index at {path!r} lacks _fits/"
                f"{sorted(missing)} — is this an SQ8 index? Pass the "
                "fits explicitly if managed externally"
            )
        centroids = centroids if centroids is not None else fits["centroids"]
        bounds = bounds if bounds is not None else fits["bounds"]
    return _ivf_index_search(
        spark,
        path,
        queries,
        centroids,
        "code",
        _sq8_query_weights(bounds),
        _sq8_score,
        k=k,
        nprobe=nprobe,
        rescore=rescore,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_sq8_index_append(
    vectors: DataFrame,
    centroids: DataFrame,
    bounds: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    batch_id: str | None = None,
) -> str:
    """Incremental SQ8 index maintenance: encode against the existing
    bounds (out-of-range values saturate — the clamp exists for
    exactly this drift case) and APPEND into the matching cluster
    directories via the staged _COMMITTED-marker promotion (r15 —
    see _ivf_index_materialize). batch_id is the idempotency key for
    exactly-once ingest under at-least-once retries (the dedup
    index's minhash_index_append(batch_id=...) contract). Returns
    'appended' | 'duplicate'."""
    return _ivf_index_materialize(
        vectors,
        centroids,
        path,
        lambda df: sq8_encode(df, bounds, vec_col="_v"),
        "code",
        id_col=id_col,
        vec_col=vec_col,
        mode="append",
        files_per_cluster=files_per_cluster,
        batch_id=batch_id,
    )


def ivf_pq_index_write(
    vectors: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    save_fits: bool = True,
) -> None:
    """Materialize the IVF-PQ index: the same cluster-partitioned Hive
    layout as SQ8 with the 8-byte pq_code column as the scan payload —
    the bottom of the on-disk candidate-scan I/O ladder (float32 256 B
    -> SQ8 64 B -> PQ 8 B per 64-dim vector). save_fits (default on)
    persists centroids+codebook under <path>/_fits/ (self-contained
    index; ivf_index_load_fits recovers them)."""
    _ivf_index_materialize(
        vectors,
        centroids,
        path,
        lambda df: pq_encode(df, codebook, vec_col="_v"),
        "pq_code",
        id_col=id_col,
        vec_col=vec_col,
        mode="overwrite",
        files_per_cluster=files_per_cluster,
    )
    if save_fits:
        ivf_index_save_fits(
            vectors.sparkSession, path, centroids=centroids, codebook=codebook
        )


def ivf_pq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    *,
    k: int = 5,
    nprobe: int = 2,
    rescore: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted ivf_pq_index_write layout: partition-pruned
    probes, integer-ADC-LUT ranking over the m-byte codes, exact
    rescore from the same pruned partitions. Default rescore matches
    ivf_pq_topk's deeper setting (PQ's coarser codes push more of the
    quality budget into the rescore stage). centroids/codebook default
    to the index's own _fits (search needs only spark+path+queries)."""
    if centroids is None or codebook is None:
        fits = ivf_index_load_fits(spark, path)
        needed = {
            name
            for name, val in (("centroids", centroids), ("codebook", codebook))
            if val is None
        }
        missing = needed - set(fits)
        if missing:
            raise ValueError(
                f"ivf_pq_search_index: index at {path!r} lacks _fits/"
                f"{sorted(missing)} — is this a PQ index? Pass the "
                "fits explicitly if managed externally"
            )
        centroids = centroids if centroids is not None else fits["centroids"]
        codebook = codebook if codebook is not None else fits["codebook"]
    by_sub = _pq_codebook_rows(codebook)

    def query_side(probes):
        return probes.select(
            F.col("_id").alias("query_id"),
            "cluster",
            _pq_lut_col(by_sub, "_v").alias("_lut"),
        )

    return _ivf_index_search(
        spark,
        path,
        queries,
        centroids,
        "pq_code",
        query_side,
        _pq_score,
        k=k,
        nprobe=nprobe,
        rescore=rescore,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_pq_index_append(
    vectors: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    batch_id: str | None = None,
) -> str:
    """Incremental PQ index maintenance: encode new vectors against the
    EXISTING codebook and APPEND into the matching cluster directories
    — only touched clusters get new files; staged _COMMITTED-marker
    promotion with optional batch_id idempotency (r15 — see
    ivf_sq8_index_append). Returns 'appended' | 'duplicate'."""
    return _ivf_index_materialize(
        vectors,
        centroids,
        path,
        lambda df: pq_encode(df, codebook, vec_col="_v"),
        "pq_code",
        id_col=id_col,
        vec_col=vec_col,
        mode="append",
        files_per_cluster=files_per_cluster,
        batch_id=batch_id,
    )


def sq8_drift_stats(
    batch: DataFrame, bounds: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """The 'measured drift' behind the re-fit decision the index
    docstrings defer to: ONE row of
    (n_vectors, n_values, n_clamped, clamp_rate_micro, worst_dim,
    worst_dim_rate_micro) for an incoming batch against the FITTED
    bounds. A value is 'clamped' when it falls outside [mn, mx] for
    its dimension — exactly the values sq8_encode saturates. Rates
    are integer micros (exact, order-independent). Operational rule
    of thumb (Faiss practice): re-fit bounds when the clamp rate
    leaves the low single-digit percents, or when ONE dimension
    concentrates the clamping (distribution shift, not tail noise) —
    the worst_dim columns separate the two cases. One aggregation
    scan; no shuffle beyond the dim-sized partial aggregate.
    """
    ex = (
        batch.crossJoin(F.broadcast(bounds))
        .select(F.posexplode(F.col(vec_col)).alias("pos", "x"), "mins", "maxs")
        .select(
            "pos",
            (
                (F.col("x") < F.element_at("mins", F.col("pos") + 1))
                | (F.col("x") > F.element_at("maxs", F.col("pos") + 1))
            )
            .cast("long")
            .alias("clamped"),
        )
    )
    per_dim = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("clamped").alias("c")
    )
    # n_vectors = per-dim value count (every vector contributes one
    # value to every dim), derived in the SAME aggregate — no second
    # scan of the batch. Counts coalesce to 0 for an EMPTY batch (the
    # aggregates would be NULL over zero per-dim rows); rates stay
    # NULL there — 0/0 has no honest number. Rows with NULL/empty
    # vectors contribute no values and are not counted: the stats
    # describe the ENCODABLE content of the batch.
    return per_dim.agg(
        F.coalesce(F.max("n"), F.lit(0)).alias("n_vectors"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_values"),
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_clamped"),
        F.expr("(1000000 * sum(c)) div sum(n)").cast("bigint").alias(
            "clamp_rate_micro"
        ),
        # deterministic tie-break: highest clamp count, then lowest dim
        F.expr("max_by(pos, struct(c, -pos))").alias("worst_dim"),
        F.expr("(1000000 * max(c)) div max(n)").cast("bigint").alias(
            "worst_dim_rate_micro"
        ),
    )


def pq_drift_stats(
    batch: DataFrame, codebook: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """The PQ re-fit trigger — sq8_drift_stats' symmetry partner: ONE
    row of reconstruction-distortion stats for an incoming batch
    against the FITTED codebook,
    (n_vectors, n_subvectors, mse_micro, max_se_micro, worst_sub,
    worst_sub_mse_micro). Per (row, subspace) the distortion is the
    MIN exact-integer centroid distance — exactly the squared L2
    error of the code pq_encode would assign — rounded to integer
    micro-units (input units squared x 1e6, the _ASSIGN_SCALE^2
    scale), so every aggregate is an order-independent int64 sum.

    Operational rule (mirrors the SQ8 clamp-rate rule): record this
    function's output on the TRAINING sample at fit time; re-fit the
    codebook when a batch's mse_micro leaves that baseline by a
    factor (distribution shift makes all codes coarser), or when ONE
    subspace concentrates the distortion (a feature-block shift, not
    tail noise) — worst_sub separates the two cases. Expression-only
    per row (literal centroids) + one dim-bounded aggregate; no joins,
    no corpus shuffle."""
    by_sub = _pq_codebook_rows(codebook)
    m = len(by_sub)
    xq = _quantize(
        F.transform(F.col(vec_col), lambda x: x.cast("double")), _ASSIGN_SCALE
    )
    per_sub = F.array(
        *[
            F.round(F.array_min(_pq_sub_dists(by_sub, s, xq)), 0).cast("long")
            for s in range(m)
        ]
    )
    # per_sub is a CONSTRUCTED array — non-null even when every element
    # is NULL (NULL/empty/short vector), so posexplode still emits m
    # rows with se=NULL; count(lit(1)) would include them in n while
    # sum skips the NULL se, deflating mse_micro and inflating
    # n_vectors/n_subvectors. Dropping NULL se restores the documented
    # encodable-content contract (sq8_drift_stats' direct
    # posexplode(vec_col) gets the same behavior for free).
    ex = batch.select(F.posexplode(per_sub).alias("sub", "se")).filter(
        F.col("se").isNotNull()
    )
    agg = ex.groupBy("sub").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("se").alias("tot"),
        F.max("se").alias("mx"),
    )
    # counts coalesce to 0 on an empty batch; distortion columns stay
    # NULL there (no honest number); NULL/empty-vector rows contribute
    # no subvectors (same encodable-content contract as sq8_drift_stats)
    return agg.agg(
        F.coalesce(F.max("n"), F.lit(0)).alias("n_vectors"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_subvectors"),
        F.expr("sum(tot) div sum(n)").cast("bigint").alias("mse_micro"),
        F.max("mx").alias("max_se_micro"),
        # deterministic tie-break: highest total distortion, lowest sub
        F.expr("max_by(sub, struct(tot, -sub))").alias("worst_sub"),
        # BOTH operands must come from the SAME (worst) sub: since the
        # NULL-se filter, per-sub n differs when short/truncated
        # vectors leave trailing subspaces NULL, so max(tot) div max(n)
        # could divide one sub's distortion by ANOTHER sub's count
        # (ADVICE r12). Same max_by tie-break as worst_sub.
        # integer `div` (not `/` + cast): tot is an int64 micro-unit
        # sum that can exceed 2^53, where a double quotient loses bits
        F.expr(
            "max_by(tot, struct(tot, -sub)) div "
            "max_by(n, struct(tot, -sub))"
        ).cast("bigint").alias("worst_sub_mse_micro"),
    )


# ---------------------------------------------------------------------------
# Index self-containment: fits ride INSIDE the index under _fits/
# ---------------------------------------------------------------------------


def ivf_index_save_fits(
    spark,
    path: str,
    *,
    centroids: DataFrame | None = None,
    bounds: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> None:
    """Persist the index's fitted state (IVF centroids, SQ8 bounds,
    PQ codebook — whichever apply) under `<path>/_fits/<name>` so the
    on-disk index is SELF-CONTAINED: a reader needs only the path.
    The underscore prefix keeps the subtree invisible to Spark's file
    index (data scans of the index never touch it) and to the
    compaction walker. Fits are tiny (k rows / 1 row / m*k rows) —
    coalesce(1) so each is a single file. The writes land under
    independent paths with no ordering contract between them, so they
    run concurrently from driver threads (r19 — the dedup index's
    _par_jobs overlap; each fit write is a fixed ~0.2-0.4 s job at any
    scale, and sequential saves paid that thrice)."""
    from idhub_spark.operators.dedup_index import _par_jobs

    thunks = [
        lambda name=name, df=df: df.coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path.rstrip('/')}/_fits/{name}")
        for name, df in (
            ("centroids", centroids),
            ("bounds", bounds),
            ("codebook", codebook),
        )
        if df is not None
    ]
    if thunks:
        _par_jobs(*thunks)


def ivf_index_load_fits(spark, path: str) -> dict[str, DataFrame]:
    """Load whatever fits ivf_index_save_fits persisted for this index
    — {'centroids': df, 'bounds': df, 'codebook': df} with only the
    present keys. Raises if the index carries no _fits at all (an
    index written before save_fits was adopted: pass the fits
    explicitly)."""
    root = f"{path.rstrip('/')}/_fits"
    fs, jroot = commit.hadoop_fs(spark, root)
    out: dict[str, DataFrame] = {}
    for name in ("centroids", "bounds", "codebook"):
        d = f"{root}/{name}"
        _, jd = commit.hadoop_fs(spark, d)
        if fs.exists(jd):
            out[name] = spark.read.parquet(d)
    if not out:
        raise ValueError(
            f"ivf_index_load_fits: no _fits under {path!r} — the index "
            "was written without save_fits; pass centroids/bounds/"
            "codebook explicitly"
        )
    return out


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Per-cluster health of an on-disk IVF index: (cluster, n_rows,
    n_files) plus a total row that SORTS FIRST (cluster = -1, so it
    leads the ascending output — take row 0, not the tail) — the operational
    check behind probe-latency skew (a cluster holding 30% of the
    corpus makes every probe that routes to it a straggler; the fix is
    a re-fit with more clusters or splitting hot clusters). The row
    count reads ONLY the partition column (parquet metadata-weight
    scan); file counts come from input_file_name over the same scan —
    one job, no vector bytes read. Settles any pending staging first
    so the counts never miss rows that live only in a committed
    staging; three fs.exists when nothing is pending. The settle is
    BEST-EFFORT here (read-only entry point): losing the race to a
    concurrent writer, or reading a read-only replica, degrades to a
    warning + live-files-only counts instead of failing a health
    check. Writers keep the mandatory settle; like them, stats assumes
    a SINGLE maintenance writer."""
    _recover(spark, path.rstrip("/"), best_effort=True)
    idx = spark.read.parquet(path).select(
        "cluster", F.input_file_name().alias("_f")
    )
    per = idx.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_f").alias("n_files"),
    )
    total = per.agg(
        F.lit(-1).alias("cluster"),
        # an emptied index totals 0, not NULL
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.sum("n_files"), F.lit(0)).alias("n_files"),
    )
    return per.unionByName(total).orderBy("cluster")


def ivf_index_compact(
    spark,
    src_path: str,
    dst_path: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    ingest_log_horizon_s: float | None = commit.INGEST_LOG_HORIZON_S,
) -> tuple[int, int]:
    """Compact an on-disk IVF index's append debris AND carry its
    _fits sidecar to the compacted copy. The generic
    storage.compact_small_files deliberately skips '_'-prefixed
    directories (stale _spark_metadata must NOT be copied), so
    compacting a self-contained index through it alone would produce
    a dst whose no-arg search raises 'no _fits' — this wrapper is the
    index-aware maintenance entry point: storage.compact_partitioned
    (ONE scan + one hash-shuffle on `cluster` + one partitioned write,
    ~1 file per cluster — the generic per-leaf compactor's
    job-per-directory loop dominates at large k, r13 audit finding;
    codes are a fraction of the raw vectors, so one bounded shuffle is
    the right trade) plus a fits re-save. Settles any pending
    split/merge staging on the SOURCE first (ADVICE r12 class): the
    compaction scan skips '_'-prefixed directories, so a crashed
    apply's staged rows would silently be left out of the compacted
    copy. Returns (n_source_files, n_output_files)."""
    from idhub_spark.storage import compact_partitioned

    _recover(spark, src_path.rstrip("/"))
    n_src, n_out = compact_partitioned(
        spark, src_path, dst_path, "cluster", target_bytes=target_bytes
    )
    try:
        fits = ivf_index_load_fits(spark, src_path)
    except ValueError:
        fits = {}  # externally-managed fits: nothing to carry
    if fits:
        ivf_index_save_fits(spark, dst_path, **fits)
    # the compacted copy holds the same accepted batches: their
    # in-horizon keys must keep rejecting retries
    commit.carry_ingest_log(spark, src_path, dst_path, ingest_log_horizon_s)
    return n_src, n_out


def _refresh_fits(spark, root: str, centroids: DataFrame) -> None:
    """Overwrite _fits/centroids with `centroids` when it is persisted
    (a stale copy would route no-arg searches to a deleted cluster)."""
    fs, jfits = commit.hadoop_fs(spark, f"{root}/_fits/centroids")
    if fs.exists(jfits):
        ivf_index_save_fits(spark, root, centroids=centroids)


def _apply_split_staging(spark, root: str, src: int, centroids) -> None:
    """Apply step of a committed split: delete the source cluster dir,
    rename the staged sub-cluster files in, refresh the fits. Each step
    is idempotent, so a committed split always resumes — however much
    of a non-atomic recursive delete had already run."""
    fs, jold = commit.hadoop_fs(spark, f"{root}/cluster={src}")
    fs.delete(jold, True)
    commit.move_tree(spark, f"{root}/{_SPLIT_STAGING}", root)
    _refresh_fits(spark, root, centroids)


def _apply_merge_staging(spark, root: str, cold_ids, centroids) -> None:
    """Apply step of a committed cold-merge/adoption: delete the
    recorded source dirs, rename the staged re-assigned rows INTO the
    surviving target dirs, refresh the fits. Idempotent."""
    for c in cold_ids:
        fs, jdir = commit.hadoop_fs(spark, f"{root}/cluster={c}")
        fs.delete(jdir, True)
    commit.move_tree(spark, f"{root}/{_MERGE_STAGING}/data", root)
    _refresh_fits(spark, root, centroids)


def ivf_index_split_cluster(
    spark,
    path: str,
    cluster: int,
    *,
    k2: int = 2,
    centroids: DataFrame | None = None,
    sample_n: int = 4_000,
    max_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
) -> DataFrame:
    """Split ONE hot cluster of an on-disk IVF index into k2
    sub-clusters — the maintenance action ivf_index_stats' skew report
    motivates (a cluster holding a large corpus share makes every
    probe that routes to it a straggler; splitting it shrinks the
    candidate scan without re-fitting the whole index).

    I/O ∝ the split cluster: only its directory is read (partition-
    pruned), only the new sub-cluster directories are written, every
    other directory is untouched (mtime-stable, test-pinned). The
    stored codes/vectors are REUSED — codec state (bounds/codebook)
    does not change when cluster geometry does, so no re-encode.
    Sub-centroids are fit with the exact-integer kmeans on a
    deterministic hash-sample of the members (the standard envelope
    recipe) and renumbered above the current max cluster id; the old
    centroid row is dropped. Flat-IVF routing is unchanged — searches
    simply see k+k2-1 centroids.

    Returns the UPDATED centroids frame (localCheckpointed — safe to
    use immediately). _fits/centroids is refreshed whenever it EXISTS
    on disk — including when `centroids` was passed explicitly — since
    a stale persisted copy would route later no-arg searches to the
    deleted cluster (silent empty results).

    Crash safety — a commit.StagedCommit under <path>/_split_staging,
    never a live append: the re-assigned members, the full updated
    centroid set and a _source_cluster record naming the split cluster
    are staged, then _COMMITTED is written last. The staging is
    complete iff _COMMITTED exists. The apply step deletes the source
    dir, renames the staged sub-cluster files in and refreshes the
    fits; each step is idempotent, so a committed split is always
    resumed — even after a crash half-way through the (non-atomic)
    recursive delete — and an uncommitted one is discarded with the
    index untouched. A committed staging whose _source_cluster cannot
    be read raises instead of guessing.

    Every entry settles pending stagings first (split, merge, append —
    the order in _recover), keyed on the RECORDED source cluster, never
    on this call's `cluster` argument: a rerun targeting another
    cluster B after a crashed split of A first finishes A, then splits
    B on the resumed centroid set (any caller-passed set predates the
    resume and would keep routing to the deleted directory)."""
    root = path.rstrip("/")
    staged_cluster, resumed = _recover(spark, root)
    if resumed is not None:
        if staged_cluster == cluster:
            return resumed
        # the interrupted maintenance is complete; proceed with the
        # requested split on the resumed (authoritative) centroid set
        centroids = resumed

    if centroids is None:
        fits = ivf_index_load_fits(spark, path)
        if "centroids" not in fits:
            raise ValueError(
                f"ivf_index_split_cluster: no _fits/centroids under "
                f"{path!r}; pass centroids= explicitly"
            )
        centroids = fits["centroids"]
    members = spark.read.parquet(path).filter(F.col("cluster") == cluster)
    if not members.head(1):
        raise ValueError(
            f"ivf_index_split_cluster: cluster {cluster} of {path!r} "
            "is empty or absent"
        )
    # deterministic hash-sample inside the exact-arithmetic envelope
    sample = (
        members.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_n)
    )
    sub = kmeans_fit(sample, k=k2, max_iter=max_iter, id_col=id_col, vec_col=vec_col)
    max_id = centroids.agg(F.max("cluster")).first()[0]
    sub_renum = sub.withColumn(
        "cluster", (F.col("cluster") + max_id + 1).cast(dict(centroids.dtypes)["cluster"])
    )
    new_centroids = (
        centroids.filter(F.col("cluster") != cluster)
        .unionByName(sub_renum)
        # materialize BEFORE _fits/centroids is overwritten in the
        # apply phase — the lineage READS that parquet (self-overwrite
        # trap)
        .localCheckpoint(eager=True)
    )
    # STAGE: re-assign the members among the new sub-centroids
    # (codes/vectors ride along unchanged) and persist the updated
    # centroid set alongside, so a resume never needs the (soon-
    # deleted) old directory
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = _assign(
        members.select(F.col(id_col).alias("_id"), vec_d.alias("_v")), sub_renum
    ).select(F.col("_id").alias(id_col), "cluster")
    out = members.drop("cluster").join(assigned, id_col)
    if files_per_cluster == 1:
        out = out.repartition(F.col("cluster"))
    else:
        out = out.repartition(
            F.col("cluster"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_cluster)),
        )
    # NOT overlapped (unlike the cold-merge's staged writes): the
    # member write overwrites the staging ROOT itself — clearing the
    # directory a concurrent _new_centroids write would land in — so
    # the sequential order is load-bearing here
    sc = commit.StagedCommit(spark, root, _SPLIT_STAGING, record="_source_cluster")
    out.write.mode("overwrite").partitionBy("cluster").parquet(sc.path)
    new_centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{sc.path}/_new_centroids"
    )
    sc.write_record([cluster])
    sc.commit()
    sc.settle(lambda: _apply_split_staging(spark, root, cluster, new_centroids))
    return new_centroids


def split_hot_clusters(
    spark,
    path: str,
    *,
    max_share: float | None = None,
    max_rows: int | None = None,
    k2: int = 2,
    max_splits: int = 16,
    centroids: DataFrame | None = None,
    **split_kwargs,
) -> tuple[DataFrame, list[dict]]:
    """Auto-split POLICY for hot clusters: the loop that connects
    ivf_index_stats' skew report to ivf_index_split_cluster's staged
    apply — split every cluster above the threshold, biggest first,
    until none remain (or max_splits, the runaway guard).

    Exactly one of max_share / max_rows names the threshold:
    - max_share: a cluster is hot when it holds more than this
      fraction of the index's rows — the probe-LATENCY policy (a
      cluster at share s makes every probe routed to it scan ~s*N
      candidates; the operations doc derives the heuristic value from
      nprobe/k_clusters).
    - max_rows: absolute row cap — the task-MEMORY policy (one
      cluster's candidate scan must fit an executor's working set).

    Children of a split can themselves exceed the threshold (the hot
    mass may be concentrated); the loop re-reads stats and keeps
    going. A child that comes back the SAME SIZE as its parent is
    geometrically unsplittable at this k2 (duplicate/near-identical
    vectors all assigned to one sub-centroid) — it is excluded from
    further targeting instead of looping forever, and reported with
    did_split=False.

    Each iteration reuses the crash-staged single-cluster split, so an
    interruption anywhere leaves the index recoverable by ANY rerun
    (a committed split staging is resumed); the returned
    centroid frame threads through iterations so only the first may
    read _fits. Returns (final centroids, report) where report is one
    dict per attempted split: {cluster, rows_before, share_before,
    did_split}. I/O per iteration ∝ the split cluster (stats is a
    metadata-weight scan of the partition column only).

    split_kwargs ride through to ivf_index_split_cluster — notably
    sample_n: large-MAGNITUDE embedding spaces must size it to the
    exact-arithmetic kmeans envelope (dims*(2*n*S*|x|max)^2 < 2^53;
    kmeans_fit fails loudly with the corrective message). Normalized
    embeddings (|x| <= 1) keep the 4000-row default safe
    (docs/scale_audit_r12.md §2)."""
    if (max_share is None) == (max_rows is None):
        raise ValueError(
            "split_hot_clusters: exactly one of max_share / max_rows"
        )

    def _stats() -> tuple[dict[int, int], int]:
        s = {
            r.cluster: r.n_rows
            for r in ivf_index_stats(spark, path).collect()
        }
        total = s.pop(-1)
        return s, total

    report: list[dict] = []
    unsplittable: set[int] = set()
    cents = centroids
    stats, total = _stats()
    for _ in range(max_splits):
        limit = (
            max_rows if max_rows is not None else max_share * total
        )
        hot = [
            c
            for c, n in stats.items()
            if n > limit and c not in unsplittable
        ]
        if not hot:
            break
        target = max(hot, key=lambda c: (stats[c], -c))
        before = stats[target]
        cents = ivf_index_split_cluster(
            spark, path, target, k2=k2, centroids=cents, **split_kwargs
        )
        after, total = _stats()
        new_ids = set(after) - set(stats)
        stuck = {c for c in new_ids if after[c] == before}
        unsplittable |= stuck
        report.append(
            {
                "cluster": int(target),
                "rows_before": int(before),
                "share_before": before / total,
                "did_split": not stuck,
            }
        )
        stats = after
    return cents if cents is not None else ivf_index_load_fits(
        spark, path
    )["centroids"], report


def ivf_index_delete(
    spark,
    path: str,
    ids: "DataFrame | list",
    *,
    id_col: str = "vec_id",
) -> dict:
    """Retract vectors from an on-disk IVF index (takedown/expiry
    path): rewrite ONLY the cluster directories that hold them.

    Finding the work costs ONE columnar scan of (id, cluster) over the
    index — the id column is a few bytes/row against the code+vector
    payload, so the scan is metadata-weight; there is no id→cluster
    map to consult (and maintaining one would tax every append). The
    touched-cluster set is bounded by k and collected as literals.

    The rewrite is one commit.StagedCommit under <path>/_delete_staging:
    each touched cluster's SURVIVING rows are staged as its new
    directory, the clusters left with no rows go into the _emptied
    record, then _COMMITTED; the apply step (StagedCommit.promote)
    renames each staged dir over its live twin and drops the emptied
    ones (a delete of every vector leaves one zero-row file, so the
    index reads back as empty). A crash before the commit retracts nothing (the staging is
    discarded and a rerun redoes the work); a crash after it is
    finished by the next entry point. Centroids are left alone — an
    emptied cluster simply yields no candidates; reclaim it at the
    next re-fit or via split/compact maintenance. Untouched
    directories are never rewritten (mtime-stable, test-pinned).

    Returns {"rows_deleted", "clusters_rewritten", "clusters_dropped"}.
    """
    from idhub_spark.session import literal_frame

    root = path.rstrip("/")
    # settle every pending staging FIRST: a committed split/merge/append
    # holds rows only in its staging, and scanning without settling
    # would report the delete complete while a later apply renamed the
    # retracted vectors back in
    _recover(spark, root)
    if isinstance(ids, DataFrame):
        # materialized once (r19): the hits semi-join and the survivor
        # anti-join would each re-run the caller's id lineage + the
        # distinct exchange. Bounded by the takedown list. LAZY persist
        # (r20): the per-cluster collect below is its first action and
        # caches it in the same job — the standalone checkpoint job is
        # gone.
        ids_df = (
            ids.select(F.col(id_col).alias(id_col))
            .distinct()
            .persist()
        )
    else:
        if not ids:
            raise ValueError("ivf_index_delete: empty id list")
        dtype = "bigint" if all(isinstance(i, int) for i in ids) else "string"
        ids_df = literal_frame(
            spark, [(i,) for i in ids], f"{id_col} {dtype}"
        ).distinct()
    try:
        return _delete_ids(spark, root, ids_df, id_col)
    finally:
        ids_df.unpersist()


def _delete_ids(spark, root: str, ids_df: DataFrame, id_col: str) -> dict:
    """ivf_index_delete's body over the materialized id set."""
    hits = (
        spark.read.parquet(root)
        .select(id_col, "cluster")
        .join(ids_df, id_col, "semi")
    )
    per_cluster = hits.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    touched = [int(r.cluster) for r in per_cluster]
    rows_deleted = int(sum(r.n for r in per_cluster))
    if not touched:
        return {"rows_deleted": 0, "clusters_rewritten": 0, "clusters_dropped": 0}

    sc = _delete_commit(spark, root)
    survivors = (
        spark.read.parquet(root)
        .filter(F.col("cluster").isin(touched))
        .join(ids_df, id_col, "anti")
    )
    present = sc.stage_partitions(
        survivors.repartition(F.col("cluster")), "", "cluster", touched
    )
    sc.write_record(sc.emptied)
    sc.commit()
    sc.settle(lambda: sc.promote({"": "cluster"}))
    return {
        "rows_deleted": rows_deleted,
        "clusters_rewritten": len(present),
        "clusters_dropped": len(touched) - len(present),
    }


def ivf_index_merge_cold_clusters(
    spark,
    path: str,
    *,
    min_rows: int,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ingest_log_horizon_s: float | None = commit.INGEST_LOG_HORIZON_S,
) -> tuple[DataFrame, dict]:
    """The split policy's inverse — fold every cluster holding FEWER
    than min_rows rows into its members' nearest SURVIVING cluster.
    Deletions and skew drift leave sub-scale clusters whose
    directories tax every probe that routes to them (file-open
    overhead without candidate mass) and whose centroids dilute the
    routing quality budget; merging reclaims them without a re-fit.

    I/O ∝ the cold clusters: only their directories are read
    (partition-pruned), their members are re-assigned among the
    surviving centroids (codes/vectors reused — codec state doesn't
    change), and the re-assigned rows are APPENDED into the target
    directories as new files (existing files never rewritten). The
    cold centroid rows are dropped; _fits/centroids refreshes whenever
    it exists on disk.

    Crash safety — a commit.StagedCommit under <path>/_merge_staging:
    the re-assigned members (partitioned by target cluster), the
    surviving centroid set (_new_centroids) and a _cold_clusters
    record of the source ids are staged, then _COMMITTED is written
    last. The staging is complete iff _COMMITTED exists. The apply
    step deletes the cold directories, renames the staged part-files
    INTO the target directories (each file lives in exactly one place)
    and refreshes the fits; every step is idempotent, so a committed
    merge is always resumed and an uncommitted one discarded. A
    committed staging whose _cold_clusters cannot be read raises
    instead of guessing. After a resume, the requested merge proceeds
    on the resumed centroid set.

    Returns (final centroids frame, report) with report =
    {"merged_clusters": [...], "rows_moved": n}; a no-op merge (no
    cluster below min_rows) returns the current centroids and an
    empty report. Pending stagings are settled FIRST: a committed
    split's members live only in its staging, so the stats scan below
    would otherwise judge coldness over an index missing rows."""
    root = path.rstrip("/")

    # the cold-merge IS the IVF periodic-maintenance cadence (the
    # dedup fold's analog), so it also bounds the ingest log —
    # retention rationale at commit.INGEST_LOG_HORIZON_S. None
    # disables it, as at compact.
    commit.prune_ingest_log(spark, root, ingest_log_horizon_s)
    _, resumed = _recover(spark, root)
    if resumed is not None:
        centroids = resumed  # any caller-passed set predates the resume

    if centroids is None:
        fits = ivf_index_load_fits(spark, path)
        if "centroids" not in fits:
            raise ValueError(
                f"ivf_index_merge_cold_clusters: no _fits/centroids "
                f"under {path!r}; pass centroids= explicitly"
            )
        centroids = fits["centroids"]

    stats = {
        r.cluster: r.n_rows
        for r in ivf_index_stats(spark, path).collect()
        if r.cluster >= 0
    }
    # coldness is judged over the CENTROID set, not just on-disk dirs:
    # ivf_index_delete drops an emptied cluster's directory but keeps
    # its centroid row, and such an orphan routes (and wastes) one of
    # every matching search's nprobe slots — stats.get(c, 0) counts it
    # as 0 rows so the merge folds it away too (no members to move,
    # just the centroid row and the fits refresh)
    cent_ids = {int(r.cluster) for r in centroids.select("cluster").collect()}
    cold = sorted(c for c in cent_ids if stats.get(c, 0) < min_rows)
    if not cold:
        return centroids, {"merged_clusters": [], "rows_moved": 0}
    if len(cold) == len(cent_ids):
        raise ValueError(
            "ivf_index_merge_cold_clusters: every cluster is below "
            f"min_rows={min_rows} — re-fit the index instead of merging"
        )

    # LAZY persist on both (r20): rows_moved's count is the first
    # action — it materializes `out` AND (through the broadcast build
    # inside the assignment) `survivors` into the cache in that one
    # job, where the two eager checkpoints were two standalone jobs.
    # The cache still guarantees the count and the written rows are
    # the same computation, and the staged _new_centroids write (a
    # direct action over survivors) pins it before _fits/centroids is
    # overwritten in the apply phase (the self-overwrite trap: its
    # lineage may read that parquet). Residual window vs the old eager
    # checkpoint: cached blocks lost to EXECUTOR DEATH between the
    # staged write and the fits refresh would recompute from the
    # mid-overwrite parquet — which FAILS the job (FAILED_READ_FILE),
    # and the settle then resumes from the staged _new_centroids
    # parquet; fail-then-resume, never silent corruption.
    survivors = centroids.filter(~F.col("cluster").isin(cold)).persist()
    members = spark.read.parquet(root).filter(F.col("cluster").isin(cold))
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = _assign(
        members.select(F.col(id_col).alias("_id"), vec_d.alias("_v")),
        survivors,
    ).select(F.col("_id").alias(id_col), "cluster")
    out = members.drop("cluster").join(assigned, id_col).persist()
    rows_moved = int(out.count())
    # both staged writes precede the commit and land under disjoint
    # paths — overlap them (the dedup index's _par_jobs pattern)
    from idhub_spark.operators.dedup_index import _par_jobs

    sc = commit.StagedCommit(spark, root, _MERGE_STAGING, record="_cold_clusters")
    _par_jobs(
        lambda: out.repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{sc.path}/data"),
        lambda: survivors.coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{sc.path}/_new_centroids"),
    )
    out.unpersist()
    sc.write_record(cold)
    sc.commit()
    sc.settle(lambda: _apply_merge_staging(spark, root, cold, survivors))
    return survivors, {"merged_clusters": cold, "rows_moved": rows_moved}


def ivf_index_adopt_unrouted(
    spark,
    path: str,
    *,
    centroids: DataFrame | None = None,
    vec_col: str = "embedding",
) -> dict:
    """Re-home rows living in cluster directories that are NOT in the
    index's centroid set — 'zombie' clusters no probe ever routes to,
    so their rows are invisible to every search while still counting
    in stats and compactions. The known producer is a LEGACY append
    staging promoted after a maintenance resume (the recoverable
    worst case the r16 settle ordering chose — see
    _recover); a manually restored backup directory
    lands in the same state. ivf_index_merge_cold_clusters cannot
    help: it judges coldness over the CENTROID set, so an on-disk id
    without a centroid row is never selected.

    Recovery is pure re-ASSIGNMENT — the stored code column stays
    valid (SQ8/PQ codes depend only on bounds/codebook, never on the
    cluster), so no codec knowledge is needed: read ONLY the zombie
    directories, assign each row to its nearest live centroid, and
    run the exact staged cold-merge commit (staged reassigned rows,
    recorded source dirs, _COMMITTED, FS-rename apply) with the
    centroid set unchanged — a crash at any point settles like any
    merge. I/O ∝ zombie rows;
    the zombie scan is a directory listing (no Spark job) and the
    centroid collect is k-bounded. Adoption is per PHYSICAL row with
    no uniqueness assumption on the stored ids (ADVICE r16): the same
    vec_id appearing in two zombie dirs — overlapping legacy batches —
    re-homes as two rows, never a quadratic join fan-out.

    Returns {"adopted_rows", "dropped_clusters"} (empty when the
    index is clean — the common case costs the entry settles plus one
    listStatus)."""
    root = path.rstrip("/")
    # writer discipline: settle first (an append applied after a
    # maintenance resume can CREATE the zombie this operator fixes)
    _, resumed = _recover(spark, root)
    if resumed is not None:
        centroids = resumed

    if centroids is None:
        fits = ivf_index_load_fits(spark, path)
        if "centroids" not in fits:
            raise ValueError(
                f"ivf_index_adopt_unrouted: no _fits/centroids under "
                f"{path!r}; pass centroids= explicitly"
            )
        centroids = fits["centroids"]

    cent_ids = {int(r.cluster) for r in centroids.select("cluster").collect()}
    on_disk = {int(v) for v in commit.partition_values(spark, root, "cluster")}
    zombies = sorted(on_disk - cent_ids)
    if not zombies:
        return {"adopted_rows": 0, "dropped_clusters": []}

    members = spark.read.parquet(root).filter(F.col("cluster").isin(zombies))
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # assign on the members frame DIRECTLY (ADVICE r16): the old
    # select-then-join-back on bare id_col assumed vec_id uniqueness —
    # the same id in two zombie dirs (overlapping legacy batches)
    # fanned the join out quadratically and duplicated adopted rows.
    # A synthetic per-row _id keeps every physical row independent
    # (_assign windows by _id, so duplicates would otherwise collapse);
    # _assign preserves input columns, so the original row rides along.
    keep = [c for c in members.columns if c != "cluster"]
    # lazy persist + count = one materialization job (r20; the eager
    # checkpoint was a standalone job before the count)
    out = (
        _assign(
            members.drop("cluster")
            .withColumn("_id", F.monotonically_increasing_id())
            .withColumn("_v", vec_d),
            centroids,
        )
        .select(*keep, "cluster")
        .persist()
    )
    adopted = int(out.count())
    sc = commit.StagedCommit(spark, root, _MERGE_STAGING, record="_cold_clusters")
    (
        out.repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{sc.path}/data")
    )
    out.unpersist()
    # cents is pinned (k rows) before _fits/centroids is overwritten in
    # the apply step — its lineage may read that parquet
    cents = centroids.localCheckpoint(eager=True)
    cents.coalesce(1).write.mode("overwrite").parquet(
        f"{sc.path}/_new_centroids"
    )
    sc.write_record(zombies)
    sc.commit()
    sc.settle(lambda: _apply_merge_staging(spark, root, zombies, cents))
    return {"adopted_rows": adopted, "dropped_clusters": zombies}


def ivf_index_fsck(
    spark,
    path: str,
    *,
    centroids: DataFrame | None = None,
    ingest_log_horizon_s: float | None = commit.INGEST_LOG_HORIZON_S,
) -> dict:
    """READ-ONLY health check of an on-disk IVF index —
    minhash_index_fsck's twin, zero mutations (safe on a read-only
    replica, safe while the single writer runs, safe in cron
    alerting). The settle functions RESOLVE crash debris; fsck only
    CLASSIFIES it, reporting for each pending staging the action the
    next writer-entry settle would take, plus the two index states no
    settle fixes on its own:

    - ZOMBIE dirs (cluster dirs absent from the centroid set — rows
      invisible to every probe; fix = ivf_index_adopt_unrouted), and
    - ORPHAN centroids (centroid rows whose directory is gone — each
      wastes one of every matching search's nprobe slots; fix =
      ivf_index_merge_cold_clusters, which folds 0-row clusters).

    Each staging's state and settle action come from
    commit.StagedCommit.state() — the same call the settle acts on:
    uncommitted -> discard, committed -> apply, unreadable (committed
    but its record cannot be read) -> the settle raises; fsck reports
    it instead.

    Returns {"healthy", "findings": [str...], "pending_append_staging",
    "pending_split_staging", "pending_merge_staging",
    "pending_delete_staging", "zombie_clusters", "orphan_centroids",
    "n_cluster_dirs", "fits", "ingest_log"}. healthy == no findings;
    informational rows (prunable ingest entries) never flag by
    themselves. Cost: a handful of fs calls + k-bounded centroid
    collect + tiny marker reads when stagings exist; no data scan."""
    root = path.rstrip("/")
    fs, _ = commit.hadoop_fs(spark, root)
    findings: list[str] = []

    pending = {}
    for name, record in ((_APPEND_STAGING, None),
                         (_SPLIT_STAGING, "_source_cluster"),
                         (_MERGE_STAGING, "_cold_clusters"),
                         (_DELETE_STAGING, "_emptied")):
        sc = commit.StagedCommit(spark, root, name, record=record)
        pending[name] = None
        with commit.fsck_guard(findings, sc.label):
            pending[name] = sc.report(findings)

    fits_present = []
    on_disk = set()
    zombies, orphans = None, None
    with commit.fsck_guard(findings, "fits / cluster layout"):
        fits_present = sorted(
            st.getPath().getName()
            for st in (
                fs.listStatus(commit.hadoop_fs(spark, f"{root}/_fits")[1])
                if fs.exists(commit.hadoop_fs(spark, f"{root}/_fits")[1])
                else []
            )
            if not st.getPath().getName().startswith(("_", "."))
        )
        if centroids is None and "centroids" in fits_present:
            centroids = ivf_index_load_fits(spark, path)["centroids"]

        on_disk = {int(v) for v in commit.partition_values(spark, root, "cluster")}
        if centroids is not None:
            cent_ids = {
                int(r.cluster) for r in centroids.select("cluster").collect()
            }
            zombies = sorted(on_disk - cent_ids)
            orphans = sorted(cent_ids - on_disk)
            if zombies:
                findings.append(
                    f"{len(zombies)} zombie cluster dir(s) not in the "
                    f"centroid set (rows unreachable by probes — run "
                    f"adopt-unrouted): {zombies}"
                )
            if orphans:
                findings.append(
                    f"{len(orphans)} orphan centroid(s) without a "
                    f"directory (each wastes an nprobe slot — run "
                    f"merge-cold): {orphans}"
                )
        else:
            findings.append(
                "no centroid set (_fits/centroids absent and none passed) "
                "— zombie/orphan check skipped"
            )

    log_report = None
    with commit.fsck_guard(findings, "ingest log"):
        log_report = commit.ingest_log_report(spark, root, ingest_log_horizon_s)

    return {
        "healthy": not findings,
        "findings": findings,
        "pending_append_staging": pending[_APPEND_STAGING],
        "pending_split_staging": pending[_SPLIT_STAGING],
        "pending_merge_staging": pending[_MERGE_STAGING],
        "pending_delete_staging": pending[_DELETE_STAGING],
        "zombie_clusters": zombies,
        "orphan_centroids": orphans,
        "n_cluster_dirs": len(on_disk),
        "fits": fits_present,
        "ingest_log": log_report,
    }
