"""Batch identity resolution — the heart of the reference system.

Reference semantics (all cited into /root/reference):
- J1 lookup join: each candidate identifier is matched against
  `local_subject_ids` case-insensitively on `local_subject_id` alone
  (center-agnostic), collecting the set of matched GSIDs per record
  (gsid-service/services/identity_resolution.py:50-105, SQL at 56-68).
- J2 cardinality dispatch: 0 matches -> mint a new GSID
  (`create_new`); exactly 1 -> `link_existing`; >=2 -> `conflict_resolved`
  picking the OLDEST GSID by (created_at, gsid) and flagging the rest
  (identity_resolution.py:107-211, tie-break sort at 180-183).
- J3 link-back: every candidate identifier is upserted to point at the
  chosen GSID (identity_resolution.py:213-268).

The reference resolves records SEQUENTIALLY over HTTP, so record N+1
sees IDs minted by record N. A naive parallel port would mint two
different GSIDs for two new records that share an identifier inside
the same batch. The set-based fix (SURVEY.md §4.1): treat the batch as
a bipartite graph record <-> identifier, compute connected components
(alternating-minimum label propagation), then mint ONE GSID per
unresolved component. Matching against the existing registry stays a
single equi-join; components that touch an existing GSID adopt the
oldest such GSID exactly like the reference's tie-break.

Scale notes: resolve_identities has two paths with one result. A
batch of at most _LOCAL_MAX_ROWS candidate rows (a fragment upload)
resolves on the driver: three Spark jobs collect its ids, their
registry hits and the registry's copies of its minted GSIDs, and the
graph work runs in Python. Anything larger runs that first job, then
takes the Spark path, the bulk path and the oracle the driver path is
tested against: equi-joins + groupBys on the normalized identifier
key; the registry join partitions on lower(local_subject_id) (same
hash both sides -> no extra exchange). Its CC loop converges in
O(log d) iterations where d = component diameter (identifier-sharing
chains are short in practice, 2-3 hops); each iteration is one
shuffle on the same key. Skewed identifiers (one ID shared by
millions of rows) are exactly the AQE skew-join case — enabled in
session.py.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StringType, StructField, StructType

from idhub_spark.functions.expressions import MINT_EPOCH_MS, gsid_expr, null_normalize_expr
from idhub_spark.session import records_frame


def _cc_runtime(df: DataFrame, checkpoint_dir: str | None):
    """Checkpoint strategy for the CC loops and for resolve_identities'
    materialization points.

    Default (checkpoint_dir=None): localCheckpoint — truncates lineage
    into executor-local block storage. Fast, but on a real cluster a
    lost executor loses its blocks AND the lineage to recompute them,
    failing the job mid-iteration.

    Reliable (checkpoint_dir=<HDFS/S3 path>): sparkContext checkpoint
    dir + df.checkpoint — blocks land on fault-tolerant storage, so a
    lost executor degrades to a re-read instead of a job failure. The
    100 TB-grade mode; costs one write+read of the label frame per
    iteration. Edges persist DISK_ONLY in this mode (re-readable from
    local disk; on executor loss the persisted copy is gone but the
    edge lineage below the persist is still alive and recomputes).

    When the caller passes checkpoint_dir=None, the session conf
    `spark.idhub.cc.checkpointDir` (cc_checkpoint_dir) is consulted,
    so one `--conf` at submit time flips EVERY CC consumer —
    dedup_cluster_canonical, leakage_safe_split, identity_components,
    resolve_identities' Spark path — to the reliable mode with no
    per-call threading.

    Returns (ckpt_fn, edge_storage_level).
    """
    from pyspark.storagelevel import StorageLevel

    if checkpoint_dir is None:
        checkpoint_dir = cc_checkpoint_dir(df.sparkSession)
    if checkpoint_dir is None:
        return (lambda d: d.localCheckpoint(eager=True)), StorageLevel.MEMORY_AND_DISK
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return (lambda d: d.checkpoint(eager=True)), StorageLevel.DISK_ONLY


def cc_checkpoint_dir(spark) -> str | None:
    """Deployment knob for every CC consumer: set
    `--conf spark.idhub.cc.checkpointDir=hdfs://.../ckpt` (any
    fault-tolerant path) and dedup_cluster_canonical /
    leakage_safe_split / identity_components / resolve_identities'
    Spark path all switch from localCheckpoint to reliable
    checkpointing (_cc_runtime); the driver path checkpoints nothing.
    Unset -> executor-local, the single-node default."""
    return spark.conf.get("spark.idhub.cc.checkpointDir", None)


class CCNotConverged(RuntimeError):
    """Raised when a CC loop exhausts max_iter with labels still
    moving. Returning the partial labels instead would silently split
    one true component into several — for `leakage_safe_split` that
    means undetected near-dup leakage across train/test, the worst
    silent failure in the engine. Callers that can tolerate partial
    labels must catch this explicitly."""


def unpivot_candidates(df: DataFrame, key_col: str, candidates: dict[str, str]) -> DataFrame:
    """Wide -> long: per row, one output row per non-null candidate ID.

    `candidates` maps column name -> identifier_type. Mirrors the
    reference's subject-ID extraction (data_processor.py:199-211,
    subject_id_resolver.py:59-92): trim, drop ''/NA/null sentinels.

    Implemented as array(struct(...)) + explode so a single projection
    emits the long form — no per-column union, one pass over the fact
    table, fully codegen'd.
    """
    entries = F.array(
        *[
            F.struct(
                null_normalize_expr(F.col(c)).alias("local_subject_id"),
                F.lit(t).alias("identifier_type"),
            )
            for c, t in candidates.items()
        ]
    )
    return (
        df.select(F.col(key_col).alias("record_key"), F.explode(entries).alias("cand"))
        .select("record_key", "cand.local_subject_id", "cand.identifier_type")
        .filter(F.col("local_subject_id").isNotNull())
    )


def match_registry(
    ids_long: DataFrame, registry: DataFrame, aliases: DataFrame | None = None
) -> DataFrame:
    """J1: left join candidates against the registry, case-insensitive
    on the identifier value alone (center-agnostic,
    identity_resolution.py:56-68 — `LOWER(local_subject_id) = LOWER(%s)`).

    registry columns: local_subject_id, global_subject_id, created_at.
    aliases (optional): the `subject_alias` table
    (01-schema.sql:35-39 — alias, global_subject_id, created_at), a
    second identifier path: a candidate matching an alias resolves to
    the alias's GSID exactly as if it had matched local_subject_ids.
    Both paths are one unioned lookup side, so the join stays a single
    equi-join.

    Output: ids_long + matched global_subject_id/created_at (null when
    unmatched). Join key is pre-normalized so both sides hash-partition
    identically; if the registry is dimension-sized Catalyst broadcasts
    it (AQE decides from runtime stats).
    """
    return _normalized(ids_long).join(_lookup(registry, aliases), "_norm_id", "left")


def _normalized(ids_long: DataFrame) -> DataFrame:
    """ids_long + its join key `_norm_id` (Spark's lower())."""
    return ids_long.withColumn("_norm_id", F.lower(F.col("local_subject_id")))


def _lookup(registry: DataFrame, aliases: DataFrame | None) -> DataFrame:
    """match_registry's lookup side: (_norm_id, matched_gsid,
    matched_created_at) over the registry and the aliases."""
    reg = registry.select(
        F.lower(F.col("local_subject_id")).alias("_norm_id"),
        F.col("global_subject_id").alias("matched_gsid"),
        F.col("created_at").alias("matched_created_at"),
    )
    if aliases is not None:
        reg = reg.unionByName(
            aliases.select(
                F.lower(F.col("alias")).alias("_norm_id"),
                F.col("global_subject_id").alias("matched_gsid"),
                F.col("created_at").alias("matched_created_at"),
            )
        )
    return reg


def dispatch_matches(matched: DataFrame) -> DataFrame:
    """J2: per record, collect matched GSIDs and dispatch on cardinality.

    Output per record_key:
      action            create_new | link_existing | conflict_resolved
      global_subject_id chosen GSID (oldest by (created_at, gsid) on
                        conflict — identity_resolution.py:180-183);
                        NULL for create_new (minting is a separate,
                        explicitly-batch-aware step)
      matched_gsids     sorted array of all distinct matches
      requires_review   true when conflict

    min_by(struct(created_at, gsid)) reproduces the reference's oldest-
    first sort; sort_array makes the collected set deterministic under
    partitioning.
    """
    return matched.groupBy("record_key").agg(
        F.sort_array(F.collect_set("matched_gsid")).alias("matched_gsids"),
        # guard: only matched rows feed the min-struct — an unmatched
        # candidate's (null, null) struct would sort first and poison
        # the oldest-GSID pick. The leading null-flag field pins a NULL
        # matched_created_at to sort LAST (engines disagree on bare
        # NULL-in-struct order: Spark sorts it first, DuckDB last), so
        # a registry row without a created_at only wins when no dated
        # match exists — then by lexical gsid.
        F.min(
            F.when(
                F.col("matched_gsid").isNotNull(),
                F.struct(
                    F.col("matched_created_at").isNull().alias("nf"),
                    F.col("matched_created_at"),
                    F.col("matched_gsid"),
                ),
            )
        ).alias("_oldest"),
    ).select(
        "record_key",
        "matched_gsids",
        F.when(F.size("matched_gsids") == 0, F.lit("create_new"))
        .when(F.size("matched_gsids") == 1, F.lit("link_existing"))
        .otherwise(F.lit("conflict_resolved"))
        .alias("action"),
        F.when(F.size("matched_gsids") > 0, F.col("_oldest.matched_gsid")).alias(
            "global_subject_id"
        ),
        (F.size("matched_gsids") > 1).alias("requires_review"),
        # (created_at, gsid) of this record's oldest match — kept so
        # component-level adoption can apply the same tie-break
        # (identity_resolution.py:180-183) instead of lexical GSID order
        "_oldest",
    )


def connected_components(
    edges: DataFrame,
    src: str = "record_key",
    dst: str = "_norm_id",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a bipartite record<->identifier graph
    by alternating minimum-label propagation with pointer-doubling.

    Returns (record_key, component) where component is the minimum
    record_key in the component. Converges when no label changes; each
    iteration is two shuffles (groupBy identifier, groupBy record) on
    keys that stay stable across iterations, so at cluster scale the
    exchange reuses the same partitioning. Star-shaped identity graphs
    (the common shape) converge in 1-2 iterations off the folded init
    alone. From the second loop iteration a pointer-doubling shortcut
    (comp := labels[comp]) joins in, so a path-shaped component of
    diameter d converges in O(log d) iterations instead of O(d) —
    a diameter-45 adversarial chain fits comfortably inside the
    default max_iter=20 budget. If the budget still exhausts with
    labels moving, CCNotConverged is raised rather than returning
    silently-split components.

    checkpoint_dir: None -> localCheckpoint (fast, executor-local);
    a fault-tolerant path (HDFS/S3) -> reliable df.checkpoint, the
    cluster-grade mode where executor loss degrades to recompute
    instead of job failure. See _cc_runtime.

    This is the standard alternating min-label propagation with
    pointer jumping (cf. Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm).
    """
    ckpt, elevel = _cc_runtime(edges, checkpoint_dir)
    # Materialize the edge set ONCE: every iteration joins e twice, so
    # without this the edge-producing subtree (which can itself be a
    # whole LSH pipeline, e.g. dedup_cluster_canonical's minhash
    # pairs) re-executes 2x per iteration — measured 30s -> 3s at
    # sf0.1 on the near-dup cluster query.
    e = (
        edges.select(F.col(src).alias("r"), F.col(dst).alias("i"))
        .distinct()
        .persist(elevel)
    )
    # First iteration folded into init: with identity labels
    # (comp=r), the identifier hop needs no join at all — id adopts
    # min incident record, record adopts min over its identifiers —
    # so labels_1 materializes in ONE checkpoint job and the loop
    # below starts with real propagation already done (star graphs,
    # the common identity shape, then need only the confirmation
    # pass). Same fold as connected_components_pairs' two-hop init.
    id0 = e.groupBy("i").agg(F.min("r").alias("icomp"))
    labels = ckpt(
        e.join(id0, "i")
        .groupBy("r")
        .agg(F.min("icomp").alias("comp"))
    )
    converged = False
    try:
        for it in range(max_iter):
            # identifier adopts min component of incident records
            id_label = (
                e.join(labels, "r")
                .groupBy("i")
                .agg(F.min("comp").alias("icomp"))
            )
            # record adopts min over its identifiers, with the PREVIOUS
            # label folded into the same job (join on r against the
            # checkpointed labels — both sides are already
            # hash-partitioned on r from their groupBys, so no new
            # exchange). Checkpointing the combined frame means the
            # convergence probe below is a pure filter+limit(1) scan of
            # materialized partitions: the separate per-iteration
            # join+count probe job this replaces cost one scheduler
            # round-trip per iteration for every CC consumer (r7
            # VERDICT ask #1).
            prop = (
                e.join(id_label, "i")
                .groupBy("r")
                .agg(F.min("icomp").alias("comp"))
            )
            if it >= 1:
                # pointer-doubling shortcut: comp := labels[comp].
                # Labels are record ids with labels[x] <= x (monotone
                # min propagation), so chasing one link at least
                # doubles the distance the min label has travelled —
                # O(log d) convergence on path-shaped components. Only
                # from iteration 2: star/near-dup graphs (diameter<=4)
                # exit in iteration 1 off the two-hop init and never
                # pay this extra join. The join key is the comp value
                # (skewed toward big components) — exactly the AQE
                # skew-join case, enabled in session.py.
                prop = prop.join(
                    labels.select(
                        F.col("r").alias("_c"), F.col("comp").alias("_ccomp")
                    ),
                    prop["comp"] == F.col("_c"),
                    "left",
                ).select(
                    "r",
                    F.least(
                        F.col("comp"), F.coalesce("_ccomp", "comp")
                    ).alias("comp"),
                )
            new_labels = ckpt(
                prop.join(labels.select("r", F.col("comp").alias("_prev")), "r")
            )
            # min-label propagation is monotone (comp only decreases),
            # so convergence == no row with comp != _prev
            changed = new_labels.filter(F.col("comp") != F.col("_prev")).limit(1).count()
            labels = new_labels.select("r", "comp")
            if changed == 0:
                converged = True
                break
    finally:
        # release the cached edge set even when an iteration throws
        # (executor loss, caller-subtree analysis error, cancellation)
        e.unpersist()
    if not converged:
        raise CCNotConverged(
            f"connected_components: labels still moving after {max_iter} "
            "iterations — component diameter exceeds the propagation "
            "budget; raise max_iter (partial labels would silently split "
            "true components)"
        )
    return labels.select(F.col("r").alias("record_key"), F.col("comp").alias("component"))


def connected_components_pairs(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected PAIR edge list (u, v) —
    the near-dup-cluster shape, where every edge already links two
    records directly.

    The bipartite loop (connected_components) models record<->
    identifier graphs; routing pair edges through it costs a synthetic
    identifier node per pair and two joins + two aggregations per
    iteration. Direct symmetric min-label propagation reaches the same
    fixpoint (min node id per component) with ONE join + ONE
    aggregation per iteration. Three measured shaves on top (4.6s ->
    3.2s min at sf0.1 for dedup_cluster_canonical):

    - the symmetric+self-looped edge set is built by exploding FOUR
      struct rows per pair from a SINGLE scan — a 4-branch union
      re-executes the pair-producer's post-exchange stage tail once
      per branch (ReusedExchange dedupes exchanges, not stage tails),
      which for an LSH pair pipeline re-ran the verify joins 4x;
    - the init computes TWO propagation hops lazily in one checkpoint
      job (hop-1 as an unmaterialized subaggregation) — deg-LINEAR,
      unlike the classic e JOIN e two-hop contraction whose path count
      is sum(deg^2) and explodes on hot nodes; near-dup clusters have
      diameter <= 2, so the loop usually runs exactly one
      confirmation iteration;
    - the previous label is folded into each iteration's checkpoint
      job, so the convergence probe is a filter+limit(1) scan of
      materialized partitions, not a separate join+count job.

    Self-loops keep each node's own label in the min (without them the
    minimum node of a component would abandon its own label);
    duplicate edges are harmless (min is idempotent) and the distinct
    is kept because its AQE-coalesced exchange collapses the persisted
    edge partitions the loop re-scans every iteration.

    From the second loop iteration a pointer-doubling shortcut
    (comp := labels[comp]) gives O(log d) convergence on path-shaped
    components (see connected_components); near-dup clusters
    (diameter <= 2) exit in the first confirmation iteration and never
    pay the extra join. Exhausting max_iter with labels still moving
    raises CCNotConverged instead of returning silently-split
    components. checkpoint_dir selects localCheckpoint (None) vs
    reliable df.checkpoint on fault-tolerant storage (_cc_runtime).

    Returns (record_key, component), drop-in for connected_components.
    """
    ckpt, elevel = _cc_runtime(pairs, checkpoint_dir)
    u, v = F.col(src), F.col(dst)
    e = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(u.alias("u"), v.alias("v")),
                    F.struct(v.alias("u"), u.alias("v")),
                    F.struct(u.alias("u"), u.alias("v")),
                    F.struct(v.alias("u"), v.alias("v")),
                )
            ).alias("x")
        )
        .select("x.u", "x.v")
        .distinct()
        .persist(elevel)
    )
    hop1 = e.groupBy("u").agg(F.min("v").alias("c1"))
    labels = ckpt(
        e.join(hop1.select(F.col("u").alias("v"), "c1"), "v")
        .groupBy("u")
        .agg(F.min("c1").alias("comp"))
    )
    converged = False
    try:
        for it in range(max_iter):
            prop = (
                e.join(
                    labels.select(F.col("u").alias("v"), F.col("comp").alias("vcomp")),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("vcomp").alias("comp"))
            )
            if it >= 1:
                # pointer-doubling from iteration 2 — see
                # connected_components for the rationale and skew note
                prop = prop.join(
                    labels.select(
                        F.col("u").alias("_c"), F.col("comp").alias("_ccomp")
                    ),
                    prop["comp"] == F.col("_c"),
                    "left",
                ).select(
                    "u",
                    F.least(
                        F.col("comp"), F.coalesce("_ccomp", "comp")
                    ).alias("comp"),
                )
            new_labels = ckpt(
                prop.join(labels.select("u", F.col("comp").alias("_prev")), "u")
            )
            # min-label propagation is monotone (labels only decrease),
            # so convergence == no row with comp != _prev
            changed = new_labels.filter(F.col("comp") != F.col("_prev")).limit(1).count()
            labels = new_labels.select("u", "comp")
            if changed == 0:
                converged = True
                break
    finally:
        e.unpersist()
    if not converged:
        raise CCNotConverged(
            f"connected_components_pairs: labels still moving after {max_iter} "
            "iterations — component diameter exceeds the propagation budget; "
            "raise max_iter (partial labels would silently split true "
            "components — for leakage_safe_split that is train/test leakage)"
        )
    return labels.select(F.col("u").alias("record_key"), F.col("comp").alias("component"))


# The largest batch resolve_identities resolves on the driver, counted
# in candidate rows (ids_long rows: one per record and identifier).
# Larger batches take the Spark path. It is the largest size at which
# the driver path measured faster in two local[4] sessions; the paths
# crossed between 50k and 75k rows (docs/operations.md, "Identity
# resolution: two paths").
_LOCAL_MAX_ROWS = 50_000


def _components(ids_of: dict) -> dict:
    """Union-find twin of the Spark path's connected components: record
    key -> the smallest record key of its component, where only an
    identifier held by two or more records links them."""
    holders: dict = {}
    for k, ids in ids_of.items():
        for i in ids:
            holders.setdefault(i, []).append(k)
    parent = {k: k for k in ids_of}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    for recs in holders.values():
        for k in recs[1:]:
            a, b = find(recs[0]), find(k)
            if a != b:
                # the smaller root wins, so every root is its set's minimum
                parent[max(a, b)] = min(a, b)
    return {k: find(k) for k in ids_of}


_PLAIN = re.compile(r"[\w .:@#/+-]*")


def _in_list(column: str, values) -> Column:
    """`column IN (values)` for a set of strings, as one SQL expression:
    Column.isin ships each value through its own Py4J call (~0.5 ms
    apiece), one parsed string ships them all at once. A value with any
    character outside letters, digits and ` _.:@#/+-` is written as a
    binary literal, so neither the parser's escaping mode nor its
    ${var} substitution can change it."""

    def lit(v: str) -> str:
        if _PLAIN.fullmatch(v):
            return f"'{v}'"
        return f"CAST(X'{v.encode().hex()}' AS STRING)"

    return F.expr(f"`{column}` IN ({', '.join(lit(v) for v in sorted(values))})")


def _mint_local(spark, registry: DataFrame, seed: dict, mint_ts_ms) -> dict:
    """The Spark path's mint chain over driver-side seeds (component ->
    seed): first choice, the within-batch duplicate rank ('#<rank>'),
    the registry retry ('!') and the double-collision flag. Returns
    component -> (GSID, collision).

    Every GSID comes from gsid_expr over a local relation, a projection
    the optimizer folds without a Spark job; later evaluations reuse the
    first one's mint time, so a per-query time (current_timestamp())
    stays one value per batch. The registry check of both retry rounds
    is one job."""
    minted: dict = {}
    ts = F.lit(MINT_EPOCH_MS) if mint_ts_ms is None else mint_ts_ms

    def mint(seeds) -> None:
        nonlocal ts
        todo = sorted(set(seeds) - minted.keys())
        if todo:
            rows = (
                records_frame(spark, [{"_s": x} for x in todo], "_s string")
                .withColumn("_ts", ts.cast("bigint"))
                .select("_s", "_ts", gsid_expr(F.col("_s"), ts_ms=F.col("_ts")))
                .collect()
            )
            minted.update((r[0], r[2]) for r in rows)
            ts = F.lit(rows[0][1])

    retry = {c: "!" + x for c, x in seed.items()}
    mint([*seed.values(), *retry.values()])
    # within-batch duplicates keep the first choice for the smallest
    # component and re-mint the rest with their rank (the Spark path's
    # row_number over _minted ordered by component)
    dupes: dict = {}
    for c in sorted(seed):
        dupes.setdefault(minted[seed[c]], []).append(c)
    first = {
        c: seed[c] if r == 1 else f"{seed[c]}#{r}"
        for cs in dupes.values()
        for r, c in enumerate(cs, 1)
    }
    mint(first.values())
    cands = {minted[x] for x in first.values()} | {minted[x] for x in retry.values()}
    hits = set(
        registry.select("global_subject_id")
        .filter(_in_list("global_subject_id", cands))
        .toArrow()
        .column(0)
        .to_pylist()
    )
    out = {}
    for c in seed:
        g = minted[first[c]]
        if g in hits:
            g = minted[retry[c]]
        out[c] = (g, g in hits)
    return out


def _resolve_local(
    ids_long: DataFrame,
    registry: DataFrame,
    aliases: DataFrame | None,
    within_batch_cc: bool,
    mint_ts_ms,
    batch_salt: str,
) -> DataFrame | None:
    """resolve_identities on the driver: the same rows as the Spark
    path, or None when the batch has more than _LOCAL_MAX_ROWS
    candidate rows or a null record key.

    One job collects the candidates with their normalized ids
    (_normalized: Spark's lower()), one collects their registry and
    alias hits (_lookup filtered to those ids; a scan, whatever the
    registry's size), both as Arrow. J2 dispatch, the shared-identifier
    components, component adoption and the mint seeds run in Python;
    _mint_local mints. The result is a local relation with the Spark
    path's schema, so every action on it reads the same rows."""
    spark = ids_long.sparkSession
    cand = (
        _normalized(ids_long)
        .select("record_key", "_norm_id")
        .limit(_LOCAL_MAX_ROWS + 1)
        .toArrow()
    )
    if cand.num_rows > _LOCAL_MAX_ROWS:
        return None
    keys, norm_ids = cand.column(0).to_pylist(), cand.column(1).to_pylist()
    if None in keys:
        return None
    wanted = set(norm_ids) - {None}
    lookup: dict = {}  # normalized id -> its hits as (no created_at, created_at, gsid)
    if wanted:
        hits = (
            _lookup(registry, aliases)
            .filter(_in_list("_norm_id", wanted))
            .filter(F.col("matched_gsid").isNotNull())
            .toArrow()
        )
        for i, g, t in zip(*(hits.column(n).to_pylist() for n in range(3))):
            # the tuple order is dispatch_matches' oldest-first key:
            # (created_at NULLS LAST, gsid)
            lookup.setdefault(i, set()).add((t is None, t, g))
    ids_of: dict = {}  # record key -> its normalized identifiers
    hits_of: dict = {}  # record key -> its hits
    for k, i in zip(keys, norm_ids):
        ids_of.setdefault(k, set())
        hits_of.setdefault(k, set())
        if i is not None:
            ids_of[k].add(i)
            hits_of[k] |= lookup.get(i, set())

    oldest = {k: min(h) for k, h in hits_of.items() if h}
    comp = _components(ids_of) if within_batch_cc else {k: k for k in ids_of}
    # component -> [its oldest match, the distinct GSIDs its records chose]
    best: dict = {}
    if within_batch_cc:
        for k, o in oldest.items():
            b = best.setdefault(comp[k], [o, set()])
            b[0] = min(b[0], o)
            b[1].add(o[2])

    rows = []
    for k, hits in hits_of.items():
        matched = sorted({g for _, _, g in hits})
        gsid = oldest[k][2] if k in oldest else None
        n = len(matched)
        action = "create_new" if n == 0 else "link_existing" if n == 1 else "conflict_resolved"
        review = n > 1
        if comp[k] in best:
            (_, _, comp_gsid), chosen = best[comp[k]]
            if gsid is None:
                action = "link_existing"
            elif gsid != comp_gsid:
                action = "conflict_resolved"
            gsid = comp_gsid
            review = review or len(chosen) > 1
        rows.append(
            {
                "record_key": k,
                "matched_gsids": matched,
                "action": action,
                "global_subject_id": gsid,
                "requires_review": review,
                "component": comp[k],
            }
        )

    unresolved = {r["component"] for r in rows if r["global_subject_id"] is None}
    if unresolved:
        members: dict = {}
        for k, c in comp.items():
            if c in unresolved:
                members.setdefault(c, set()).update(ids_of[k])
        salt = [] if batch_salt is None else [batch_salt]
        seed = {c: "\x1f".join([*salt, "|".join(sorted(ids))]) for c, ids in members.items()}
        mints = _mint_local(spark, registry, seed, mint_ts_ms)
        for r in rows:
            if r["global_subject_id"] is None:
                r["global_subject_id"], collision = mints[r["component"]]
                r["requires_review"] = r["requires_review"] or collision

    key = ids_long.schema["record_key"]
    schema = StructType(
        [
            StructField("record_key", key.dataType, key.nullable),
            StructField("matched_gsids", ArrayType(StringType(), False), False),
            StructField("action", StringType(), False),
            StructField("global_subject_id", StringType(), True),
            StructField("requires_review", BooleanType(), False),
            StructField("component", key.dataType, key.nullable),
        ]
    )
    return records_frame(spark, rows, schema)


def resolve_identities(
    ids_long: DataFrame,
    registry: DataFrame,
    *,
    within_batch_cc: bool = True,
    mint_ts_ms=None,
    batch_salt: str = "",
    aliases: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full batch identity resolution: J1 + within-batch CC + J2 + mint.

    ids_long: (record_key, local_subject_id, identifier_type)
    registry: (local_subject_id, global_subject_id, created_at)

    Returns one row per record_key:
      (record_key, action, global_subject_id, matched_gsids,
       requires_review, component)

    Two paths, the same rows and schema (tests/test_properties.py
    compares them). A batch of at most _LOCAL_MAX_ROWS candidate rows
    resolves on the driver (_resolve_local): at most three Spark jobs,
    and the result is a local relation. A larger batch, or one with a
    null record key, takes the Spark path (_resolve_spark), which runs
    its jobs eagerly and returns a lineage-truncated frame
    (checkpointed through _cc_runtime, like the CC loop:
    localCheckpoint by default, reliable checkpoint under
    spark.idhub.cc.checkpointDir, which governs this path only). Either way the returned frame is MATERIALIZED: every
    action on it reads the same rows without re-running the
    resolution, so a pipeline's report, conflict check and sinks agree
    on every minted GSID, and their plans stay small.

    create_new components mint ONE deterministic GSID per component,
    so two records sharing an unseen identifier inside the batch agree
    on the minted GSID — matching the reference's sequential semantics
    without its sequential execution.

    Mint uniqueness (gsid_generator.py:generate_unique_gsids checks the
    registry and retries; the distributed equivalent here):
      1. the seed is CONTENT-derived — batch_salt + the component's
         sorted normalized identifier set — never the record key, which
         is arbitrary per batch (two batches both starting at key 0
         must not mint the same GSID for different subjects);
      2. within-batch hash collisions re-mint with the duplicate rank
         as extra salt (one window over the minted rows only);
      3. minted GSIDs are checked against the registry (semi-join on
         the registry side so only actual hits are deduplicated) and
         colliding components re-mint with a retry salt; a second
         check flags the ~2^-55-probability double collision as
         requires_review instead of looping forever on the cluster
         (the driver path checks both rounds' candidates in one job).
    Pass batch_salt=<batch id> at the pipeline layer; pass mint_ts_ms
    (e.g. unix_millis(current_timestamp())) in production jobs so the
    GSID timestamp prefix is the true mint time.
    """
    local = _resolve_local(
        ids_long, registry, aliases, within_batch_cc, mint_ts_ms, batch_salt
    )
    if local is not None:
        return local
    return _resolve_spark(
        ids_long, registry, aliases, within_batch_cc, mint_ts_ms, batch_salt, checkpoint_dir
    )


def _resolve_spark(
    ids_long: DataFrame,
    registry: DataFrame,
    aliases: DataFrame | None,
    within_batch_cc: bool,
    mint_ts_ms,
    batch_salt: str,
    checkpoint_dir: str | None,
) -> DataFrame:
    """resolve_identities as Spark jobs, for a batch of any size: the
    bulk path, and the oracle the driver path is tested against."""
    ckpt, _ = _cc_runtime(ids_long, checkpoint_dir)
    # materialized once: read by dispatch, the CC edges and the mint seeds
    matched = ckpt(match_registry(ids_long, registry, aliases))
    dispatched = dispatch_matches(matched)

    if within_batch_cc:
        # Only identifiers held by >=2 records can bridge components,
        # so the CC loop runs over the shared-id subgraph only — in
        # typical batches that's a small fraction of records, making
        # CC cost proportional to actual linkage, not batch size
        # (measured 15s -> 4s on a 150k-row 1:1 batch). Records outside
        # the subgraph keep themselves as their component.
        edges = matched.select("record_key", "_norm_id")
        shared_ids = (
            edges.groupBy("_norm_id")
            .agg(F.countDistinct("record_key").alias("_n"))
            .filter(F.col("_n") > 1)
            .select("_norm_id")
        )
        shared_edges = edges.join(shared_ids, "_norm_id", "semi")
        comps = connected_components(shared_edges, checkpoint_dir=checkpoint_dir)
        dispatched = dispatched.join(comps, "record_key", "left").withColumn(
            "component", F.coalesce("component", F.col("record_key"))
        )
        # a component's records must agree: EVERY record adopts the
        # OLDEST matched GSID anywhere in the component, oldest by
        # (created_at, gsid) exactly like the reference's per-record
        # tie-break (identity_resolution.py:180-183) — lexical GSID
        # order is NOT creation order (the GSID timestamp prefix wraps
        # every ~9.3h). When a component's records matched DIFFERENT
        # registry GSIDs, the losers' records become conflict_resolved
        # and the whole component is flagged requires_review — the
        # order-independent image of the reference's sequential flow,
        # where the later record would see both GSIDs via link-back and
        # resolve oldest-wins with review (identity_resolution.py:
        # 163-211). Without this, a bridged component would keep
        # contradictory GSIDs unflagged and link_back would stage
        # conflicting registry rows for the bridging identifier.
        comp_choice = (
            dispatched.filter(F.col("global_subject_id").isNotNull())
            .groupBy("component")
            .agg(
                F.min("_oldest").alias("_comp_oldest"),
                F.countDistinct("global_subject_id").alias("_n_comp_gsids"),
            )
            .select(
                "component",
                F.col("_comp_oldest.matched_gsid").alias("_comp_gsid"),
                "_n_comp_gsids",
            )
        )
        multi = F.coalesce(F.col("_n_comp_gsids"), F.lit(0)) > 1
        dispatched = dispatched.join(comp_choice, "component", "left").select(
            "record_key",
            "matched_gsids",
            F.when(
                (F.col("action") == "create_new") & F.col("_comp_gsid").isNotNull(),
                F.lit("link_existing"),
            )
            .when(
                F.col("global_subject_id").isNotNull()
                & (F.col("global_subject_id") != F.col("_comp_gsid")),
                F.lit("conflict_resolved"),
            )
            .otherwise(F.col("action"))
            .alias("action"),
            F.coalesce("_comp_gsid", "global_subject_id").alias("global_subject_id"),
            (F.col("requires_review") | multi).alias("requires_review"),
            "component",
        )
        # the mint chain below reads dispatched three times
        dispatched = ckpt(dispatched)
    else:
        dispatched = dispatched.withColumn("component", F.col("record_key")).drop(
            "_oldest"
        )

    # --- mint one GSID per still-unresolved component ----------------
    from pyspark.sql.window import Window

    unresolved_comps = (
        dispatched.filter(F.col("global_subject_id").isNull())
        .select("component")
        .distinct()
    )
    # content-derived seed: the component's sorted identifier set.
    # Bounded by component size; the groupBy shuffles only the
    # unresolved slice of the batch.
    seeds = (
        matched.select("record_key", "_norm_id")
        .join(dispatched.select("record_key", "component"), "record_key")
        .join(unresolved_comps, "component", "semi")
        .groupBy("component")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_set("_norm_id"))).alias("_ids")
        )
        .select(
            "component",
            F.concat_ws("\x1f", F.lit(batch_salt), F.col("_ids")).alias("_mint_seed"),
        )
    )
    cand = seeds.withColumn("_minted", gsid_expr(F.col("_mint_seed"), ts_ms=mint_ts_ms))
    # within-batch hash-collision guard: duplicate minted values get
    # their duplicate rank appended to the seed and re-mint
    w = Window.partitionBy("_minted").orderBy("component")
    rn = F.row_number().over(w)
    cand = cand.withColumn(
        "_minted",
        F.when(rn == 1, F.col("_minted")).otherwise(
            gsid_expr(
                F.concat_ws("#", F.col("_mint_seed"), rn.cast("string")),
                ts_ms=mint_ts_ms,
            )
        ),
    )
    # registry guard: find actual collisions (semi-join keeps the
    # dedup cost proportional to hits, which are ~0), re-mint them
    # with a retry salt, then flag any double collision for review.
    reg_g = registry.select(F.col("global_subject_id").alias("_minted"))

    def _hits(c: DataFrame) -> DataFrame:
        return (
            reg_g.join(c.select("_minted"), "_minted", "semi")
            .distinct()
            .withColumn("_hit", F.lit(True))
        )

    cand = (
        cand.join(_hits(cand), "_minted", "left")
        .withColumn(
            "_minted",
            F.when(
                F.col("_hit").isNotNull(),
                gsid_expr(F.concat(F.lit("!"), F.col("_mint_seed")), ts_ms=mint_ts_ms),
            ).otherwise(F.col("_minted")),
        )
        .drop("_hit")
    )
    cand = (
        cand.join(_hits(cand), "_minted", "left")
        .select(
            "component",
            F.col("_minted"),
            F.col("_hit").isNotNull().alias("_mint_collision"),
        )
    )
    return ckpt(
        dispatched.join(cand, "component", "left")
        .select(
            "record_key",
            "matched_gsids",
            "action",
            F.coalesce("global_subject_id", "_minted").alias("global_subject_id"),
            (
                F.col("requires_review") | F.coalesce("_mint_collision", F.lit(False))
            ).alias("requires_review"),
            "component",
        )
    )


def link_back(resolved: DataFrame, ids_long: DataFrame) -> DataFrame:
    """J3: the (local_subject_id, identifier_type) -> chosen GSID rows
    to MERGE into the registry (identity_resolution.py:213-268).
    Case-preserving storage of the original id, case-insensitive merge
    key is applied by the caller's merge (SURVEY.md §7.3 risk (b))."""
    return ids_long.join(
        resolved.select("record_key", "global_subject_id"), "record_key"
    ).select("local_subject_id", "identifier_type", "global_subject_id").distinct()


def resolution_log(
    resolved: DataFrame,
    *,
    batch_id: str = "?",
    input_centers: DataFrame | None = None,
) -> DataFrame:
    """Decision log rows shaped like `identity_resolutions`
    (01-schema.sql:58-113): every resolution records its action,
    match strategy, confidence, chosen GSID, and the full candidate
    set (JSONB array in the reference; a JSON string here).
    `input_centers` ((record_key, input_center_id), optional) attaches
    the resolving request's center — the column the per-center
    summary view groups on (01-schema.sql:689-701); absent, it logs
    NULL.

    Strategy/confidence mapping mirrors the reference's semantics
    (identity_resolution.py:107-211): an unambiguous match is
    exact_match @1.0, a mint is create_new @1.0 (no competing
    evidence), a multi-match resolution is oldest_wins @0.5 and
    flagged for review.
    """
    if input_centers is not None:
        resolved = resolved.join(
            F.broadcast(
                input_centers.select("record_key", "input_center_id").distinct()
            ),
            "record_key",
            "left",
        )
    elif "input_center_id" not in resolved.columns:
        resolved = resolved.withColumn("input_center_id", F.lit(None).cast("int"))
    return resolved.select(
        F.col("record_key").cast("string").alias("record_key"),
        "action",
        F.when(F.col("action") == "link_existing", F.lit("exact_match"))
        .when(F.col("action") == "create_new", F.lit("create_new"))
        .otherwise(F.lit("oldest_wins"))
        .alias("match_strategy"),
        F.when(F.col("action") == "conflict_resolved", F.lit(0.5))
        .otherwise(F.lit(1.0))
        .alias("confidence"),
        "global_subject_id",
        F.to_json(F.col("matched_gsids")).alias("matched_gsids"),
        "requires_review",
        F.col("input_center_id").cast("int").alias("input_center_id"),
        F.lit(batch_id).alias("batch_id"),
        F.current_timestamp().alias("created_at"),
    )
