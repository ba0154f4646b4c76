"""Unit tests for the core dataflow operators, mirroring the
reference's scenario matrix (SURVEY.md §5): GSID format, identity
resolution create/link/conflict paths, within-batch agreement,
change classification, merge modes + idempotence, fuzzy matching,
conflict detection."""

from __future__ import annotations

import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from idhub_spark.functions.expressions import (
    GSID_REGEX,
    boolean_expr,
    extract_year_expr,
    gsid_expr,
    id_validation_expr,
    normalize_name_expr,
    null_normalize_expr,
    registration_year_expr,
)
from idhub_spark.operators.centers import fuzzy_match_names, levenshtein_ratio
from idhub_spark.operators.changes import classify_changes
from idhub_spark.operators.conflicts import apply_resolutions, detect_conflicts, find_duplicates
from idhub_spark.operators import identity
from idhub_spark.operators.identity import (
    link_back,
    resolve_identities,
    unpivot_candidates,
)
from idhub_spark.operators.merge import merge_upsert


# --- expressions -----------------------------------------------------------


def test_gsid_format(spark):
    """Format contract from gsid-service/tests/test_gsid_format.py:
    21 chars, GSID- prefix, Crockford alphabet w/o I,L,O,U, unique."""
    df = spark.range(1000).select(gsid_expr(F.col("id")).alias("gsid"))
    rows = [r.gsid for r in df.collect()]
    pat = re.compile(GSID_REGEX)
    assert all(pat.match(g) for g in rows)
    assert all(len(g) == 21 for g in rows)
    assert len(set(rows)) == 1000  # collision check @1000
    # determinism: same seed -> same gsid
    again = [r.gsid for r in spark.range(1000).select(gsid_expr(F.col("id")).alias("gsid")).collect()]
    assert rows == again


def test_scalar_expressions(spark):
    df = spark.createDataFrame(
        [("  NA ", "2021-05-04", "Yes", "Mount_Sinai  ", "03/15/1999", "1987")],
        ["n", "d", "b", "name", "us_date", "bare_year"],
    )
    row = df.select(
        null_normalize_expr(F.col("n")).alias("n"),
        extract_year_expr(F.col("d")).alias("y"),
        boolean_expr(F.col("b")).alias("b"),
        normalize_name_expr(F.col("name")).alias("nm"),
        registration_year_expr(F.col("us_date")).alias("usd"),
        registration_year_expr(F.col("bare_year")).alias("by"),
    ).collect()[0]
    assert row.n is None
    assert row.y == 2021
    assert row.b is True
    assert row.nm == "mount sinai"
    assert str(row.usd) == "1999-01-01"
    assert str(row.by) == "1987-01-01"


def test_registration_year_range_validation(spark):
    df = spark.createDataFrame([("1850-01-01",), ("2150-01-01",), ("1999-06-07",)], ["d"])
    vals = [r.v for r in df.select(registration_year_expr(F.col("d")).alias("v")).collect()]
    assert vals[0] is None and vals[1] is None and str(vals[2]) == "1999-01-01"


def test_id_validation(spark):
    df = spark.createDataFrame(
        [("TEST123",), ("ok_id-77",), ("ab",), ("12345",), ("has space",),
         ("Example9",), ("99999",), ("",), (None,)], ["i"]
    )
    rows = df.select(id_validation_expr(F.col("i")).alias("v")).collect()
    assert rows[0].v.valid is False and rows[0].v.severity == "error"
    assert rows[1].v.valid and rows[1].v.severity == "info"
    assert "too_short" in rows[2].v.warnings and "short_alpha" in rows[2].v.warnings
    assert "purely_numeric" in rows[3].v.warnings
    assert "contains_whitespace" in rows[4].v.warnings
    # reference error patterns ^example and ^9+$ (id_validator.py:13-20)
    assert rows[5].v.valid is False and rows[6].v.valid is False
    # empty/NULL ids are invalid errors, never silently valid
    assert rows[7].v.valid is False and rows[7].v.severity == "error"
    assert rows[8].v.valid is False and rows[8].v.warnings == ["empty"]


# --- identity resolution ---------------------------------------------------


def _registry(spark):
    return spark.createDataFrame(
        [
            ("IBDGC-001", "GSID-OLD1", "2020-01-01"),
            ("ibdgc-002", "GSID-OLD2", "2021-01-01"),
            ("IBDGC-003", "GSID-OLD2", "2021-01-01"),  # second alias of OLD2
            ("SHARED-X", "GSID-OLD3", "2022-01-01"),
        ],
        ["local_subject_id", "global_subject_id", "created_at"],
    )


def test_unpivot_candidates(spark):
    df = spark.createDataFrame(
        [Row(rk=1, a="X1", b=None), Row(rk=2, a=" NA ", b="Y2")]
    )
    out = unpivot_candidates(df, "rk", {"a": "typeA", "b": "typeB"}).collect()
    got = {(r.record_key, r.local_subject_id, r.identifier_type) for r in out}
    assert got == {(1, "X1", "typeA"), (2, "Y2", "typeB")}


def test_resolution_create_link_conflict(spark):
    """The three dispatch paths of identity_resolution.py:107-211."""
    ids = spark.createDataFrame(
        [
            (1, "IBDGC-001", "consortium"),  # 1 match -> link
            (2, "UNSEEN-9", "consortium"),  # 0 matches -> create
            (3, "ibdgc-001", "consortium"),  # case-insensitive link
            (3, "SHARED-X", "site"),  # ...but also matches OLD3 -> conflict
        ],
        ["record_key", "local_subject_id", "identifier_type"],
    )
    out = {r.record_key: r for r in resolve_identities(ids, _registry(spark)).collect()}
    assert out[1].action == "link_existing" and out[1].global_subject_id == "GSID-OLD1"
    assert out[2].action == "create_new"
    assert re.match(GSID_REGEX, out[2].global_subject_id)
    assert out[3].action == "conflict_resolved" and out[3].requires_review
    # oldest by (created_at, gsid): OLD1 (2020) < OLD3 (2022)
    assert out[3].global_subject_id == "GSID-OLD1"
    assert out[3].matched_gsids == ["GSID-OLD1", "GSID-OLD3"]


def test_within_batch_component_minting(spark):
    """Two unseen records sharing an identifier must mint ONE GSID
    (the sequential-semantics parity fix, SURVEY.md §4.1)."""
    ids = spark.createDataFrame(
        [
            (10, "NEW-A", "t"),
            (10, "BRIDGE", "t"),
            (11, "BRIDGE", "t"),
            (11, "NEW-B", "t"),
            (12, "LONER", "t"),
        ],
        ["record_key", "local_subject_id", "identifier_type"],
    )
    out = {r.record_key: r for r in resolve_identities(ids, _registry(spark)).collect()}
    assert out[10].global_subject_id == out[11].global_subject_id
    assert out[12].global_subject_id != out[10].global_subject_id
    assert all(re.match(GSID_REGEX, out[k].global_subject_id) for k in (10, 11, 12))


def test_batch_link_through_shared_id(spark):
    """A record with no registry match that shares an identifier with
    a matched record adopts that record's GSID (sequential parity)."""
    ids = spark.createDataFrame(
        [
            (20, "IBDGC-001", "t"),
            (20, "FRESH-1", "t"),
            (21, "FRESH-1", "t"),  # links to OLD1 via component
        ],
        ["record_key", "local_subject_id", "identifier_type"],
    )
    out = {r.record_key: r for r in resolve_identities(ids, _registry(spark)).collect()}
    assert out[20].global_subject_id == "GSID-OLD1"
    assert out[21].global_subject_id == "GSID-OLD1"
    assert out[21].action == "link_existing"


def test_link_back(spark):
    ids = spark.createDataFrame(
        [(1, "IBDGC-001", "consortium"), (1, "ALT-1", "site")],
        ["record_key", "local_subject_id", "identifier_type"],
    )
    resolved = resolve_identities(ids, _registry(spark))
    lb = link_back(resolved, ids).collect()
    assert {(r.local_subject_id, r.global_subject_id) for r in lb} == {
        ("IBDGC-001", "GSID-OLD1"),
        ("ALT-1", "GSID-OLD1"),
    }


def test_resolution_partition_invariance(spark):
    """Same input in 1 vs 16 partitions -> identical assignment."""
    data = [(i, f"ID-{i % 7}", "t") for i in range(40)]
    cols = ["record_key", "local_subject_id", "identifier_type"]
    a = resolve_identities(
        spark.createDataFrame(data, cols).repartition(1), _registry(spark)
    ).collect()
    b = resolve_identities(
        spark.createDataFrame(data, cols).repartition(16), _registry(spark)
    ).collect()
    assert {(r.record_key, r.global_subject_id, r.action) for r in a} == {
        (r.record_key, r.global_subject_id, r.action) for r in b
    }


def test_component_adoption_oldest_by_created_at(spark):
    """Component GSID adoption must pick oldest by (created_at, gsid),
    not lexical GSID order (identity_resolution.py:180-183): here the
    lexically-smallest GSID is the NEWEST registry row."""
    registry = spark.createDataFrame(
        [
            ("OLDEST-ID", "GSID-ZZZ9", "2019-01-01"),  # oldest, lexically last
            ("NEWER-ID", "GSID-AAA1", "2023-01-01"),  # newest, lexically first
        ],
        ["local_subject_id", "global_subject_id", "created_at"],
    )
    ids = spark.createDataFrame(
        [
            (40, "OLDEST-ID", "t"),
            (40, "BR-X", "t"),
            (41, "NEWER-ID", "t"),
            (41, "BR-X", "t"),
            (42, "BR-X", "t"),  # unmatched; adopts the component's oldest GSID
        ],
        ["record_key", "local_subject_id", "identifier_type"],
    )
    out = {r.record_key: r for r in resolve_identities(ids, registry).collect()}
    assert out[42].action == "link_existing"
    assert out[42].global_subject_id == "GSID-ZZZ9"
    # the component bridged TWO registry GSIDs: every record converges
    # on the oldest, the loser's record is conflict_resolved, and the
    # whole component is flagged for review (the order-independent
    # image of the reference's sequential multi-GSID path,
    # identity_resolution.py:163-211) — no record may keep GSID-AAA1,
    # or link_back would stage contradictory rows for BR-X
    assert {r.global_subject_id for r in out.values()} == {"GSID-ZZZ9"}
    assert out[41].action == "conflict_resolved"
    assert out[40].action == "link_existing"
    assert all(r.requires_review for r in out.values())


def test_mint_unique_across_batches(spark):
    """Two batches whose components share record keys (both start at 0)
    must NOT mint the same GSID for different subjects: seeds are
    content-derived (identifier set + batch salt), not row keys."""
    cols = ["record_key", "local_subject_id", "identifier_type"]
    reg = _registry(spark)
    b1 = resolve_identities(
        spark.createDataFrame([(0, "SUBJ-ONE", "t")], cols), reg, batch_salt="b1"
    ).collect()[0]
    b2 = resolve_identities(
        spark.createDataFrame([(0, "SUBJ-TWO", "t")], cols), reg, batch_salt="b2"
    ).collect()[0]
    assert b1.global_subject_id != b2.global_subject_id
    # determinism: same content + same salt -> same GSID
    again = resolve_identities(
        spark.createDataFrame([(0, "SUBJ-ONE", "t")], cols), reg, batch_salt="b1"
    ).collect()[0]
    assert again.global_subject_id == b1.global_subject_id


def test_alias_path_resolution(spark):
    """subject_alias rows (01-schema.sql:35-39) are a second identifier
    path: alias matches resolve to the alias's GSID, and the alias's
    created_at participates in the oldest-wins tie-break."""
    aliases = spark.createDataFrame(
        [("OLD-ALIAS", "GSID-VIAALIAS", "2010-01-01")],
        ["alias", "global_subject_id", "created_at"],
    )
    ids = spark.createDataFrame(
        [
            (1, "old-alias", "t"),  # alias-only, case-insensitive
            (2, "IBDGC-001", "t"),  # registry path still works
            (3, "OLD-ALIAS", "t"),  # alias (2010) beats registry OLD1 (2020)
            (3, "IBDGC-001", "t"),
        ],
        ["record_key", "local_subject_id", "identifier_type"],
    )
    out = {
        r.record_key: r
        for r in resolve_identities(ids, _registry(spark), aliases=aliases).collect()
    }
    assert out[1].action == "link_existing"
    assert out[1].global_subject_id == "GSID-VIAALIAS"
    assert out[3].action == "conflict_resolved"
    assert out[3].global_subject_id == "GSID-VIAALIAS"
    # record 3 bridges records 1/2 into one component that matched TWO
    # registry GSIDs; the whole component converges on the oldest and
    # is flagged — the order-independent fixed point of the reference's
    # sequential flow, whose conflict handler remaps ALL identifiers of
    # a conflict-seeing record to the chosen GSID and flags every
    # conflicting subject (identity_resolution.py:178-211 'Flag ALL
    # conflicting GSIDs', 215-268 'Link ALL identifiers ... DO UPDATE')
    assert out[2].global_subject_id == "GSID-VIAALIAS"
    assert out[2].action == "conflict_resolved"
    assert all(r.requires_review for r in out.values())


def test_mint_registry_collision_remints(spark):
    """A minted GSID already present in the registry re-mints with the
    retry salt (the distributed analog of generate_unique_gsids'
    check-and-retry loop)."""
    cols = ["record_key", "local_subject_id", "identifier_type"]
    batch = spark.createDataFrame([(0, "COLLIDE-ME", "t")], cols)
    first = resolve_identities(batch, _registry(spark), batch_salt="s").collect()[0]
    # plant the exact minted GSID in the registry under an unrelated id
    poisoned = _registry(spark).union(
        spark.createDataFrame(
            [("OTHER-SUBJECT", first.global_subject_id, "2020-06-06")],
            ["local_subject_id", "global_subject_id", "created_at"],
        )
    )
    second = resolve_identities(batch, poisoned, batch_salt="s").collect()[0]
    assert second.action == "create_new"
    assert second.global_subject_id != first.global_subject_id
    assert re.match(GSID_REGEX, second.global_subject_id)
    assert not second.requires_review


def _mixed_batch(spark):
    """Link, conflict, a lone mint and a two-record mint component."""
    return spark.createDataFrame(
        [
            (1, "IBDGC-001", "consortium"),
            (2, "IBDGC-003", "consortium"),
            (2, "SHARED-X", "site"),
            (3, "NEW-LONE", "consortium"),
            (4, "NEW-PAIR", "consortium"),
            (5, "NEW-PAIR", "consortium"),
            (5, "NEW-OTHER", "site"),
        ],
        ["record_key", "local_subject_id", "identifier_type"],
    )


def test_resolution_result_is_materialized(spark):
    """resolve_identities returns a materialized frame on both paths:
    the mint runs once, so a per-query mint time (current_timestamp()
    freezes when a query is planned) yields the same GSIDs in every
    query over the result. A derived frame is planned anew, as each
    pipeline sink is."""
    import time

    args = (_mixed_batch(spark), _registry(spark), None, True)
    mint_ts = F.unix_millis(F.current_timestamp())
    for path, res in (
        ("spark", identity._resolve_spark(*args, mint_ts, "b", None)),
        ("driver", identity._resolve_local(*args, mint_ts, "b")),
    ):
        first = sorted(res.collect())
        time.sleep(0.05)
        second = sorted(res.select("*").collect())
        assert first == second, path
        assert {r.action for r in first} >= {"create_new", "link_existing"}


def test_resolution_reliable_checkpoint_same_rows(spark, tmp_path):
    """With spark.idhub.cc.checkpointDir set, the Spark path's
    materialization points checkpoint reliably like the CC loop does,
    and the rows match the executor-local default. The driver path
    checkpoints nothing."""
    import os

    reg = _registry(spark)

    def run(cc=True):
        res = identity._resolve_spark(_mixed_batch(spark), reg, None, cc, None, "b", None)
        return sorted(res.collect())

    driver_ck = tmp_path / "ckpt_driver"
    try:
        spark.conf.set("spark.idhub.cc.checkpointDir", str(driver_ck))
        driver = sorted(resolve_identities(_mixed_batch(spark), reg, batch_salt="b").collect())
    finally:
        spark.conf.unset("spark.idhub.cc.checkpointDir")
    assert not [d for _, dirs, _ in os.walk(driver_ck) for d in dirs if d.startswith("rdd-")]

    local, local_no_cc = run(), run(cc=False)
    assert local == driver
    ck = tmp_path / "ckpt_no_cc"
    try:
        spark.conf.set("spark.idhub.cc.checkpointDir", str(tmp_path / "ckpt"))
        reliable = run()
        # without the CC loop every checkpoint written is one of the
        # resolution's own materialization points
        spark.conf.set("spark.idhub.cc.checkpointDir", str(ck))
        reliable_no_cc = run(cc=False)
    finally:
        spark.conf.unset("spark.idhub.cc.checkpointDir")
    assert reliable == local
    assert reliable_no_cc == local_no_cc
    rdds = [d for _, dirs, _ in os.walk(ck) for d in dirs if d.startswith("rdd-")]
    assert rdds, "the materialization points ignored the reliable mode"


def _fragment_batch(spark, n=500):
    """n candidate rows shaped like an upload: registry links (mixed
    case), a conflict, lone mints and three-record chains over new ids."""
    rows = []
    for k in range(n // 2):
        if k % 50 == 0:
            rows += [(k, "ibdgc-001", "consortium"), (k, "SHARED-X", "site")]
        elif k % 3 == 0:
            rows += [(k, f"CH-{k}", "consortium"), (k, f"CH-{k + 1}", "site")]
        elif k % 3 == 1:
            rows += [(k, f"CH-{k}", "consortium"), (k, f"NEW-{k}", "site")]
        else:
            rows += [(k, f"IBDGC-00{1 + k % 3}", "consortium"), (k, f"LONE-{k}", "site")]
    return spark.createDataFrame(rows[:n], ["record_key", "local_subject_id", "identifier_type"])


def test_local_resolution_job_budget_and_cap(spark, monkeypatch):
    """A 500-row batch resolves on the driver in at most 3 Spark jobs
    (its ids, their registry hits, the registry's copies of its mints);
    one row over the cap takes the Spark path and returns the same
    rows."""
    batch, reg = _fragment_batch(spark), _registry(spark)
    n = batch.count()
    spark_path = []
    cc_runtime = identity._cc_runtime
    monkeypatch.setattr(
        identity, "_cc_runtime", lambda *a, **k: spark_path.append(1) or cc_runtime(*a, **k)
    )

    def run(cap):
        monkeypatch.setattr(identity, "_LOCAL_MAX_ROWS", cap)
        return resolve_identities(batch, reg, batch_salt="b")

    sc = spark.sparkContext
    sc.setJobGroup("idhub-local-resolve", "driver-path resolve_identities")
    try:
        local = run(n)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("idhub-local-resolve")
    assert not spark_path
    assert 1 <= len(jobs) <= 3, jobs
    rows = sorted(local.collect())
    assert {r.action for r in rows} == {"create_new", "link_existing", "conflict_resolved"}
    assert sorted(run(n - 1).collect()) == rows
    assert spark_path


# --- change classification / merge ----------------------------------------


def _cur_inc(spark):
    current = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, None)], ["k", "s", "v"]
    )
    incoming = spark.createDataFrame(
        [(2, "b", 25.0), (3, "", None), (4, "d", 40.0)], ["k", "s", "v"]
    )
    return current, incoming


def test_classify_changes(spark):
    current, incoming = _cur_inc(spark)
    out = {r.k: r for r in classify_changes(incoming, current, ["k"]).collect()}
    assert out[1].change_type == "orphan"
    assert out[2].change_type == "updated" and out[2].changed_fields == ["v"]
    assert out[2].changes["v"].old == "20.0" and out[2].changes["v"].new == "25.0"
    # '' normalizes to NULL -> unchanged (update_detector.py:229-234)
    assert out[3].change_type == "unchanged"
    assert out[4].change_type == "new"


def test_merge_modes_and_idempotence(spark):
    current, incoming = _cur_inc(spark)
    r = merge_upsert(incoming, current, ["k"], table_name="t", batch_id="b1")
    merged = {x.k: x for x in r.merged.collect()}
    assert set(merged) == {1, 2, 3, 4}
    assert merged[2].v == 25.0 and merged[1].v == 10.0
    audit = r.audit.collect()
    assert len(audit) == 1 and audit[0].field == "v" and audit[0].record_key == {"k": "2"}

    # idempotence: re-merging the merged state produces zero audit rows
    r2 = merge_upsert(r.merged, r.merged, ["k"], table_name="t", batch_id="b2")
    assert r2.audit.count() == 0
    assert {
        x.change_type for x in r2.classified.select("change_type").distinct().collect()
    } == {"unchanged"}

    # insert_only ignores updates; update_only ignores inserts
    io = merge_upsert(incoming, current, ["k"], mode="insert_only").merged
    assert {x.k: x.v for x in io.collect()}[2] == 20.0
    uo = merge_upsert(incoming, current, ["k"], mode="update_only").merged
    assert set(x.k for x in uo.collect()) == {1, 2, 3}


def test_merge_immutable_protection(spark):
    current = spark.createDataFrame([(1, "keep", 1.0)], ["k", "s", "v"])
    incoming = spark.createDataFrame([(1, "clobber", 2.0)], ["k", "s", "v"])
    r = merge_upsert(incoming, current, ["k"], immutable=["s"])
    row = r.merged.collect()[0]
    assert row.s == "keep" and row.v == 2.0


def test_merge_narrow_fragment_preserves_unseen_columns(spark):
    """A fragment carrying a SUBSET of the table's columns (the normal
    update-strategy case) must patch only the columns it carries —
    current-only columns survive on every row of the merged snapshot."""
    current = spark.createDataFrame(
        [(1, "a", 10.0, "keep1"), (2, "b", 20.0, "keep2")],
        ["k", "s", "v", "extra"],
    )
    incoming = spark.createDataFrame(
        [(2, "b2", 25.0, 7), (3, "c", 30.0, 8)], ["k", "s", "v", "novel"]
    )
    r = merge_upsert(incoming, current, ["k"], table_name="t", batch_id="b")
    merged = {x.k: x for x in r.merged.collect()}
    assert set(r.merged.columns) == {"k", "s", "v", "extra", "novel"}
    # kept row: untouched, incoming-only column null
    assert merged[1].extra == "keep1" and merged[1].novel is None
    # patched row: carried columns updated, current-only preserved
    assert merged[2].s == "b2" and merged[2].v == 25.0
    assert merged[2].extra == "keep2" and merged[2].novel == 7
    # fresh row: current-only column null
    assert merged[3].extra is None and merged[3].novel == 8


# --- fuzzy matching --------------------------------------------------------


def test_levenshtein_ratio(spark):
    df = spark.createDataFrame([("kitten", "sitting")], ["a", "b"])
    r = df.select(levenshtein_ratio(F.col("a"), F.col("b")).alias("r")).collect()[0].r
    assert abs(r - (1 - 3 / 7)) < 1e-9


def test_fuzzy_match_names(spark):
    dim = spark.createDataFrame(
        [(1, "Mount Sinai"), (2, "Cedars Sinai"), (3, "Toronto General")],
        ["center_id", "center_name"],
    )
    dirty = spark.createDataFrame(
        [("mount_sinai",), ("Mount Sinaii",), ("zzzzz",), ("TOR GEN",)], ["raw"]
    )
    aliases = spark.createDataFrame([("tor gen", 3)], ["alias", "center_id"])
    out = {
        r.name: r
        for r in fuzzy_match_names(
            dirty, dim, dirty_col="raw", dim_name_col="center_name",
            dim_id_col="center_id", aliases=aliases,
        ).collect()
    }
    assert out["mount_sinai"].match_strategy == "exact" and out["mount_sinai"].matched_id == 1
    assert out["Mount Sinaii"].match_strategy == "fuzzy" and out["Mount Sinaii"].matched_id == 1
    assert out["TOR GEN"].match_strategy == "alias" and out["TOR GEN"].matched_id == 3
    assert out["zzzzz"].match_strategy == "none" and out["zzzzz"].matched_id is None


# --- conflicts -------------------------------------------------------------


def test_detect_conflicts_and_duplicates(spark):
    existing = spark.createDataFrame(
        [
            ("A1", "t", 1, "G1"),
            ("A1", "t", 1, "G2"),  # duplicate: two GSIDs for same id
            ("B2", "t", 2, "G3"),
        ],
        ["local_subject_id", "identifier_type", "center_id", "global_subject_id"],
    )
    incoming = spark.createDataFrame(
        [("a1", "t", 1, "G9"), ("B2", "t", 5, "G3"), ("B2", "s", 9, "G9")],
        ["local_subject_id", "identifier_type", "center_id", "global_subject_id"],
    )
    # give existing a row where BOTH center and gsid mismatch
    both = spark.createDataFrame(
        [("B2", "s", 2, "G3")],
        ["local_subject_id", "identifier_type", "center_id", "global_subject_id"],
    )
    conf = detect_conflicts(incoming, existing.union(both)).collect()
    types = {(r.local_subject_id, r.identifier_type, r.conflict_type) for r in conf}
    assert ("a1", "t", "multi_gsid") in types
    assert ("B2", "t", "center_mismatch") in types
    # center-mismatch precedence when both mismatch (conflict_detector.py:61-83)
    assert ("B2", "s", "center_mismatch") in types

    dups = find_duplicates(existing).collect()
    assert len(dups) == 1 and dups[0].gsids == ["G1", "G2"]


def test_apply_resolutions(spark):
    incoming = spark.createDataFrame([("A", 1), ("B", 2), ("C", 3)], ["id", "v"])
    res = spark.createDataFrame(
        [("A", "keep_existing"), ("B", "use_incoming")], ["id", "resolution_action"]
    )
    out = apply_resolutions(incoming, res, ["id"]).collect()
    assert {r.id for r in out} == {"B", "C"}


def test_apply_resolutions_existing(spark):
    """Existing-side twin: use_incoming/delete_both delete existing
    rows; keep_existing/merge leave them (conflict_resolver.py:61-110)."""
    from idhub_spark.operators.conflicts import apply_resolutions_existing

    existing = spark.createDataFrame(
        [("A", 1), ("B", 2), ("C", 3), ("D", 4)], ["id", "v"]
    )
    res = spark.createDataFrame(
        [
            ("A", "keep_existing"),
            ("B", "use_incoming"),
            ("C", "delete_both"),
            ("D", "merge"),  # reference's unimplemented action: no-op
        ],
        ["id", "resolution_action"],
    )
    out = apply_resolutions_existing(existing, res, ["id"]).collect()
    assert {r.id for r in out} == {"A", "D"}


def test_apply_resolutions_existing_case_insensitive(spark):
    """Conflicts are DETECTED on lower(local_subject_id) and the
    resolution stores the incoming casing; the existing-side delete
    must therefore match case-insensitively, or a case-variant
    existing row survives and the same conflict re-fires every batch."""
    from idhub_spark.operators.conflicts import (
        apply_center_updates,
        apply_resolutions_existing,
    )

    existing = spark.createDataFrame(
        [("abc001", "t", 1), ("keepme", "t", 1)],
        ["local_subject_id", "identifier_type", "center_id"],
    )
    res = spark.createDataFrame(
        [("ABC001", "t", 1, "use_incoming")],  # incoming casing
        ["local_subject_id", "identifier_type", "center_id", "resolution_action"],
    )
    out = apply_resolutions_existing(
        existing, res, ["center_id", "local_subject_id", "identifier_type"]
    ).collect()
    assert {r.local_subject_id for r in out} == {"keepme"}

    # same contract on the center-update local-ids delete
    local_ids = spark.createDataFrame(
        [(1, "abc001", "t", "G1"), (1, "other", "t", "G2")],
        ["center_id", "local_subject_id", "identifier_type", "global_subject_id"],
    )
    subjects = spark.createDataFrame(
        [("G1", 1, "s")], ["global_subject_id", "center_id", "subject_name"]
    )
    cr = spark.createDataFrame(
        [("ABC001", "t", 1, 5, "G1", "center_mismatch", "use_incoming")],
        ["local_subject_id", "identifier_type", "existing_center_id",
         "incoming_center_id", "existing_gsid", "conflict_type",
         "resolution_action"],
    )
    _, local2 = apply_center_updates(subjects, local_ids, cr)
    assert {r.local_subject_id for r in local2.collect()} == {"other"}


def test_apply_center_updates(spark):
    """center_mismatch + use_incoming: subject center rewritten when
    (gsid, old center) match; stale local_subject_ids row deleted
    (fragment_resolution.py:389-564)."""
    from idhub_spark.operators.conflicts import apply_center_updates

    subjects = spark.createDataFrame(
        [("G1", 1, "s1"), ("G2", 2, "s2"), ("G3", 9, "s3")],
        ["global_subject_id", "center_id", "subject_name"],
    )
    local_ids = spark.createDataFrame(
        [(1, "A", "t", "G1"), (2, "B", "t", "G2"), (9, "C", "t", "G3")],
        ["center_id", "local_subject_id", "identifier_type", "global_subject_id"],
    )
    res = spark.createDataFrame(
        [
            # applies: G1's center 1 -> 5, local (1, A, t) deleted
            ("A", "t", 1, 5, "G1", "center_mismatch", "use_incoming"),
            # wrong action: no effect
            ("B", "t", 2, 6, "G2", "center_mismatch", "keep_existing"),
            # wrong conflict type: no effect
            ("C", "t", 9, 7, "G3", "multi_gsid", "use_incoming"),
        ],
        [
            "local_subject_id", "identifier_type", "existing_center_id",
            "incoming_center_id", "existing_gsid", "conflict_type",
            "resolution_action",
        ],
    )
    subj2, local2 = apply_center_updates(subjects, local_ids, res)
    centers = {r.global_subject_id: r.center_id for r in subj2.collect()}
    assert centers == {"G1": 5, "G2": 2, "G3": 9}
    assert subj2.columns == subjects.columns
    assert {r.local_subject_id for r in local2.collect()} == {"B", "C"}


def test_pending_resolutions_and_mark_applied(spark):
    """F5 batch/status predicates (fragment_resolution.py:302-387):
    the pending scan selects one batch's actioned-but-unapplied rows;
    mark_applied flips exactly those to resolved=TRUE, so a second
    scan of the batch returns empty and other batches are untouched."""
    from idhub_spark.operators.conflicts import mark_applied, pending_resolutions

    rows = [
        # batch, local, type, conflict, action, resolved, gsid, ec, ic
        ("b1", "A", "t", "multi_gsid", "keep_existing", False, "G1", 1, 2),
        ("b1", "B", "t", "multi_gsid", None, False, "G2", 1, 2),  # un-actioned
        ("b1", "C", "t", "multi_gsid", "use_incoming", True, "G3", 1, 2),  # applied
        ("b2", "D", "t", "multi_gsid", "delete_both", False, "G4", 1, 2),  # other batch
    ]
    cols = [
        "batch_id", "local_subject_id", "identifier_type", "conflict_type",
        "resolution_action", "resolved", "existing_gsid",
        "existing_center_id", "incoming_center_id",
    ]
    res = spark.createDataFrame(rows, cols)
    pend = pending_resolutions(res, "b1")
    assert pend.columns == cols
    assert [r.local_subject_id for r in pend.collect()] == ["A"]

    after = mark_applied(res, "b1")
    state = {r.local_subject_id: r.resolved for r in after.collect()}
    assert state == {"A": True, "B": False, "C": True, "D": False}
    assert pending_resolutions(after, "b1").count() == 0


def test_enabled_projects_gate():
    """F6 enabled-project filter (redcap-pipeline/main.py:66-73):
    enabled=false skips; absent key defaults to enabled."""
    from idhub_spark.config import enabled_projects

    projects = {
        "gap": {"enabled": True, "batch_size": 50},
        "legacy": {"enabled": False},
        "neo": {"batch_size": 10},  # no key -> enabled
    }
    assert sorted(enabled_projects(projects)) == ["gap", "neo"]
    assert enabled_projects({}) == {}


def test_resolution_log(spark):
    from idhub_spark.operators.identity import resolution_log

    ids = spark.createDataFrame(
        [
            (1, "IBDGC-001", "t"),
            (2, "UNSEEN", "t"),
            (3, "IBDGC-001", "t"),
            (3, "SHARED-X", "t"),
        ],
        ["record_key", "local_subject_id", "identifier_type"],
    )
    resolved = resolve_identities(ids, _registry(spark))
    log = {r.record_key: r for r in resolution_log(resolved, batch_id="b9").collect()}
    assert log["1"].match_strategy == "exact_match" and log["1"].confidence == 1.0
    assert log["2"].match_strategy == "create_new"
    assert log["3"].match_strategy == "oldest_wins" and log["3"].confidence == 0.5
    assert log["3"].requires_review
    assert log["3"].matched_gsids == '["GSID-OLD1","GSID-OLD3"]'
    assert all(r.batch_id == "b9" for r in log.values())


def test_registration_year_differential(spark):
    """Differential test: registration_year_expr vs a Python
    datetime.strptime reference over seeded-random inputs across all
    four formats, bare years, and malformed strings (one Spark job for
    the whole batch, not one per example)."""
    from datetime import datetime

    def py_parse(s: str):
        # the REFERENCE's branch order (data_processor.py:125-167)
        s = s.strip()
        year = None
        if len(s) >= 10 and "-" in s:
            try:
                year = int(s.split("-")[0])
            except ValueError:
                return None
        elif s.isdigit() and len(s) == 4:
            year = int(s)
        else:
            for f in ["%Y-%m-%d", "%m/%d/%Y", "%d/%m/%Y", "%Y/%m/%d"]:
                try:
                    year = datetime.strptime(s, f).year
                    break
                except ValueError:
                    continue
        if year is not None and 1900 <= year <= 2100:
            return f"{year}-01-01"
        return None

    samples = set()
    import random

    rnd = random.Random(11)
    for _ in range(120):
        y = rnd.randint(1850, 2150)
        m = rnd.randint(1, 12)
        day = rnd.randint(1, 28)
        pick = rnd.randrange(5)
        if pick == 0:
            samples.add(f"{y:04d}-{m:02d}-{day:02d}")
        elif pick == 1:
            samples.add(f"{m:02d}/{day:02d}/{y:04d}")
        elif pick == 2:
            samples.add(f"{day:02d}/{m:02d}/{y:04d}")
        elif pick == 3:
            samples.add(f"{y:04d}/{m:02d}/{day:02d}")
        else:
            samples.add(str(y))
    samples |= {
        "NA", "", "13/13/2000", "00/00/2000", "garbage!!",
        # reference-order specials: len>=10 with '-' takes the leading
        # year even when the rest is junk or a datetime suffix
        "2000-13-01", "2021-01-02 10:30:00", "not-a-date-x",
        # non-padded strptime tolerance
        "1/2/2021", "2021/1/2",
    }
    rows = [(s,) for s in sorted(samples)]
    df = spark.createDataFrame(rows, ["d"])
    got = {
        r.d: (str(r.v) if r.v is not None else None)
        for r in df.select("d", registration_year_expr(F.col("d")).alias("v")).collect()
    }
    for (s,) in rows:
        expect = py_parse(s)
        # MM/dd vs dd/MM ambiguity: the operator tries US first, then
        # intl — py_parse mirrors that order, so expectations align
        assert got[s] == expect, f"{s!r}: spark={got[s]} py={expect}"


def test_boolean_lexicon_differential(spark):
    """boolean_expr vs a Python reference over the full lexicon x case
    x whitespace grid plus non-lexicon strings."""
    from idhub_spark.functions.expressions import FALSE_VALUES, TRUE_VALUES

    def py_bool(s):
        low = s.strip().lower()
        if low in [v.lower() for v in TRUE_VALUES]:
            return True
        if low in [v.lower() for v in FALSE_VALUES]:
            return False
        return None

    samples = []
    for v in TRUE_VALUES + FALSE_VALUES:
        samples += [v, v.upper(), f"  {v} ", v.capitalize()]
    samples += ["maybe", "2", "", "truthy", "nope", "10", "yes!"]
    df = spark.createDataFrame([(s,) for s in samples], ["b"])
    got = {r.b: r.v for r in df.select("b", boolean_expr(F.col("b")).alias("v")).collect()}
    for s in samples:
        assert got[s] == py_bool(s), repr(s)


def test_flexible_timestamp_differential(spark):
    """flexible_timestamp_expr vs a Python reference: >=12-digit
    strings are epoch millis, ISO strings parse, junk is NULL."""
    from datetime import datetime, timezone

    from idhub_spark.functions.expressions import flexible_timestamp_expr

    def py_parse(s):
        t = s.strip()
        if t.isdigit() and len(t) >= 12:
            return datetime.fromtimestamp(int(t) / 1000.0, tz=timezone.utc).replace(
                tzinfo=None
            )
        try:
            return datetime.fromisoformat(t)
        except ValueError:
            return None

    samples = [
        "1700000000000",          # epoch ms
        "1700000000123",
        "  1500000000000 ",       # trimmed
        "99999999999",            # 11 digits -> NOT millis, not ISO -> null
        "2023-05-06 07:08:09",
        "2023-05-06T07:08:09",
        "not a time",
        "",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["t"])
    got = {
        r.t: r.v
        for r in df.select("t", flexible_timestamp_expr(F.col("t")).alias("v")).collect()
    }
    for s in samples:
        assert got[s] == py_parse(s), f"{s!r}: {got[s]} vs {py_parse(s)}"


def test_merge_immutable_column_not_in_fragment(spark):
    """An immutable column the fragment doesn't carry must be
    preserved from current without an ambiguous-reference crash."""
    current = spark.createDataFrame(
        [(1, "a", "2020-01-01"), (2, "b", "2021-01-01")], ["k", "s", "created_at"]
    )
    incoming = spark.createDataFrame([(2, "b2"), (3, "c")], ["k", "s"])
    r = merge_upsert(incoming, current, ["k"], immutable=["created_at"])
    merged = {x.k: x for x in r.merged.collect()}
    assert merged[2].s == "b2" and merged[2].created_at == "2021-01-01"
    assert merged[1].created_at == "2020-01-01"
    assert merged[3].created_at is None


def test_tolerant_coercion_under_ansi(spark):
    """Spark 4 defaults to ANSI mode, where a plain cast() THROWS on
    malformed input; every tolerant path must be a try_* form yielding
    NULL instead (data_transformer.py: per-value None, never an
    error). '3.0' -> 3 pins the reference's int(float(x)) route."""
    from idhub_spark.config import TRANSFORMS
    from idhub_spark.functions.expressions import type_coerce

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(
        [("3.0",), ("abc",), ("7",), (" NA ",), ("2020-05-06",), ("n/a",)], ["v"]
    )
    out = df.select(
        type_coerce(F.col("v"), "int").alias("i"),
        type_coerce(F.col("v"), "double").alias("d"),
        type_coerce(F.col("v"), "date").alias("dt"),
        type_coerce(F.col("v"), "boolean").alias("b"),
        TRANSFORMS["integer"](F.col("v")).alias("ti"),
    ).collect()
    assert [r.i for r in out] == [3, None, 7, None, None, None]
    assert [r.d for r in out] == [3.0, None, 7.0, None, None, None]
    assert [str(r.dt) if r.dt else None for r in out] == [
        None, None, None, None, "2020-05-06", None]
    # loader boolean: truthy lexicon else False; sentinels stay NULL
    assert [r.b for r in out] == [False, False, False, None, False, None]
    assert [r.ti for r in out] == [3, None, 7, None, None, None]


def test_control_status_reference_lexicon(spark):
    """control parse (data_processor.py:169-197): truthy set has NO
    't', and everything unrecognized — including NULL — is False."""
    from idhub_spark.functions.expressions import control_status_expr

    df = spark.createDataFrame(
        [("1",), ("Yes",), ("y",), ("true",), ("t",), ("unknown",), ("0",), (None,)],
        ["v"],
    )
    got = [r.c for r in df.select(control_status_expr(F.col("v")).alias("c")).collect()]
    assert got == [True, True, True, True, False, False, False, False]


def test_scd2_versions_semantics(spark):
    """Version intervals: unchanged batches collapse, null<->value
    transitions count as changes (null-safe), a reverted value opens a
    NEW version (type-2 keeps history, not distinct states), late keys
    open at their first batch, and exactly one open version per key."""
    from idhub_spark.operators.changes import scd2_versions

    rows = [
        # k=1: v A(0-1), B(2), A(3-) — revert reopens
        (1, "A", 0), (1, "A", 1), (1, "B", 2), (1, "A", 3),
        # k=2: null -> X -> null
        (2, None, 0), (2, "X", 1), (2, None, 2), (2, None, 3),
        # k=3: late arrival at batch 2, constant after
        (3, "Z", 2), (3, "Z", 3),
    ]
    img = spark.createDataFrame(rows, "k int, v string, batch_seq int")
    out = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_versions(img, ["k"], ["v"]).collect()
    }
    assert out == {
        (1, "A", 0, 1, False),
        (1, "A", 3, None, True),
        (1, "B", 2, 2, False),
        (2, None, 0, 0, False),
        (2, None, 2, None, True),
        (2, "X", 1, 1, False),
        (3, "Z", 2, None, True),
    }
    opens = [o for o in out if o[4]]
    assert len(opens) == 3  # exactly one current version per key
