"""End-to-end pipeline tests mirroring the reference's mocked
integration suites (fragment-validator/tests/test_integration.py,
table-loader/tests/test_integration.py, conftest fixtures: IBDGC* IDs
link to existing subjects, unknown IDs mint)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from idhub_spark.config import FragmentMapping, load_mapping
from idhub_spark.functions.expressions import GSID_REGEX
from idhub_spark.pipelines.load_batch import load_batch
from idhub_spark.pipelines.redcap_sync import redcap_sync
from idhub_spark.pipelines.validate_fragment import validate_fragment
from idhub_spark.schema import SPECIMEN
from idhub_spark.sources.rest import RestSource


def _registry(spark):
    return spark.createDataFrame(
        [
            ("IBDGC-100", "GSID-EXISTING000100A", "2020-01-01"),
            ("IBDGC-200", "GSID-EXISTING000200A", "2021-01-01"),
        ],
        ["local_subject_id", "global_subject_id", "created_at"],
    )


_MAPPING = FragmentMapping(
    table_name="specimen",
    field_mapping={"sample_id": "SampleID", "sample_type": "Material"},
    static_fields={"sample_available": True},
    subject_id_candidates={"consortium_id": "consortium"},
    center_id_field="center",
    default_center_id=0,
)


def _fragment(spark):
    return spark.createDataFrame(
        [
            ("S1", "blood", "IBDGC-100", 5),
            ("S2", "dna", "ibdgc-200", 5),  # case-insensitive link
            ("S3", "blood", "NEWSUBJ-1", 7),  # mint
            ("S4", "lcl", "NEWSUBJ-1", 7),  # same unseen id -> same mint
        ],
        ["SampleID", "Material", "consortium_id", "center"],
    )


def test_validate_fragment_end_to_end(spark):
    res = validate_fragment(
        spark,
        _fragment(spark),
        _MAPPING,
        registry=_registry(spark),
        batch_id="b1",
    )
    assert res.status == "VALIDATED"
    assert res.report["rows"] == 4
    assert res.report["gsids_linked"] == 2
    assert res.report["gsids_created"] == 2
    assert res.report["auto_approve"] is True

    rows = {r.sample_id: r for r in res.mapped.collect()}
    assert rows["S1"].global_subject_id == "GSID-EXISTING000100A"
    assert rows["S2"].global_subject_id == "GSID-EXISTING000200A"
    # the two NEWSUBJ-1 rows minted the SAME gsid
    assert rows["S3"].global_subject_id == rows["S4"].global_subject_id
    assert re.match(GSID_REGEX, rows["S3"].global_subject_id)
    # link-back rows carry the original (case-preserved) ids
    lids = {r.local_subject_id for r in res.local_id_records.collect()}
    assert lids == {"IBDGC-100", "ibdgc-200", "NEWSUBJ-1"}


def test_local_id_center_attribution_per_record(spark):
    """Two records from DIFFERENT centers share one identifier (so
    they resolve to one GSID); each record's other identifier must be
    staged under ITS OWN center only — a per-GSID center join would
    cross-attribute every identifier to both centers."""
    mapping = FragmentMapping(
        table_name="specimen",
        field_mapping={"sample_id": "SampleID"},
        subject_id_candidates={"consortium_id": "consortium", "alt_id": "alt"},
        center_id_field="center",
    )
    frag = spark.createDataFrame(
        [
            ("S1", "SHARED-1", "OWN-A", 5),
            ("S2", "SHARED-1", "OWN-B", 7),
        ],
        ["SampleID", "consortium_id", "alt_id", "center"],
    )
    res = validate_fragment(
        spark, frag, mapping,
        registry=spark.createDataFrame(
            [], "local_subject_id string, global_subject_id string, created_at string"
        ),
        batch_id="b_ctr",
    )
    got = {(r.center_id, r.local_subject_id) for r in res.local_id_records.collect()}
    assert (5, "OWN-A") in got and (7, "OWN-B") in got
    assert (7, "OWN-A") not in got and (5, "OWN-B") not in got
    assert (5, "SHARED-1") in got and (7, "SHARED-1") in got  # both asserted it
    # and everything resolved to ONE gsid
    gsids = {r.global_subject_id for r in res.local_id_records.collect()}
    assert len(gsids) == 1


def test_validate_fragment_alias_path(spark):
    """subject_alias rows resolve through the pipeline exactly like
    local_subject_ids (alias -> GSID, case-insensitive)."""
    aliases = spark.createDataFrame(
        [("LEGACY-7", "GSID-EXISTING000100A", "2010-01-01")],
        ["alias", "global_subject_id", "created_at"],
    )
    frag = spark.createDataFrame(
        [("S9", "blood", "legacy-7", 5)],
        ["SampleID", "Material", "consortium_id", "center"],
    )
    res = validate_fragment(
        spark, frag, _MAPPING, registry=_registry(spark), aliases=aliases,
        batch_id="b2",
    )
    row = res.mapped.collect()[0]
    assert row.global_subject_id == "GSID-EXISTING000100A"
    assert res.report["gsids_linked"] == 1 and res.report["gsids_created"] == 0


def test_validate_fragment_schema_failure(spark):
    bad = FragmentMapping(
        table_name="specimen",
        field_mapping={"sample_id": "NoSuchColumn"},
        subject_id_candidates={"consortium_id": "consortium"},
    )
    res = validate_fragment(
        spark, _fragment(spark), bad, registry=_registry(spark),
        target_schema=SPECIMEN,
    )
    assert res.status == "FAILED"
    assert res.report["status"] == "FAILED"


def test_validate_then_load_roundtrip(spark):
    """validator staging output loads into the specimen table with
    insert/update/unchanged accounting; reload is a no-op."""
    res = validate_fragment(
        spark, _fragment(spark), _MAPPING, registry=_registry(spark), batch_id="b1"
    )
    staged = res.mapped.select(
        "sample_id", "global_subject_id", "sample_type", "sample_available"
    )
    current = spark.createDataFrame(
        [("S1", "GSID-EXISTING000100A", "serum", True)],
        ["sample_id", "global_subject_id", "sample_type", "sample_available"],
    )
    out = load_batch(
        staged, current, table_name="specimen", batch_id="b1", report=res.report
    )
    bk = out.bookkeeping.collect()[0]
    assert (bk.rows_inserted, bk.rows_updated, bk.rows_unchanged) == (3, 1, 0)
    # rows_attempted = FRAGMENT rows (orphan current-only keys are not
    # attempts); rows_loaded = what the mode applied
    assert bk.rows_attempted == 4 and bk.rows_loaded == 4
    audit = out.merge.audit.collect()
    assert {a.field for a in audit} == {"sample_type"}

    # idempotence: loading the merged state again changes nothing
    again = load_batch(
        staged, out.merge.merged, table_name="specimen", batch_id="b2", report=res.report
    )
    bk2 = again.bookkeeping.collect()[0]
    assert (bk2.rows_inserted, bk2.rows_updated, bk2.rows_unchanged) == (0, 0, 4)


def test_load_batch_conflict_exclusion(spark):
    incoming = spark.createDataFrame(
        [("A", "t", "G1"), ("B", "t", "G2")],
        ["local_subject_id", "identifier_type", "global_subject_id"],
    )
    current = incoming.limit(0)
    resolutions = spark.createDataFrame(
        [("A", "t", "keep_existing")],
        ["local_subject_id", "identifier_type", "resolution_action"],
    )
    out = load_batch(
        incoming, current, table_name="local_subject_ids", batch_id="b",
        resolutions=resolutions,
    )
    assert {r.local_subject_id for r in out.merge.merged.collect()} == {"B"}


def test_redcap_sync_end_to_end(spark):
    records = spark.createDataFrame(
        [
            ("r1", "IBDGC-100", "mount_sinai", "2001-05-05", "SP-1", "WES-1", "FAM-9"),
            ("r2", "BRANDNEW-7", "Mount Sinaii", "1999", "SP-2", None, None),
        ],
        ["record_id", "consortium_id", "redcap_center", "reg_date", "blood_id", "wes_id", "fam"],
    )
    mapping = FragmentMapping(
        table_name="subjects",
        field_mapping={
            "registration_year": "reg_date",
            "family_id": "fam",
            "blood_id": "blood_id",
            "wes_id": "wes_id",
        },
        transforms={"registration_year": "registration_year"},
        subject_id_candidates={"consortium_id": "consortium"},
        center_id_field="redcap_center",
    )
    centers = spark.createDataFrame(
        [(1, "Mount Sinai"), (2, "Toronto General")], ["center_id", "center_name"]
    )
    out = redcap_sync(
        spark,
        records,
        mapping,
        registry=_registry(spark),
        centers=centers,
        sample_columns={"blood_id": "blood", "wes_id": "wes"},
    )
    subs = {r.global_subject_id: r for r in out.subjects.collect()}
    assert "GSID-EXISTING000100A" in subs
    assert subs["GSID-EXISTING000100A"].center_id == 1  # exact (normalized) match
    assert str(subs["GSID-EXISTING000100A"].registration_year) == "2001-01-01"
    minted = [g for g in subs if g != "GSID-EXISTING000100A"]
    assert len(minted) == 1 and subs[minted[0]].center_id == 1  # fuzzy matched

    spec = {(r.global_subject_id, r.sample_id) for r in out.specimen.collect()}
    assert ("GSID-EXISTING000100A", "SP-1") in spec
    seq = {r.sample_id: r.sequence_type for r in out.sequence.collect()}
    assert seq == {"WES-1": "wes"}
    fam = [r.family_id for r in out.family.collect()]
    assert fam == ["FAM-9"]

    frags = {r.global_subject_id: r.samples for r in out.fragments.collect()}
    assert frags["GSID-EXISTING000100A"] == {"blood": ["SP-1"], "wes": ["WES-1"]}


def test_records_frame_arrow_fallback_is_logged(spark, monkeypatch, caplog):
    """records_frame builds a local relation over Arrow; when the Arrow
    conversion fails it takes the classic path with the same rows and
    says so on the "idhub_spark" logger."""
    import logging

    import pyarrow

    from idhub_spark.session import records_frame

    rows = [{"k": 1, "s": "a"}, {"k": 2}]
    arrow = records_frame(spark, rows, "k int, s string")
    assert "LocalTableScan" in arrow._jdf.queryExecution().executedPlan().toString()

    def broken(*a, **k):
        raise pyarrow.ArrowInvalid("no arrow today")

    monkeypatch.setattr(pyarrow, "table", broken)
    with caplog.at_level(logging.WARNING, logger="idhub_spark"):
        classic = records_frame(spark, rows, "k int, s string")
    assert sorted(classic.collect()) == sorted(arrow.collect())
    (rec,) = [r for r in caplog.records if r.name == "idhub_spark"]
    assert rec.levelno == logging.WARNING
    assert "records_frame: Arrow path failed (ArrowInvalid: no arrow today)" in rec.getMessage()


def test_rest_source_pagination_and_retry(spark):
    pages = {0: [{"id": 1}, {"id": 2}], 2: [{"id": 3}], 3: []}
    calls = {"n": 0, "fail_once": True}

    def fetch(offset, limit):
        calls["n"] += 1
        if calls["fail_once"]:
            calls["fail_once"] = False
            raise ConnectionError("transient")
        return pages.get(offset, [])

    src = RestSource(fetch, page_size=2, sleep=lambda s: None)
    df = src.to_dataframe(spark, "id bigint")
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]
    assert not src.partial


def test_rest_source_partial_success(spark):
    def fetch(offset, limit):
        if offset >= 2:
            raise ConnectionError("down")
        return [{"id": offset}]

    src = RestSource(
        fetch, page_size=1, retries=1, max_consecutive_failures=3, sleep=lambda s: None
    )
    got = [r["id"] for page in src.pages() for r in page]
    assert got == [0, 1]  # everything before the failed page was yielded
    assert src.partial
    # last_offset points AT the failed page so a resume re-attempts it
    assert src.last_offset == 2


def test_rest_source_resume_completes_dataset(spark):
    """The partial-success resume contract end to end: after a run
    stops with partial=True, resuming from last_offset (once the
    source recovers) yields exactly the missing records — union of
    both runs == the full dataset, no gaps, no double-reads."""
    data = [{"id": i} for i in range(7)]
    down = {"flag": True}

    def fetch(offset, limit):
        if down["flag"] and offset >= 3:
            raise ConnectionError("outage")
        return data[offset : offset + limit]

    src = RestSource(
        fetch, page_size=1, retries=1, max_consecutive_failures=2, sleep=lambda s: None
    )
    first = [r["id"] for page in src.pages() for r in page]
    assert src.partial and first == [0, 1, 2] and src.last_offset == 3

    down["flag"] = False  # source recovers
    second = [r["id"] for page in src.pages(src.last_offset) for r in page]
    assert not src.partial
    assert first + second == [r["id"] for r in data]


def test_rest_source_never_skips_a_page(spark):
    """A page whose retries exhaust is re-fetched at the SAME offset on
    the next round — records are never silently dropped
    (redcap-pipeline/services/pipeline.py:44-101 retries same offset)."""
    flaky_calls = {"n": 0}

    def fetch(offset, limit):
        if offset == 1:
            flaky_calls["n"] += 1
            if flaky_calls["n"] <= 2:  # exhaust retries twice, succeed 3rd round
                raise ConnectionError("down")
        if offset >= 3:
            return []
        return [{"id": offset}]

    src = RestSource(
        fetch, page_size=1, retries=1, max_consecutive_failures=3, sleep=lambda s: None
    )
    got = [r["id"] for page in src.pages() for r in page]
    assert got == [0, 1, 2]  # page at offset 1 recovered, nothing skipped
    assert not src.partial


def test_redcap_metadata_scan_and_mapping_check(spark):
    """S2: data-dictionary scan (redcap_client.py:189-204) + mapping
    validation against it before any record fetch."""
    from idhub_spark.config import FragmentMapping
    from idhub_spark.sources.rest import redcap_metadata
    from idhub_spark.validate import validate_mapping_against_dictionary

    dictionary = [
        {"field_name": "record_id", "form_name": "f1", "field_type": "text",
         "field_label": "Record", "required_field": "y"},
        {"field_name": "reg_date", "form_name": "f1", "field_type": "text",
         "field_label": "Registered",
         "text_validation_type_or_show_slider_number": "date_ymd"},
        {"field_name": "consortium_id", "form_name": "f1", "field_type": "text",
         "field_label": "Consortium ID", "identifier": "y"},
    ]
    calls = {"fail_once": True}

    def fetch():
        if calls["fail_once"]:
            calls["fail_once"] = False
            raise ConnectionError("transient")
        return dictionary

    md = redcap_metadata(spark, fetch, sleep=lambda s: None)
    assert md.count() == 3
    assert {r.field_name for r in md.collect()} == {
        "record_id", "reg_date", "consortium_id",
    }

    ok_map = FragmentMapping(
        table_name="subjects",
        field_mapping={"registration_year": "reg_date"},
        subject_id_candidates={"consortium_id": "consortium"},
    )
    rep = validate_mapping_against_dictionary(ok_map, md)
    assert rep.ok and rep.field_types["reg_date"] == "text"

    bad_map = FragmentMapping(
        table_name="subjects",
        field_mapping={"x": "not_in_dictionary"},
        subject_id_candidates={"ghost": "site"},
    )
    rep2 = validate_mapping_against_dictionary(bad_map, md)
    assert not rep2.ok
    assert rep2.missing_sources == ["not_in_dictionary"]
    assert rep2.missing_candidates == ["ghost"]


def test_jdbc_source_options():
    """S6: JDBC option plumbing — partitioned scans enforced, pushdown
    query supported (sandbox has no database; the option surface is
    the real spark.read.format('jdbc') contract)."""
    import pytest

    from idhub_spark.sources.jdbc import JdbcSource, s3a_session_configs

    src = JdbcSource(
        url="jdbc:postgresql://db:5432/idhub",
        table="(SELECT local_subject_id, global_subject_id FROM local_subject_ids) AS t",
        user="u",
        password="p",
        partition_column="center_id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=16,
    )
    opts = src.options()
    assert opts["numPartitions"] == "16" and opts["partitionColumn"] == "center_id"
    assert opts["fetchsize"] == "10000"
    assert opts["dbtable"].startswith("(SELECT")

    with pytest.raises(ValueError):
        JdbcSource(
            url="jdbc:postgresql://db/x", table="t", partition_column="id"
        ).options()

    cfg = s3a_session_configs(endpoint="http://minio:9000")
    assert cfg["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert cfg["spark.hadoop.fs.s3a.committer.name"] == "magic"


def test_load_mapping_dialects(tmp_path):
    import json

    v = {
        "table_name": "lcl",
        "field_mapping": {"sample_id": "LCL_ID"},
        "subject_id_candidates": {"cid": "consortium"},
        "exclude_from_load": ["tmp"],
    }
    p = tmp_path / "v.json"
    p.write_text(json.dumps(v))
    m = load_mapping(str(p))
    assert m.table_name == "lcl" and m.exclude_from_load == ["tmp"]

    r = {
        "target_table": "subjects",
        "mappings": [
            {"source_field": "reg", "target_field": "registration_year",
             "transform": "registration_year"},
            {"source_field": "cid", "target_field": "consortium_id",
             "identifier_type": "consortium"},
        ],
    }
    m2 = load_mapping(r)
    assert m2.field_mapping["registration_year"] == "reg"
    assert m2.transforms["registration_year"] == "registration_year"
    assert m2.subject_id_candidates == {"consortium_id": "consortium"}


def test_mint_consistent_across_sinks(spark):
    """A newly-minted GSID must be IDENTICAL in every output sink of
    one pipeline run (mapped rows, link-back records) even though the
    sinks are separate executions of the lazy plan."""
    frag = spark.createDataFrame(
        [("S1", "blood", "BRAND-NEW-1", 5)],
        ["SampleID", "Material", "consortium_id", "center"],
    )
    res = validate_fragment(
        spark, frag, _MAPPING, registry=_registry(spark), batch_id="bmint"
    )
    # two separate actions on mapped + one on local_id_records
    g1 = res.mapped.collect()[0].global_subject_id
    import time
    time.sleep(1.2)  # current_timestamp()-based minting would drift here
    g2 = res.mapped.collect()[0].global_subject_id
    g3 = res.local_id_records.collect()[0].global_subject_id
    assert g1 == g2 == g3


def test_validate_fragment_sinks_read_materialized_resolution(spark):
    """The staged sinks read the materialized resolution: neither sink
    plan carries the mint's Window or the dispatch/seed collect_set
    aggregates, either of which would mean the sink re-executes the
    whole resolution."""
    res = validate_fragment(
        spark,
        _fragment(spark),
        _MAPPING,
        registry=_registry(spark),
        existing_ids=_registry(spark).select(
            "local_subject_id",
            "global_subject_id",
            F.lit("consortium").alias("identifier_type"),
            F.lit(5).alias("center_id"),
        ),
        batch_id="bplan",
    )
    for name in ("mapped", "local_id_records"):
        plan = getattr(res, name)._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"\bWindow\b", plan), (name, plan)
        assert "collect_set" not in plan, (name, plan)


def test_load_mappings_by_table_multi_table_config():
    """The REAL gap_field_mappings.json shape: five target tables, 46
    specimen sample columns all targeting 'sample_id'. Grouped
    loading keeps every sample column (via sample_columns), labels
    local_subject_ids entries as candidates, and implies the
    registration_year/control transforms; the single-table loader
    REFUSES to flatten it silently."""
    import pytest

    from idhub_spark.config import (
        load_mapping,
        load_mappings_by_table,
        sample_columns,
    )

    cfg = {
        "mappings": [
            {"source_field": "local_id", "target_table": "local_subject_ids",
             "target_field": "local_subject_id"},
            {"source_field": "consortium_id", "target_table": "local_subject_ids",
             "target_field": "local_subject_id"},
            {"source_field": "registration_date", "target_table": "subjects",
             "target_field": "registration_year"},
            {"source_field": "control___1", "target_table": "subjects",
             "target_field": "control"},
            {"source_field": "center_name", "target_table": "centers",
             "target_field": "name"},
            {"source_field": "blood_id", "target_table": "specimen",
             "target_field": "sample_id", "sample_type": "blood"},
            {"source_field": "dna_id", "target_table": "specimen",
             "target_field": "sample_id", "sample_type": "dna"},
            {"source_field": "wes_id", "target_table": "specimen",
             "target_field": "sample_id", "sample_type": "wes"},
        ]
    }
    by_table = load_mappings_by_table(cfg)
    assert set(by_table) == {"local_subject_ids", "subjects", "centers", "specimen"}
    assert by_table["subjects"].field_mapping == {
        "registration_year": "registration_date", "control": "control___1"}
    assert by_table["subjects"].transforms == {
        "registration_year": "registration_year", "control": "control"}
    assert by_table["local_subject_ids"].subject_id_candidates == {
        "local_id": "local_id", "consortium_id": "consortium_id"}
    # every sample column survives — nothing last-writer-wins
    assert sample_columns(cfg) == {
        "blood_id": "blood", "dna_id": "dna", "wes_id": "wes"}
    assert by_table["specimen"].field_mapping == {}  # all fan-out cols
    with pytest.raises(ValueError, match="load_mappings_by_table"):
        load_mapping(cfg)
