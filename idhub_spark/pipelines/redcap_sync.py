"""REDCap sync pipeline (reference §3.1: redcap-pipeline/main.py ->
pipeline.run -> data_processor.process_record, one HTTP call and one
DB transaction PER RECORD).

Set-based re-expression — the whole per-record loop becomes:

  records (RestSource/json) -> field mapping + transforms ->
  center resolution (broadcast fuzzy join J4) ->
  candidate unpivot (P10) -> batch identity resolution (J1-J3) ->
  sample fan-out to specimen/sequence/family (J12) ->
  curated per-subject fragment structs (P14, K2).

Reference throughput is ~10-15 records/s (redcap-pipeline/
README.md:573) because of the per-record HTTP; here the resolution
is one join, so throughput is bounded by the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idhub_spark.config import FragmentMapping
from idhub_spark.operators.centers import fuzzy_match_names
from idhub_spark.operators.identity import (
    resolve_identities,
    unpivot_candidates,
)


@dataclass
class RedcapSyncResult:
    resolved: DataFrame  # record -> gsid/action
    subjects: DataFrame  # new/updated subject rows
    local_id_records: DataFrame
    specimen: DataFrame | None
    sequence: DataFrame | None
    family: DataFrame | None
    fragments: DataFrame  # curated per-subject nested structs (P14)


def redcap_sync(
    spark: SparkSession,
    records: DataFrame,
    mapping: FragmentMapping,
    *,
    registry: DataFrame,
    centers: DataFrame | None = None,
    record_key: str = "record_id",
    sample_columns: dict[str, str] | None = None,
    batch_id: str = "redcap-sync",
) -> RedcapSyncResult:
    """sample_columns: column -> sample_type for the specimen fan-out
    (the gap_field_mappings.json sample_type tagging)."""
    mapped = records.select(F.col(record_key), *mapping.select_columns(records))

    # center resolution via broadcast fuzzy join (replaces the
    # in-memory cache + SequenceMatcher loop, center_resolver.py:44-160)
    if centers is not None and mapping.center_id_field in mapped.columns:
        resolved_centers = fuzzy_match_names(
            mapped,
            centers,
            dirty_col=mapping.center_id_field,
            dim_name_col="center_name",
            dim_id_col="center_id",
        ).select(
            F.col("name").alias(mapping.center_id_field),
            F.col("matched_id").alias("center_id"),
        )
        mapped = mapped.join(resolved_centers, mapping.center_id_field, "left").withColumn(
            "center_id", F.coalesce("center_id", F.lit(mapping.default_center_id))
        )
    else:
        mapped = mapped.withColumn("center_id", F.lit(mapping.default_center_id))

    # identity resolution (the one join that replaces per-record HTTP)
    ids_long = unpivot_candidates(mapped, record_key, mapping.subject_id_candidates)
    # resolve_identities returns a materialized frame: every output sink
    # below reads one execution of the mint, so a record's GSID is the
    # same in subjects, local ids, specimen and sequence. The mint time
    # stays a Python literal: one constant per batch.
    import time as _time

    resolved = resolve_identities(
        ids_long,
        registry,
        batch_salt=batch_id,
        mint_ts_ms=F.lit(int(_time.time() * 1000)),
    )
    with_gsid = mapped.join(
        resolved.select(F.col("record_key").alias(record_key), "global_subject_id", "action"),
        record_key,
        "left",
    )
    # center is attributed PER RECORD (through record_key), never per
    # GSID: when two records from different centers resolve to one
    # GSID, a per-GSID join would cross-attribute every identifier to
    # BOTH centers, staging registry rows no input ever asserted
    local_id_records = (
        ids_long.join(
            resolved.select("record_key", "global_subject_id"), "record_key"
        )
        .join(
            with_gsid.select(
                F.col(record_key).alias("record_key"), "center_id"
            ),
            "record_key",
        )
        .select("center_id", "local_subject_id", "identifier_type", "global_subject_id")
        .distinct()
    )

    subject_cols = [
        c
        for c in ("registration_year", "control", "family_id")
        if c in with_gsid.columns
    ]
    # deterministic representative per GSID: order by record_key so
    # the same record's values win on every run/partitioning (plain
    # dropDuplicates keeps a partition-order-dependent arbitrary row
    # when a multi-record component carries divergent values)
    w_subj = Window.partitionBy("global_subject_id").orderBy(F.col(record_key))
    subjects = (
        with_gsid.select(
            "global_subject_id", "center_id", *subject_cols, F.col(record_key)
        )
        .withColumn("_rn", F.row_number().over(w_subj))
        .filter(F.col("_rn") == 1)
        .select("global_subject_id", "center_id", *subject_cols)
    )

    # sample fan-out (data_processor.py:416-552): one output row per
    # non-null sample column
    specimen = sequence = None
    sample_columns = sample_columns or {}
    if sample_columns:
        entries = F.array(
            *[
                F.struct(
                    F.col(c).cast("string").alias("sample_id"),
                    F.lit(stype).alias("sample_type"),
                )
                for c, stype in sample_columns.items()
                if c in with_gsid.columns
            ]
        )
        samples = (
            with_gsid.select("global_subject_id", F.explode(entries).alias("s"))
            .select("global_subject_id", "s.sample_id", "s.sample_type")
            .filter(F.col("sample_id").isNotNull() & (F.trim("sample_id") != ""))
        )
        specimen = samples.filter(~F.col("sample_type").isin("wes", "wgs", "gwas"))
        sequence = samples.filter(F.col("sample_type").isin("wes", "wgs", "gwas")).select(
            F.col("sample_id"),
            "global_subject_id",
            F.col("sample_type").alias("sequence_type"),
        )

    family = None
    if "family_id" in with_gsid.columns:
        family = (
            with_gsid.filter(F.col("family_id").isNotNull())
            .select("family_id", "center_id")
            .dropDuplicates(["family_id"])
        )

    # curated per-subject fragment (P14, data_processor.py:554-612):
    # sample IDs grouped by type into a map, one nested row per subject
    if sample_columns and specimen is not None:
        all_samples = specimen.select(
            "global_subject_id", "sample_id", "sample_type"
        ).unionByName(
            sequence.select(
                "global_subject_id",
                "sample_id",
                F.col("sequence_type").alias("sample_type"),
            )
        )
        fragments = (
            all_samples.groupBy("global_subject_id", "sample_type")
            .agg(F.sort_array(F.collect_set("sample_id")).alias("ids"))
            .groupBy("global_subject_id")
            .agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("sample_type", "ids")))
                ).alias("samples")
            )
        )
    else:
        fragments = subjects.select(
            "global_subject_id",
            F.create_map().cast("map<string,array<string>>").alias("samples"),
        )

    return RedcapSyncResult(
        resolved=resolved,
        subjects=subjects,
        local_id_records=local_id_records,
        specimen=specimen,
        sequence=sequence,
        family=family,
        fragments=fragments,
    )
