"""Fragment validation pipeline (reference §3.2:
fragment-validator/main.py -> validator.process_local_file,
services/validator.py:33-178).

One batch dataflow instead of the reference's read -> per-row
ThreadPool HTTP -> pandas pipeline:

  csv_scan -> mapping projection -> schema validation ->
  unpivot candidates -> batch identity resolution (the join IS the
  parallelism) -> conflict detection vs the live registry ->
  staging write + validation report.

Where the resolution is materialized: resolve_identities runs its
jobs inside this call and returns a materialized frame
(operators/identity.py). A fragment-sized batch resolves on the
driver in at most three Spark jobs and comes back as a local
relation; a batch over the driver path's cap runs one probe job, then
takes the Spark path, whose registry match, component-adopted
dispatch and result are each checkpointed once. The conflict count, the report's stats and the
staged sinks (`mapped`, `local_id_records`) all read that frame: what
each of them executes is the fragment scan, the unpivot and joins
onto the resolved rows, never the resolution itself.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idhub_spark.config import FragmentMapping
from idhub_spark.operators.conflicts import detect_conflicts
from idhub_spark.operators.identity import (
    resolve_identities,
    unpivot_candidates,
)
from idhub_spark.validate import ValidationReport, validate_schema


@dataclass
class FragmentValidationResult:
    status: str  # VALIDATED | FAILED
    mapped: DataFrame | None
    resolved: DataFrame | None  # record_key -> gsid/action
    local_id_records: DataFrame | None  # link-back rows for the registry
    conflicts: DataFrame | None
    schema_report: ValidationReport | None
    report: dict


def validate_fragment(
    spark: SparkSession,
    fragment: DataFrame,
    mapping: FragmentMapping,
    *,
    registry: DataFrame,
    existing_ids: DataFrame | None = None,
    aliases: DataFrame | None = None,
    target_schema=None,
    batch_id: str = "batch",
    record_key: str = "_record_id",
) -> FragmentValidationResult:
    # 1-2) mapping projection (P1-P3) with a synthetic record key when
    # the fragment has none (row identity for the unpivot round-trip)
    df = fragment
    if record_key not in df.columns:
        df = df.withColumn(record_key, F.monotonically_increasing_id())
    mapped = df.select(F.col(record_key), *mapping.select_columns(df))

    # 3) schema validation -> FAILED report short-circuit
    # (validator.py:86-92)
    schema_report = None
    if target_schema is not None:
        schema_report = validate_schema(
            mapped.drop(record_key),
            target_schema,
            required=list(mapping.field_mapping),
            # NOT-NULL checks from the target schema's non-nullable
            # fields (schema_validator.py:22-103); a mapping whose
            # source column is absent produces an all-null target and
            # fails here
            not_null=[f.name for f in target_schema.fields if not f.nullable],
        )
        if not schema_report.ok:
            return FragmentValidationResult(
                status="FAILED",
                mapped=mapped,
                resolved=None,
                local_id_records=None,
                conflicts=None,
                schema_report=schema_report,
                report={
                    "batch_id": batch_id,
                    "status": "FAILED",
                    "missing_columns": schema_report.missing_columns,
                    "null_violations": schema_report.null_violations,
                },
            )

    # 4) identity resolution as one batch join (replaces the
    # ThreadPool HTTP fan-out, subject_id_resolver.py:20-188)
    ids_long = unpivot_candidates(mapped, record_key, mapping.subject_id_candidates)
    # batch_salt makes mint seeds batch-globally unique.
    # resolve_identities returns a materialized frame, so the conflict
    # check, the report and both staged sinks read ONE execution of the
    # mint: a record carries the same GSID in every sink
    # (tests/test_operators.py pins it even for a per-execution
    # current_timestamp() mint time). The mint time stays a Python
    # literal: one constant per batch, taken when the batch starts.
    import time as _time

    resolved = resolve_identities(
        ids_long,
        registry,
        batch_salt=batch_id,
        mint_ts_ms=F.lit(int(_time.time() * 1000)),
        aliases=aliases,
    )
    with_gsid = mapped.join(
        resolved.select(
            F.col("record_key").alias(record_key),
            "global_subject_id",
            "action",
            "requires_review",
        ),
        record_key,
        "left",
    )
    center = (
        F.col(mapping.center_id_field)
        if mapping.center_id_field and mapping.center_id_field in mapped.columns
        else F.lit(mapping.default_center_id)
    )
    # center is attributed PER RECORD through record_key, never per
    # GSID: joining identifiers to distinct (center, gsid) pairs would
    # cross-attribute every identifier to EVERY center whose record
    # shares the GSID — staging registry rows no input asserted and
    # inflating center_mismatch conflicts downstream
    local_id_records = (
        ids_long.join(
            resolved.select("record_key", "global_subject_id"), "record_key"
        )
        .join(
            with_gsid.select(
                F.col(record_key).alias("record_key"),
                center.cast("int").alias("center_id"),
            ),
            "record_key",
        )
        .select("center_id", "local_subject_id", "identifier_type", "global_subject_id")
        .distinct()
    )

    # 5) conflict detection vs current registry state (J7)
    conflicts = None
    n_conflicts = 0
    if existing_ids is not None:
        conflicts = detect_conflicts(local_id_records, existing_ids)
        n_conflicts = conflicts.count()

    # 7) validation report (validator.py:180-252): conflicts veto
    # auto-approval
    stats = (
        resolved.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("action") == "create_new", 1).otherwise(0)).alias("created"),
            F.sum(F.when(F.col("action") == "link_existing", 1).otherwise(0)).alias("linked"),
            F.sum(F.when(F.col("requires_review"), 1).otherwise(0)).alias("review"),
        )
        .collect()[0]
    )
    report = {
        "batch_id": batch_id,
        "table_name": mapping.table_name,
        "status": "VALIDATED",
        "rows": stats["n"],
        "gsids_created": stats["created"],
        "gsids_linked": stats["linked"],
        "requires_review": stats["review"],
        "conflicts": n_conflicts,
        "auto_approve": n_conflicts == 0,
        "exclude_from_load": mapping.exclude_from_load,
    }
    return FragmentValidationResult(
        status="VALIDATED",
        mapped=with_gsid,
        resolved=resolved,
        local_id_records=local_id_records,
        conflicts=conflicts,
        schema_report=schema_report,
        report=report,
    )
