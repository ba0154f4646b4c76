"""Subject-registry API facade (reference §3.4: gsid-service FastAPI
routes re-expressed as batch DataFrame functions).

The reference exposes POST /register/subject, GET /health,
GET /subjects/{gsid}, POST /subjects/{gsid}/withdraw
(gsid-service/api/routes.py:18-185).
In the Spark rebuild these are library calls over the registry
tables; a single-record HTTP call is just a 1-row DataFrame through
the same batch path, preserving one code path for both shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idhub_spark.operators.identity import resolve_identities, unpivot_candidates


def register_subjects(
    spark: SparkSession,
    requests: DataFrame,
    registry: DataFrame,
    *,
    candidates: dict[str, str],
    key_col: str = "request_id",
    batch_salt: str = "register",
) -> DataFrame:
    """POST /register/subject, batched: one row per request with the
    route's response contract (api/models.py:53-62): gsid, action,
    identifiers_linked, conflicts flag."""
    import time as _time

    ids_long = unpivot_candidates(requests, key_col, candidates)
    resolved = resolve_identities(
        ids_long,
        registry,
        batch_salt=batch_salt,
        # one constant per batch; the result is materialized, so every
        # action on the response reads the same minted GSIDs
        mint_ts_ms=F.lit(int(_time.time() * 1000)),
    )
    linked = ids_long.groupBy("record_key").agg(
        F.count(F.lit(1)).alias("identifiers_linked")
    )
    # one row per REQUEST, not per resolvable request: a request whose
    # candidate columns are all null/sentinel has no ids_long rows and
    # would silently vanish from an inner join — the route contract
    # returns an explicit error response instead (routes.py:18-96
    # responds per request; an empty candidate set is a 4xx, not a
    # missing row)
    return (
        requests.select(F.col(key_col).alias("record_key"))
        .join(resolved, "record_key", "left")
        .join(linked, "record_key", "left")
        .select(
            F.col("record_key").alias(key_col),
            "global_subject_id",
            F.coalesce(F.col("action"), F.lit("error_no_identifiers")).alias(
                "action"
            ),
            F.coalesce(F.col("identifiers_linked"), F.lit(0)).alias(
                "identifiers_linked"
            ),
            F.coalesce(F.col("requires_review"), F.lit(False)).alias("conflicts"),
            "matched_gsids",
        )
    )


def get_subject(
    subjects: DataFrame,
    local_ids: DataFrame,
    centers: DataFrame,
    gsid: str,
) -> DataFrame:
    """GET /subjects/{gsid}: subject row enriched with center and the
    oldest-first list of local identifiers (routes.py:98-156,
    ORDER BY created_at ASC at 121-130)."""
    # a pre-aggregation .sort() does NOT survive the aggregation
    # exchange (partial buffers merge in shuffle-read order) — the
    # ORDER BY created_at contract needs an explicit array_sort over
    # structs whose FIRST fields are the sort key
    ids = (
        local_ids.filter(F.col("global_subject_id") == gsid)
        .groupBy("global_subject_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "created_at",
                            "local_subject_id",
                            "identifier_type",
                            "center_id",
                        )
                    )
                ),
                lambda s: F.struct(
                    s["local_subject_id"].alias("local_subject_id"),
                    s["identifier_type"].alias("identifier_type"),
                    s["center_id"].alias("center_id"),
                ),
            ).alias("identifiers")
        )
    )
    return (
        subjects.filter(F.col("global_subject_id") == gsid)
        .join(F.broadcast(centers), "center_id", "left")
        .join(ids, "global_subject_id", "left")
    )


def withdraw_subject(subjects: DataFrame, gsid: str) -> DataFrame:
    """POST /subjects/{gsid}/withdraw: the updated subjects image
    (routes.py:159-185); caller persists via snapshot/MERGE."""
    return subjects.withColumn(
        "withdrawn",
        F.when(F.col("global_subject_id") == gsid, F.lit(True)).otherwise(
            F.col("withdrawn")
        ),
    ).withColumn(
        "updated_at",
        F.when(
            F.col("global_subject_id") == gsid, F.current_timestamp()
        ).otherwise(F.col("updated_at")),
    )


def health(spark: SparkSession, registry: DataFrame | None = None) -> dict:
    """GET /health (routes.py:82-96): the reference answers 'healthy'
    iff SELECT 1 succeeds against Postgres. The Spark equivalents of
    'is my backend reachable': the session's JVM answers a trivial
    job, and (when a registry is supplied) the registry table is
    readable end to end. Returns the same shape as HealthResponse
    (api/models.py:64) — status + backend state — raising nothing:
    health checks report, they don't crash."""
    try:
        spark.range(1).count()  # SELECT 1
        if registry is not None:
            registry.limit(1).count()  # table reachable + schema sane
        return {"status": "healthy", "database": "connected"}
    except Exception as e:  # noqa: BLE001 - any failure is 'unhealthy'
        return {"status": "unhealthy", "database": f"error: {type(e).__name__}"}
