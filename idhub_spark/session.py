"""SparkSession factory.

Local testing runs on local[N] (one JVM); production target is a
multi-executor cluster, so every knob here is also valid at scale:
AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (required for bit-exact comparison against the
DuckDB oracle, whose timestamps are UTC-naive), Arrow for the few
Pandas-UDF code paths.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

log = logging.getLogger("idhub_spark")

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "idhub_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    shuffle.partitions is sized to the local core count — at cluster
    scale this would be set per-job to ~2-3x total executor cores, or
    left to AQE's coalescing with a high initial value.
    """
    n = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-optimize (coalesce/skew-split) INSIDE cached plans
        # too (off by default only to preserve a cached plan's output
        # partitioning for consumers that depend on it — AQE's own
        # coalescing is the dependency-safe case). Without it every
        # persist() freezes its shuffle at the static partition count,
        # which is exactly where the r19 driver saw the inverted-index
        # queries over-scheduled (ngram 8-core ratio 0.75). Measured
        # r20, steady-state same-session A/B at sf0.1: ngram 2.98->2.51,
        # lsh_recall_eval 2.96->2.61, dedup_cluster_canonical
        # 2.51->2.07, lsh_param_sweep 4.72->4.40, nothing slower across
        # 3 interleaved rounds. Scale-adaptive by construction: AQE
        # coalesces toward advisoryPartitionSizeInBytes, so cluster
        # runs keep their parallelism.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # COUNT/MIN/MAX over unfiltered parquet answer from footer
        # statistics instead of scanning row groups (off by default)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS), which Spark rejects;
        # read as bigint nanos and rebuild micros in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read the driver's synthetic parquet tables and register temp views.

    Returns a dict name -> DataFrame. Parquet scans get Catalyst's
    predicate pushdown + column pruning for free, so downstream
    operators never pre-filter manually.
    """
    # The driver's harness builds its own bare SparkSession, so the
    # builder-time confs in get_spark are not enough. Both of these are
    # runtime-settable; set them on whatever session we're given:
    # - events.parquet carries INT64 TIMESTAMP(NANOS), which Spark
    #   rejects unless the legacy conf is on;
    # - timestamp comparisons against the UTC-naive DuckDB oracle
    #   require a UTC session timezone (free on a UTC host, load-
    #   bearing anywhere else).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            # events.ts has shipped as INT64 TIMESTAMP(NANOS) (read as
            # bigint under nanosAsLong) and as timestamp[us] (read as
            # TIMESTAMP_NTZ). Normalize BOTH encodings to TIMESTAMP so
            # downstream unix_micros()/casts are legal regardless of
            # which encoding the data carries. Under the UTC session
            # timezone the NTZ->TIMESTAMP cast is the identical instant,
            # bit-exact vs the UTC-naive DuckDB oracle.
            dtype = dict(df.dtypes).get("ts")
            if dtype == "bigint":
                # truncate nanos to micros (same truncation DuckDB
                # applies casting ns->us)
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif dtype == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def records_frame(
    spark: SparkSession, records: list[dict], schema: StructType | str
) -> DataFrame:
    """Driver-side records (dicts; a missing key is null) -> a local
    relation over the Arrow path.

    spark.createDataFrame(list_of_dicts) takes the pickled-RDD route:
    the rows are parallelized over defaultParallelism Python slices and
    every downstream action pays a Python-worker round-trip per task.
    A pyarrow Table built column by column with the schema's exact
    Arrow types becomes a LocalRelation instead: no action over it
    touches a Python worker, and a projection over it is folded by the
    optimizer without a Spark job. Value semantics are identical: None
    -> null via pa.array (never a pandas NaN coercion), ints, strings
    and doubles exact. If the Arrow conversion fails, the classic path
    is taken and the fallback is logged on the "idhub_spark" logger.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        tbl = pa.table(
            {
                f.name: pa.array(
                    [r.get(f.name) for r in records], type=to_arrow_type(f.dataType)
                )
                for f in struct.fields
            }
        )
        return spark.createDataFrame(tbl, schema=struct)
    except Exception as e:  # noqa: BLE001 - any Arrow failure takes the classic path
        log.warning(
            "records_frame: Arrow path failed (%s: %s); falling back to the "
            "pickled-RDD createDataFrame (slower on every action)",
            type(e).__name__,
            e,
            exc_info=True,
        )
        return spark.createDataFrame(records, schema=struct)


ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str):
    """JVM-side twin of spark.createDataFrame(rows, schema) for SMALL
    driver-side literal relations (markers, params, verdict rows):
    range(1) + explode(array(struct(lit...))) keeps the plan entirely
    in the JVM.

    Why it exists (measured, local[32]): createDataFrame parallelizes
    even a 1-row list over defaultParallelism Python slices; an action
    runs them as Python tasks (fine in parallel, ~1 s), but
    .coalesce(1) — the natural move before writing a tiny sidecar —
    collapses them into ONE task that executes all 32 Python partition
    computations SEQUENTIALLY: ~5 s for a 1-row parquet write vs
    ~0.2 s for this JVM literal. The same serialization happens on a
    cluster; tiny control-plane writes should never ride a Python RDD.

    `schema` is the same "name type, name type" DDL string
    createDataFrame takes; values are F.lit()-able scalars (None ok).
    Limitation: the parser splits on commas, so field TYPES must not
    contain them (scalars and array<...> are fine; map/struct types
    are not — those frames aren't control-plane literals anyway).
    """
    fields = [f.strip().rsplit(" ", 1) for f in schema.split(",")]
    if not rows:
        raise ValueError("literal_frame: rows must be non-empty")
    if any(len(f) != 2 for f in fields) or any(
        len(row) != len(fields) for row in rows
    ):
        raise ValueError(
            f"literal_frame: schema {schema!r} must be 'name type, ...' "
            "with comma-free types, and every row must match its arity"
        )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(t).alias(n.strip())
                for v, (n, t) in zip(row, fields)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )
