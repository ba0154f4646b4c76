"""r16 scale audit: the ingest-log size bound (VERDICT r15 'What's
wrong' #2).

The exactly-once ingest log (r15) left one empty marker file per
accepted batch FOREVER, and both compact paths re-created the log
entry-by-entry through ~3 ms GIL-bound driver fs calls (the r14 §3b
measurement) — at the engine's stated ~100 small batches/day cadence,
a year is ~36k markers and ~2 min of driver-side carry per compact,
plus an ever-growing listing on object stores.

r16 bounds the log at the maintenance cadence: entries older than
ingest_log_horizon_s (default 7 days) are pruned by
minhash_index_fold_delta / ivf_index_merge_cold_clusters in place and
skipped by the compact carry (source mtimes preserved, so the clock
never resets). This audit MEASURES the claim on a synthetic year of
markers:

  §1 carry cost, unbounded vs bounded — compact an index carrying
     N_OLD aged + N_FRESH fresh markers with horizon disabled (every
     entry carried) vs the default horizon (only fresh carried).
  §2 in-place prune cost at fold — one listStatus + one delete per
     aged entry, a one-time catch-up; steady-state work is only the
     entries aged out since the last fold.

Run:  python tools/scale_audit_r16.py [N_OLD] [N_FRESH]
Writes markdown-ish lines to stdout; copy results into
docs/scale_audit_r16.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_old = int(sys.argv[1]) if len(sys.argv) > 1 else 4096
    n_fresh = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from idhub_spark.commit import INGEST_LOG_HORIZON_S
    from idhub_spark.operators.dedup_index import (
        minhash_index_compact,
        minhash_index_fold_delta,
        minhash_index_write,
        minhash_index_append,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .appName("scale_audit_r16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="audit_r16_")
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("body words number "),
            F.col("id").cast("string"),
            F.lit(" trailing shingle material common tail"),
        ).alias("text"),
    )

    def build(path: str) -> None:
        minhash_index_write(
            docs, path, n_hashes=8, bands=2, pb_buckets=8, db_buckets=8
        )
        # one real buffered append so fold has work and the index
        # shape matches production (live ∪ delta)
        minhash_index_append(
            docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text"),
            path,
            batch_id="audit-fresh-real",
        )

    def plant_markers(path: str) -> None:
        """N_OLD aged + N_FRESH fresh empty markers, exactly the files
        the promotion creates (driver fs.create)."""
        log = f"{path}/_ingest_log"
        os.makedirs(log, exist_ok=True)
        aged = time.time() - 30 * 24 * 3600
        for i in range(n_old):
            p = f"{log}/aged_{i:06d}"
            open(p, "w").close()
            os.utime(p, (aged, aged))
        for i in range(n_fresh):
            open(f"{log}/fresh_{i:06d}", "w").close()

    def n_entries(log_dir: str) -> int:
        """Marker count EXCLUDING the local ChecksumFileSystem's .crc
        sidecars (a driver fs.create writes one per marker on local
        disk — doubling the per-entry fs ops; object stores don't)."""
        return len(
            [f for f in os.listdir(log_dir) if not f.startswith(".")]
        )

    print(f"# r16 ingest-log bound audit  n_old={n_old} n_fresh={n_fresh}")

    # §1 compact carry: unbounded vs bounded
    src_a = f"{tmp}/idx_a"
    build(src_a)
    plant_markers(src_a)
    t0 = time.perf_counter()
    minhash_index_compact(
        spark, src_a, f"{tmp}/idx_a_packed", ingest_log_horizon_s=None
    )
    t_unbounded = time.perf_counter() - t0
    n_dst_a = n_entries(f"{tmp}/idx_a_packed/_ingest_log")

    src_b = f"{tmp}/idx_b"
    build(src_b)
    plant_markers(src_b)
    t0 = time.perf_counter()
    minhash_index_compact(spark, src_b, f"{tmp}/idx_b_packed")
    t_bounded = time.perf_counter() - t0
    n_dst_b = n_entries(f"{tmp}/idx_b_packed/_ingest_log")

    print(
        f"§1 compact carry: horizon=None {t_unbounded:.1f}s carried "
        f"{n_dst_a} entries; default horizon {t_bounded:.1f}s carried "
        f"{n_dst_b} entries (expected {n_fresh + 1}); delta "
        f"{t_unbounded - t_bounded:.1f}s for {n_old} aged markers "
        f"(~{1000 * (t_unbounded - t_bounded) / max(n_old, 1):.2f} ms/entry)"
    )

    # §2 in-place prune at fold (catch-up over the aged backlog)
    src_c = f"{tmp}/idx_c"
    build(src_c)
    plant_markers(src_c)
    t0 = time.perf_counter()
    minhash_index_fold_delta(spark, src_c)
    t_fold = time.perf_counter() - t0
    left = n_entries(f"{src_c}/_ingest_log")
    # control: fold with nothing to prune (steady state)
    src_d = f"{tmp}/idx_d"
    build(src_d)
    t0 = time.perf_counter()
    minhash_index_fold_delta(spark, src_d)
    t_fold_clean = time.perf_counter() - t0
    print(
        f"§2 fold prune: {t_fold:.1f}s folding + pruning {n_old} aged "
        f"entries ({left} left, expected {n_fresh + 1}); clean-log fold "
        f"{t_fold_clean:.1f}s; prune term {t_fold - t_fold_clean:.1f}s "
        f"(~{1000 * (t_fold - t_fold_clean) / max(n_old, 1):.2f} ms/entry, "
        "one-time catch-up; steady state prunes only entries aged out "
        "since the last fold)"
    )
    print(
        f"bound: log size <= batch_rate x horizon "
        f"(default {INGEST_LOG_HORIZON_S / 86400:.0f} days) — ~700 "
        "entries at 100 batches/day, vs ~36k/year unbounded"
    )
    spark.stop()


if __name__ == "__main__":
    main()
