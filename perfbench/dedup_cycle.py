"""dedup_cycle: the MinHash dedup index under its ingest cadence, then
maintenance.

One op is one input batch: probe ~1k docs (10% planted exact copies of
live docs) -> append the novel ones (they land in the delta buffer) ->
retract 100 live ids. After the timed ops, maintenance folds the delta
buffer into the index. The ingest pipeline never touches this module.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from idhub_spark.operators.dedup_index import (
    minhash_index_append,
    minhash_index_delete,
    minhash_index_fold_delta,
    minhash_index_probe,
    minhash_index_write,
)
from perfbench.common import Workload, dir_bytes

N_DOCS = 10_000
DOC_WORDS = 24
VOCAB = 5_000
DOC_BATCH = 1_000
PLANTED = DOC_BATCH // 10
RETRACT = 100
# MinHash pb/db partitions: with 16 + 16, a 900-doc append is below the
# engine's direct-append threshold (32 rows per partition), so it lands
# in the delta buffer that maintenance folds
INDEX_BUCKETS = 16


class DedupCycle(Workload):
    name = "dedup_cycle"
    op_span = "dedup_step"

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, tracer)
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array([f"w{i}" for i in range(VOCAB)])
        self.batches: list[dict] = []
        self.step_s: list[float] = []
        self.maint_s = 0.0
        self.recall: list[float] = []
        self.retracted: list[int] = []

    # -- inputs ----------------------------------------------------

    def _texts(self, n: int) -> list[str]:
        words = self.rng.integers(0, VOCAB, (n, DOC_WORDS))
        return [" ".join(self.vocab[w]) for w in words]

    def generate(self, n_batches: int) -> None:
        texts = dict(zip(range(N_DOCS), self._texts(N_DOCS)))
        pq.write_table(
            pa.table({"doc_id": pa.array(list(texts), pa.int64()), "text": list(texts.values())}),
            self.path("docs.parquet"),
        )
        live = set(texts)
        for b in range(n_batches):
            base = 1_000_000 * (b + 1)
            novel_ids = list(range(base, base + DOC_BATCH - PLANTED))
            sources = [int(x) for x in self.rng.choice(sorted(live), PLANTED, replace=False)]
            planted_ids = list(range(base + DOC_BATCH - PLANTED, base + DOC_BATCH))
            novel = self._texts(len(novel_ids))
            docs_path = self.path(f"docs_{b}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(novel_ids + planted_ids, pa.int64()),
                        "text": novel + [texts[s] for s in sources],
                    }
                ),
                docs_path,
            )
            texts.update(zip(novel_ids, novel))
            live |= set(novel_ids)
            retract = [int(x) for x in self.rng.choice(sorted(live), RETRACT, replace=False)]
            live -= set(retract)
            self.batches.append(
                {
                    "base": base,
                    "docs": docs_path,
                    "novel_below": base + DOC_BATCH - PLANTED,
                    "planted": dict(zip(planted_ids, sources)),
                    "retract": retract,
                }
            )
        # `live` above is the state after ALL generated batches; the run
        # may use fewer, so the ops rebuild it as they apply
        self.live = set(range(N_DOCS))

    # -- set-up ----------------------------------------------------

    def seed(self) -> None:
        self.mh = self.path("minhash")
        minhash_index_write(
            self.spark.read.parquet(self.path("docs.parquet")),
            self.mh,
            pb_buckets=INDEX_BUCKETS,
            db_buckets=INDEX_BUCKETS,
        )

    # -- one op ----------------------------------------------------

    def op(self, b: int) -> tuple[int, list[str]]:
        spark, span = self.spark, self.tracer.span
        batch = self.batches[b]

        t0 = time.perf_counter()
        docs = spark.read.parquet(batch["docs"])
        with span("minhash_index_probe"):
            pairs = (
                minhash_index_probe(spark, self.mh, docs)
                .filter((F.col("dup_source") == "history") & (F.col("est_jaccard") == 1.0))
                .select("new_id", "dup_id")
                .collect()
            )
        with span("minhash_index_append"):
            appended = minhash_index_append(
                docs.filter(F.col("doc_id") < batch["novel_below"]),
                self.mh,
                batch_id=f"docs{b}",
            )
        with span("minhash_index_delete"):
            deleted = minhash_index_delete(spark, self.mh, batch["retract"])
        self.step_s.append(time.perf_counter() - t0)

        failed = []
        found = {(r.new_id, r.dup_id) for r in pairs}
        missed = [p for p in batch["planted"].items() if p not in found]
        self.recall.append(1 - len(missed) / len(batch["planted"]))
        if missed:
            failed.append(f"batch{b}: {len(missed)} planted copies not found at est_jaccard 1.0")
        if appended != "delta":
            failed.append(f"batch{b}: doc append took route {appended!r}, not the delta buffer")
        if deleted["rows_deleted"] != RETRACT:
            failed.append(f"batch{b}: doc delete removed {deleted['rows_deleted']} of {RETRACT}")

        novel = range(batch["base"], batch["novel_below"])
        self.live = (self.live | set(novel)) - set(batch["retract"])
        self.retracted += batch["retract"]
        return len(novel), failed

    def maintain(self) -> list[str]:
        t0 = time.perf_counter()
        with self.tracer.span("minhash_index_fold_delta"):
            folded = minhash_index_fold_delta(self.spark, self.mh)
        self.maint_s = time.perf_counter() - t0
        if not folded.get("folded_rows"):
            return [f"fold_delta folded nothing: {folded}"]
        return []

    # -- end of run ------------------------------------------------

    def finish(self) -> list[str]:
        spark = self.spark
        docs = spark.read.parquet(os.path.join(self.mh, "docs")).select("doc_id")
        delta = os.path.join(self.mh, "delta", "docs")
        if os.path.isdir(delta) and any(f.endswith(".parquet") for f in os.listdir(delta)):
            docs = docs.unionByName(spark.read.parquet(delta).select("doc_id"))
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_id").isin(self.retracted).cast("int")).alias("gone"),
        ).collect()[0]
        failed = []
        if row.n != len(self.live):
            failed.append(f"minhash docs: {row.n} rows != {len(self.live)} live")
        if row.gone:
            failed.append(f"minhash docs: {row.gone} retracted ids still present")
        self.live_rows = len(self.live)
        return failed

    def stored_bytes(self) -> int:
        return dir_bytes(self.mh)

    def layer_ratios(self) -> dict[str, float]:
        if not self.recall:  # no op completed
            return {}
        return {
            "minhash_index_probe.planted_recall": float(np.mean(self.recall)),
            "dedup_step_s_p50": float(np.median(self.step_s)),
            "maint_s": self.maint_s,
        }
