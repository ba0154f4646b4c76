"""ingest_small: sequential ~500-row specimen fragments through
validate_fragment -> load_batch -> partition_pruned_upsert -> registry
commit (merge_local_subject_ids + SnapshotStore.write), against a
seeded local_subject_ids registry and a bucketed specimen table.

The data flow is the CLI's: `validate-fragment --out` stages the
validated fragment and its link-back rows as parquet, and
`load-batch --layout bucketed --approve` and the registry commit read
the staged files, so the identity resolution runs inside the validate
step only.

The fragment mix is the reference's upload cadence: about half the
rows link to registered subjects (re-sent samples that changed or did
not, new samples for known subjects, and samples whose subject is
claimed by another center, a center conflict), the rest mint new
subjects, some as 3-record chains that share new identifiers so the
within-batch connected components do real work. The generator keeps
the ground truth of every count the pipeline reports.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from idhub_spark.config import FragmentMapping
from idhub_spark.operators.local_ids import merge_local_subject_ids
from idhub_spark.operators.merge_into import (
    bucket_expr,
    partition_pruned_upsert,
    seed_bucketed_table,
)
from idhub_spark.pipelines.load_batch import load_batch
from idhub_spark.pipelines.validate_fragment import validate_fragment
from idhub_spark.snapshots import SnapshotStore
from perfbench.common import Workload, dir_bytes

N_SUBJECTS = 20_000  # registry ~30k rows (every other subject has two ids)
N_CENTERS = 12
N_BUCKETS = 16
SAMPLE_TYPES = ("blood", "dna", "serum", "tissue")

# rows of each kind in one fragment (500 rows)
MIX = {
    "link_update": 125,  # known sample, new sample_type -> updated
    "link_unchanged": 75,  # known sample re-sent as is -> unchanged
    "link_new_sample": 60,  # known subject, new sample -> inserted
    "conflict": 50,  # known subject claimed by another center
    "mint_single": 100,  # unseen identifier -> one minted GSID each
}
N_CHAINS = 30  # 3-record components over 3 new identifiers
FRAGMENT_ROWS = sum(MIX.values()) + 3 * N_CHAINS

MAPPING = FragmentMapping(
    table_name="specimen",
    field_mapping={"sample_id": "SampleID", "sample_type": "Material", "year_collected": "Year"},
    static_fields={"sample_available": True},
    subject_id_candidates={"consortium_id": "consortium_id", "niddk_no": "niddk_no"},
    center_id_field="center",
)

_CROCKFORD = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"


def _gsid(i: int) -> str:
    digits = []
    for _ in range(16):
        i, r = divmod(i, 32)
        digits.append(_CROCKFORD[r])
    return "GSID-" + "".join(reversed(digits))


def _consortium(i: int) -> str:
    return f"IBD{i:07d}"


def _niddk(i: int) -> str | None:
    return f"ND{i:07d}" if i % 2 == 0 else None


def _center(i: int) -> int:
    return 1 + i % N_CENTERS


def _sample(i: int) -> tuple:
    return (f"S{i:07d}", SAMPLE_TYPES[i % 4], 2000 + i % 20)


class IngestSmall(Workload):
    name = "ingest_small"
    op_span = "ingest_batch"

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, tracer)
        self.rng = np.random.default_rng(seed)
        self.order = self.rng.permutation(N_SUBJECTS)  # known subjects, each used once
        self.next_subject = 0
        self.registry_rows = sum(1 + (_niddk(i) is not None) for i in range(N_SUBJECTS))
        self.specimen_rows = N_SUBJECTS
        self.minted_samples: dict[str, str] = {}  # sample id -> component key, loaded so far
        self.fragments: list[tuple[str, dict]] = []
        self.upserts: list = []

    # -- inputs ----------------------------------------------------

    def generate(self, n_batches: int) -> None:
        """Seed files for the registry and specimen table, plus the
        fragments the run may use."""
        ids = np.arange(N_SUBJECTS)
        niddk = [i for i in range(N_SUBJECTS) if _niddk(i)]
        reg = pa.table(
            {
                "center_id": pa.array(
                    [_center(i) for i in ids] + [_center(i) for i in niddk], pa.int32()
                ),
                "local_subject_id": [_consortium(i) for i in ids] + [_niddk(i) for i in niddk],
                "identifier_type": ["consortium_id"] * len(ids) + ["niddk_no"] * len(niddk),
                "global_subject_id": [_gsid(i) for i in ids] + [_gsid(i) for i in niddk],
            }
        )
        samples = [_sample(i) for i in ids]
        spec = pa.table(
            {
                "sample_id": [s[0] for s in samples],
                "global_subject_id": [_gsid(i) for i in ids],
                "sample_type": [s[1] for s in samples],
                "sample_available": [True] * len(ids),
                "year_collected": pa.array([s[2] for s in samples], pa.int32()),
            }
        )
        pq.write_table(reg, self.path("registry_seed.parquet"))
        pq.write_table(spec, self.path("specimen_seed.parquet"))
        self.fragments = [self._fragment(b) for b in range(n_batches)]

    def _take_subjects(self, n: int) -> list[int]:
        out = self.order[self.next_subject : self.next_subject + n]
        self.next_subject += n
        return [int(i) for i in out]

    def _fragment(self, b: int) -> tuple[str, dict]:
        rows = []  # (SampleID, Material, Year, consortium_id, niddk_no, center)
        minted = {}  # sample id -> component key

        def known(i, sample, material, year, center, both_ids=True):
            cid = _consortium(i)
            if self.rng.random() < 0.25:
                cid = cid.lower()  # identifiers match case-insensitively
            rows.append((sample, material, year, cid, _niddk(i) if both_ids else None, center))

        for i in self._take_subjects(MIX["link_update"]):
            sid, typ, year = _sample(i)
            new_typ = SAMPLE_TYPES[(SAMPLE_TYPES.index(typ) + 1) % 4]
            known(i, sid, new_typ, year, _center(i))
        for i in self._take_subjects(MIX["link_unchanged"]):
            sid, typ, year = _sample(i)
            known(i, sid, typ, year, _center(i))
        for j, i in enumerate(self._take_subjects(MIX["link_new_sample"])):
            known(i, f"L{b}_{j}", "dna", 2024, _center(i))
        for j, i in enumerate(self._take_subjects(MIX["conflict"])):
            other = _center(i) % N_CENTERS + 1
            known(i, f"X{b}_{j}", "serum", 2024, other, both_ids=False)
        for j in range(MIX["mint_single"]):
            sid = f"MS{b}_{j}"
            rows.append((sid, "blood", 2024, f"NEW{b}_{j}", None, 1 + j % N_CENTERS))
            minted[sid] = sid
        for c in range(N_CHAINS):
            # r1 {A}, r2 {A, B}, r3 {C, B}: one component over three new ids
            a, bb, cc = f"CA{b}_{c}", f"CB{b}_{c}", f"CC{b}_{c}"
            center = 1 + c % N_CENTERS
            for k, (cons, nid) in enumerate(((a, None), (a, bb), (cc, bb))):
                sid = f"MC{b}_{c}_{k}"
                rows.append((sid, "dna", 2024, cons, nid, center))
                minted[sid] = f"chain{b}_{c}"
        order = self.rng.permutation(len(rows))
        rows = [rows[k] for k in order]
        cols = list(zip(*rows))
        table = pa.table(
            {
                "SampleID": list(cols[0]),
                "Material": list(cols[1]),
                "Year": pa.array(cols[2], pa.int32()),
                "consortium_id": list(cols[3]),
                "niddk_no": pa.array(cols[4], pa.string()),
                "center": pa.array(cols[5], pa.int32()),
            }
        )
        path = self.path(f"fragment_{b}.parquet")
        pq.write_table(table, path)
        inserted = MIX["link_new_sample"] + MIX["conflict"] + len(minted)
        truth = {
            "minted": minted,
            "report": {
                "rows": FRAGMENT_ROWS,
                "gsids_created": len(minted),
                "gsids_linked": FRAGMENT_ROWS - len(minted),
                "requires_review": 0,
                "conflicts": MIX["conflict"],
            },
            "bookkeeping": {
                "rows_attempted": FRAGMENT_ROWS,
                "rows_inserted": inserted,
                "rows_updated": MIX["link_update"],
                "rows_unchanged": MIX["link_unchanged"],
            },
            "registry_new_rows": MIX["mint_single"] + 3 * N_CHAINS,
        }
        return path, truth

    # -- set-up ----------------------------------------------------

    def seed(self) -> None:
        spark = self.spark
        self.store = SnapshotStore(self.path("registry"))
        self.store.write(spark.read.parquet(self.path("registry_seed.parquet")), note="seed")
        self.specimen_root = self.path("specimen")
        seed_bucketed_table(
            spark.read.parquet(self.path("specimen_seed.parquet")),
            self.specimen_root,
            ["sample_id"],
            n_buckets=N_BUCKETS,
        )

    # -- one op ----------------------------------------------------

    def op(self, b: int) -> tuple[int, list[str]]:
        """Fragment b through the whole pipeline; returns (rows loaded,
        failed checks)."""
        spark, span = self.spark, self.tracer.span
        path, truth = self.fragments[b]
        batch_id = f"batch{b}"
        staged = self.path("staging", batch_id)
        fragment = spark.read.parquet(path)
        registry = self.store.read(spark)
        with span("validate_fragment"):
            res = validate_fragment(
                spark,
                fragment,
                MAPPING,
                registry=registry.withColumn("created_at", F.lit(None).cast("timestamp")),
                existing_ids=registry,
                batch_id=batch_id,
            )
        with span("validate_fragment.stage"):
            res.mapped.write.parquet(os.path.join(staged, "specimen"))
            res.local_id_records.write.parquet(os.path.join(staged, "local_subject_ids"))
        mapped = spark.read.parquet(os.path.join(staged, "specimen"))
        with span("load_batch"):
            # prune classification to the fragment's buckets, as the
            # bucketed load CLI does
            buckets = [
                r[0]
                for r in mapped.select(bucket_expr(["sample_id"], N_BUCKETS).alias("_b"))
                .distinct()
                .collect()
            ]
            current = (
                spark.read.parquet(self.specimen_root)
                .filter(F.col("_bucket").isin(buckets))
                .drop("_bucket")
            )
            loaded = load_batch(
                mapped, current, table_name="specimen", batch_id=batch_id, report=res.report
            )
        with span("load_batch.bookkeeping"):
            book = loaded.bookkeeping.collect()[0].asDict()
        with span("partition_pruned_upsert"):
            stats = partition_pruned_upsert(
                spark, self.specimen_root, loaded.incoming, ["sample_id"], n_buckets=N_BUCKETS
            )
        with span("SnapshotStore.write"):
            link_back = spark.read.parquet(os.path.join(staged, "local_subject_ids"))
            self.store.write(merge_local_subject_ids(link_back, registry).merged, note=batch_id)

        failed = [
            f"{batch_id} report.{k}: {res.report.get(k)} != {v}"
            for k, v in truth["report"].items()
            if res.report.get(k) != v
        ]
        failed += [
            f"{batch_id} bookkeeping.{k}: {book.get(k)} != {v}"
            for k, v in truth["bookkeeping"].items()
            if book.get(k) != v
        ]
        if stats.n_buckets_total != N_BUCKETS or stats.rows_deleted != 0:
            failed.append(f"{batch_id} upsert stats {stats}")
        self.minted_samples.update(truth["minted"])
        self.registry_rows += truth["registry_new_rows"]
        self.specimen_rows += truth["bookkeeping"]["rows_inserted"]
        self.upserts.append(stats)
        return FRAGMENT_ROWS, failed

    # -- end of run ------------------------------------------------

    def finish(self) -> list[str]:
        spark = self.spark
        specimen = spark.read.parquet(self.specimen_root)
        failed = []
        n_spec = specimen.count()
        if n_spec != self.specimen_rows:
            failed.append(f"specimen rows {n_spec} != {self.specimen_rows}")
        n_reg = self.store.read(spark).count()
        if n_reg != self.registry_rows:
            failed.append(f"registry rows {n_reg} != {self.registry_rows}")
        # every component minted exactly one GSID, distinct across components
        minted = (
            specimen.filter(F.col("sample_id").startswith("M"))
            .select("sample_id", "global_subject_id")
            .collect()
        )
        by_component: dict[str, set] = {}
        for r in minted:
            by_component.setdefault(self.minted_samples.get(r.sample_id), set()).add(
                r.global_subject_id
            )
        n_components = len(set(self.minted_samples.values()))
        gsids = [g for s in by_component.values() for g in s]
        if (
            len(minted) != len(self.minted_samples)
            or len(by_component) != n_components
            or len(gsids) != n_components
            or len(set(gsids)) != n_components
        ):
            failed.append(
                f"minted GSIDs: {len(minted)} samples, {len(set(gsids))} GSIDs "
                f"for {n_components} components"
            )
        self.live_rows = n_spec + n_reg
        return failed

    def stored_bytes(self) -> int:
        current = self.store.versions()[-1]["path"]
        return dir_bytes(self.specimen_root) + dir_bytes(os.path.join(self.store.root, current))

    def layer_ratios(self) -> dict[str, float]:
        n = max(len(self.upserts), 1)
        return {
            "partition_pruned_upsert.rewrite_amplification": sum(
                s.rows_rewritten for s in self.upserts
            )
            / (FRAGMENT_ROWS * n),
            "partition_pruned_upsert.buckets_rewritten_ratio": sum(
                s.n_buckets_rewritten / s.n_buckets_total for s in self.upserts
            )
            / n,
        }
