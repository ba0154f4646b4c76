"""Paginated REST source adapter (S1/S2/S5/S8) with retry/backoff.

Re-expresses the reference's REDCap/LabKey/NocoDB clients
(redcap-pipeline/services/redcap_client.py:73-170 — offset/limit
pagination, 5 retries, exponential backoff with timeout escalation;
nocodb_client.py:80-107; labkey_client.py:23-81) as one generic
adapter: a `fetch_page(offset, limit) -> list[dict]` callable is
paged on the driver and the accumulated records become a DataFrame.

Driver-side by design: these APIs are rate-limited, paginated,
auth-bound services — the parallelism that matters happens after
`to_dataframe`, where Spark fans the records out. For sources that
can shard (e.g. LabKey by sample_id ranges), pass several RestSources
and union the frames.

No HTTP library is imported here; the caller injects the transport
(tests inject fakes; production injects e.g. a requests session).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from idhub_spark.session import records_frame


def fetch_with_retry(
    fn: Callable[[], object],
    *,
    retries: int = 5,
    base_delay: float = 1.0,
    backoff: float = 2.0,
    sleep=time.sleep,
):
    """Exponential-backoff retry (redcap_client.py:53-170 semantics:
    5 attempts, delay doubling; timeout escalation is the transport's
    concern)."""
    last: Exception | None = None
    for attempt in range(retries):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - transport errors are opaque here
            last = e
            if attempt < retries - 1:
                sleep(base_delay * (backoff**attempt))
    raise last  # type: ignore[misc]


# REDCap data-dictionary columns (content=metadata response,
# redcap_client.py:189-204; the standard REDCap dictionary export)
REDCAP_METADATA_SCHEMA = (
    "field_name string, form_name string, field_type string, "
    "field_label string, select_choices_or_calculations string, "
    "text_validation_type_or_show_slider_number string, "
    "required_field string, identifier string"
)
_METADATA_FIELDS = [c.split()[0] for c in REDCAP_METADATA_SCHEMA.split(", ")]


def redcap_metadata(
    spark: SparkSession,
    fetch_dictionary: Callable[[], list[dict]],
    *,
    sleep=time.sleep,
):
    """S2: the REDCap data dictionary as a DataFrame
    (redcap-pipeline/services/redcap_client.py:189-204, content=
    'metadata'). The dictionary is one small unpaginated payload, so
    this is a driver-side fetch (same retry contract as the record
    scan) that becomes a broadcast-sized dimension frame; join it
    against mapping configs to validate source fields before a load.
    """
    records = fetch_with_retry(fetch_dictionary, sleep=sleep)
    rows = [{k: (r.get(k) if r.get(k) != "" else None) for k in _METADATA_FIELDS} for r in records]
    return records_frame(spark, rows, REDCAP_METADATA_SCHEMA)


class RestSource:
    """Offset/limit-paginated scan -> DataFrame."""

    def __init__(
        self,
        fetch_page: Callable[[int, int], list[dict]],
        *,
        page_size: int = 100,
        retries: int = 5,
        max_consecutive_failures: int = 3,
        sleep=time.sleep,
    ):
        self.fetch_page = fetch_page
        self.page_size = page_size
        self.retries = retries
        self.max_consecutive_failures = max_consecutive_failures
        self.sleep = sleep
        self.last_offset = 0  # checkpoint for partial-success resume
        self.partial = False

    def pages(self, start_offset: int = 0) -> Iterator[list[dict]]:
        """Retries the SAME offset on failure — never advances past a
        page it has not fetched, so no records are silently dropped
        (pipeline.py:44-101 retries the same offset). After
        max_consecutive_failures rounds of retries on one page it stops
        with partial=True and last_offset pointing AT the failed page,
        so a resume from last_offset re-attempts exactly the missing
        data — the reference's partial-success resume contract."""
        offset = start_offset
        failures = 0
        # a new run (e.g. a resume from last_offset) starts clean:
        # partial reflects THIS run's outcome, not a previous one's
        self.partial = False
        while True:
            try:
                page = fetch_with_retry(
                    lambda: self.fetch_page(offset, self.page_size),
                    retries=self.retries,
                    sleep=self.sleep,
                )
                failures = 0
            except Exception:
                failures += 1
                if failures >= self.max_consecutive_failures:
                    self.partial = True
                    self.last_offset = offset
                    return
                # re-fetch the same offset; do NOT advance (that would
                # silently drop this page's records)
                continue
            if not page:
                self.last_offset = offset
                return
            yield page
            offset += len(page)

    def to_dataframe(
        self,
        spark: SparkSession,
        schema: StructType | str,
        *,
        start_offset: int = 0,
    ) -> DataFrame:
        records: list[dict] = []
        for page in self.pages(start_offset):
            records.extend(page)
        return records_frame(spark, records, schema)
