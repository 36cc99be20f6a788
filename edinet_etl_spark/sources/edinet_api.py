"""EDINET REST source (S2/S3/F2/P6/P13/J2 in SURVEY.md §2).

Reference behavior (``/root/reference/src/extract.py``):
- one metadata-list GET per day of the date range (``:72-127``),
  globally rate-limited to ``request_per_second`` (``:16-20``);
- retry with exponential backoff × jitter; after ``max_retries`` the
  failure is *swallowed* — that date/doc contributes no rows
  (``:121-141``, ``:211-231``);
- docs filtered to target companies (semi-join) and doc types
  (``:149-162``);
- per-doc download dispatched by csvFlag/xbrlFlag (``:173-186``).

Spark-first shape: the date range is a DataFrame
(``explode(sequence(...))`` — F2), HTTP happens inside two
``mapInPandas`` islands — the list fetch, and the download that also
unzips and picks the filing member (the only executor-boundary
crossings, SURVEY §3) — and everything around them — JSON decoding,
semi-join, flag dispatch, limit — is declarative so Catalyst can
optimize it.

The HTTP client is injected (``Fetcher``) so tests run entirely
offline against recorded fixtures; ``HttpFetcher`` (stdlib urllib) is
the live implementation.  Rate limiting is per-partition: the global
budget R req/s is divided by the number of fetch partitions, matching
the reference's single *global* limiter semantics when summed.
"""

from __future__ import annotations

import json
import random
import time
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edinet_etl_spark.sources import zip_extract

# Metadata fields consumed downstream (src/extract.py:158,173-186;
# src/utils/helper.py:82-85).  Booleans are the API's string flags.
DOC_META_SCHEMA = T.StructType(
    [
        T.StructField("docID", T.StringType()),
        T.StructField("edinetCode", T.StringType()),
        T.StructField("docTypeCode", T.StringType()),
        T.StructField("csvFlag", T.StringType()),
        T.StructField("xbrlFlag", T.StringType()),
        T.StructField("submitDateTime", T.StringType()),
    ]
)

LIST_RESPONSE_SCHEMA = T.StructType(
    [T.StructField("results", T.ArrayType(DOC_META_SCHEMA))]
)


class Fetcher:
    """Pluggable HTTP boundary.  Implementations must be picklable —
    instances are shipped to executors inside the fetch UDFs."""

    def fetch_list(self, date_str: str) -> bytes:
        """GET documents.json?date=...&type=2 → raw JSON bytes."""
        raise NotImplementedError

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        """GET documents/{docID}?type={1|5} → raw ZIP bytes."""
        raise NotImplementedError


class HttpFetcher(Fetcher):
    """Live client against the EDINET API (stdlib only; the reference
    uses requests + requests-ratelimiter, ``src/extract.py:7-20``)."""

    def __init__(self, base_url: str, api_key: str, timeout: float = 30.0):
        self.base_url = base_url.rstrip("/")
        self.api_key = api_key
        self.timeout = timeout

    def _get(self, url: str) -> bytes:
        import urllib.request

        # urlopen raises HTTPError (an OSError) for any 4xx/5xx before
        # returning, so no status check is needed here — the retry
        # wrapper catches it like any other transient failure
        with urllib.request.urlopen(url, timeout=self.timeout) as resp:
            return resp.read()

    def fetch_list(self, date_str: str) -> bytes:
        return self._get(
            f"{self.base_url}/documents.json?date={date_str}&type=2"
            f"&Subscription-Key={self.api_key}"
        )

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        return self._get(
            f"{self.base_url}/documents/{doc_id}?type={file_type}"
            f"&Subscription-Key={self.api_key}"
        )


@dataclass
class RetryPolicy:
    """Mirrors config/settings.env: MAX_RETRIES=3, RETRY_DELAY=1.0,
    REQUEST_PER_SECOND=10 (global)."""

    max_retries: int = 3
    retry_delay: float = 1.0
    requests_per_second: float = 10.0
    # jitter scale differs between the reference's two retry blocks:
    # 0.1+rand() for listing (src/extract.py:133), 0.5+rand() for
    # downloads (:222).
    jitter_base: float = 0.1


class _PartitionLimiter:
    """Token-interval limiter: one per task, budget = global/partitions."""

    def __init__(self, per_second: float):
        self.min_interval = 1.0 / per_second if per_second > 0 else 0.0
        self._last = 0.0

    def wait(self) -> None:
        if self.min_interval <= 0:
            return
        now = time.monotonic()
        sleep_for = self._last + self.min_interval - now
        if sleep_for > 0:
            time.sleep(sleep_for)
        self._last = time.monotonic()


def _with_retries(fn, policy: RetryPolicy, limiter: _PartitionLimiter):
    """Reference retry loop (src/extract.py:122-141): exponential
    backoff × jitter; final failure returns None (missing rows, not
    job failure)."""
    for attempt in range(policy.max_retries + 1):
        try:
            limiter.wait()
            return fn()
        except Exception:  # noqa: BLE001 — any fetch error retries
            if attempt < policy.max_retries:
                wait = policy.retry_delay * (2**attempt)
                time.sleep(wait * (policy.jitter_base + random.random()))
    return None


def date_range(spark: SparkSession, start_date: str, end_date: str) -> DataFrame:
    """F2: the reference's day-step loop (``src/extract.py:107-111``)
    as ``explode(sequence(...))`` — column ``date_str`` 'yyyy-MM-dd'."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(start_date), "yyyy-MM-dd"),
                F.to_date(F.lit(end_date), "yyyy-MM-dd"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    ).select(F.date_format("d", "yyyy-MM-dd").alias("date_str"))


def list_documents(
    dates: DataFrame,
    fetcher: Fetcher,
    policy: RetryPolicy | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S2: per-date metadata fetch → one row per document.

    The fetch is a ``mapInPandas`` island emitting (date_str, raw
    JSON); JSON decoding is *declarative* (``from_json`` + explode) so
    the optimizer sees everything after the boundary.  Dates that fail
    all retries emit nothing — the reference's swallow-and-continue
    semantics."""
    policy = policy or RetryPolicy()
    per_partition_rate = policy.requests_per_second / max(num_partitions, 1)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = _PartitionLimiter(per_partition_rate)
        for pdf in batches:
            rows = []
            for date_str in pdf["date_str"]:
                raw = _with_retries(
                    lambda d=date_str: fetcher.fetch_list(d), policy, limiter
                )
                if raw is not None:
                    rows.append((date_str, raw.decode("utf-8")))
            yield pd.DataFrame(rows, columns=["date_str", "raw_json"])

    fetched = dates.repartition(num_partitions).mapInPandas(
        fetch, schema="date_str string, raw_json string"
    )
    return (
        fetched.select(
            "date_str",
            F.from_json("raw_json", LIST_RESPONSE_SCHEMA).alias("resp"),
        )
        .select("date_str", F.explode_outer("resp.results").alias("doc"))
        .filter(F.col("doc").isNotNull())
        .select("date_str", "doc.*")
    )


def filter_documents(
    docs: DataFrame, companies: DataFrame, doc_types: list[str]
) -> DataFrame:
    """P6/J2: keep docs whose edinetCode is a target company (left-semi
    against the broadcast master — the reference's hash-set membership,
    ``src/extract.py:149-162``) and whose docTypeCode is targeted.  The
    build side is not de-duplicated: a semi join emits each probe row
    at most once whatever the key multiplicity."""
    codes = companies.select(F.col("EDINET Code").alias("edinetCode"))
    return docs.join(F.broadcast(codes), "edinetCode", "left_semi").filter(
        F.col("docTypeCode").isin(doc_types)
    )


def dispatch_file_type(docs: DataFrame) -> DataFrame:
    """P13: csvFlag=='1' → API type '5'/ext csv; else xbrlFlag=='1' →
    type '1'/ext xbrl; else drop (``src/extract.py:176-184``)."""
    file_type = (
        F.when(F.col("csvFlag") == "1", F.lit("csv"))
        .when(F.col("xbrlFlag") == "1", F.lit("xbrl"))
        .otherwise(F.lit(None))
    )
    api_type = F.when(F.col("file_type") == "csv", "5").otherwise("1")
    return (
        docs.withColumn("file_type", file_type)
        .filter(F.col("file_type").isNotNull())
        .withColumn("api_type", api_type)
    )


def with_arrival_index(docs: DataFrame) -> DataFrame:
    """Pin the reference's load-bearing *arrival order* (list order =
    date order, then API result order ≈ docID) with an explicit index
    so `limit` and first-seen-wins dedup are deterministic
    (SURVEY §2.11d)."""
    from pyspark.sql import Window

    w = Window.orderBy("date_str", "docID")
    return docs.withColumn("arrival_idx", F.row_number().over(w))


def download_documents(
    docs: DataFrame,
    fetcher: Fetcher,
    companies_to_get: int | None = None,
    policy: RetryPolicy | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S3+S4: head-N in arrival order (L1, ``src/extract.py:204-205``),
    then one island that fetches each ZIP and keeps only its target
    member (A2) under the canonical filename (F7/F8), via the
    ``zip_extract`` row helpers.  Output: the filings shape
    ``zip_extract.FILING_SCHEMA`` (doc metadata + ``filename``,
    ``member_bytes``).  Failed downloads, corrupt ZIPs and ZIPs with no
    target member emit nothing (the reference swallows after retries
    and logs-and-skips bad archives).  Fetch and unzip share the pass,
    so a ZIP never crosses the Python/JVM boundary and no member
    selection shuffle is needed."""
    policy = policy or RetryPolicy(jitter_base=0.5)
    per_partition_rate = policy.requests_per_second / max(num_partitions, 1)

    docs = dispatch_file_type(with_arrival_index(docs))
    if companies_to_get is not None:
        docs = docs.orderBy("arrival_idx").limit(companies_to_get)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = _PartitionLimiter(per_partition_rate)
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                raw = _with_retries(
                    lambda r=row: fetcher.fetch_document(r.docID, r.api_type),
                    policy,
                    limiter,
                )
                filing = None if raw is None else zip_extract.filing_row(row, raw)
                if filing is not None:
                    rows.append(filing)
            yield pd.DataFrame(rows, columns=zip_extract.FILING_COLS)

    return docs.repartition(num_partitions).mapInPandas(
        fetch, schema=zip_extract.FILING_SCHEMA
    )
