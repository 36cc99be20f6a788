"""Filing-transform stage (X1/S5/A1/J1/J3/P7-P11/L2/F4-F13).

Reference behavior (``/root/reference/src/transform.py``): pick one
filing per company (type '130' amended beats '120'), parse each filing
(UTF-16 TSV or XBRL) into (context, value, unit) rows, decode relative
years against the fiscal year, skip bad casts/unknown contexts, enrich
with the company dimension, emit
``[year, companyname, industryclassification, geonameen, revenue,
revenue_unit]``.

Spark-first shape: one Catalyst plan covers all files at once with
ONE Python island.  The A1 dedup is a window over ``company_code`` (the
plan's only hash shuffle).  Both formats then parse in a single
``mapInPandas`` pass (:func:`parse_filings`): each file sits whole in
one call, so the per-file rules — CSV row-1 mask (P7), DEI rows (P8),
head-5 (L2), the XBRL marker scan — run next to the decode instead of
as per-file window shuffles.  The CSV fiscal-year cast, the year decode
(a literal ``map`` lookup), cast-skip and the broadcast dimension join
stay declarative.
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# J3: relative-year decode (src/transform.py:171-177).
YEAR_OFFSETS = {
    "CurrentYearDuration": 0,
    "Prior1YearDuration": -1,
    "Prior2YearDuration": -2,
    "Prior3YearDuration": -3,
    "Prior4YearDuration": -4,
}

# CSV DEI element carrying the fiscal year end (src/transform.py:99-102).
_DEI_FISCAL = "jpdei_cor:CurrentFiscalYearEndDateDEI"

# Parse-island output: one row per revenue fact.  XBRL rows carry the
# fiscal year; CSV rows carry the file's DEI values instead, so the
# year is cast by Spark exactly as before (see parse_filings).
_PARSED_SCHEMA = (
    "filename string, arrival_idx long, context_ref string, value string, "
    "unit_ref string, fiscal_year int, dei_values array<string>"
)

_PARSED_COLS = [
    "filename",
    "arrival_idx",
    "context_ref",
    "value",
    "unit_ref",
    "fiscal_year",
    "dei_values",
]


def select_best_filings(filings: DataFrame) -> DataFrame:
    """A1 priority dedup (``src/transform.py:109-145``): one filing per
    company; any type-'130' filing beats non-130; among 130s the
    reference's ``company_files[code] = path`` overwrite means the
    *last-seen* 130 wins, while among non-130s the dict-insert guard
    means the *first-seen* wins.  Pinned with the explicit arrival
    index (SURVEY §2.11d)."""
    code = F.regexp_extract("filename", r"(E\d+)_\d+_(\d+)\.(csv|xbrl)", 1)
    dtype = F.regexp_extract("filename", r"(E\d+)_\d+_(\d+)\.(csv|xbrl)", 2)
    is_130 = (F.col("doc_type_f") == "130").cast("int")
    tie = F.when(F.col("doc_type_f") == "130", -F.col("arrival_idx")).otherwise(
        F.col("arrival_idx")
    )
    w = Window.partitionBy("company_code").orderBy(F.desc(is_130), F.asc(tie))
    return (
        filings.withColumn("company_code", code)
        .withColumn("doc_type_f", dtype)
        .filter(F.col("company_code") != "")  # non-matching names dropped (:127-128)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "doc_type_f")
    )


def csv_facts(member_bytes: bytes) -> tuple[list, list] | None:
    """S5/P7/P8/L2 for one UTF-16 tab-separated filing: returns
    (facts, DEI values) or ``None`` when it does not parse.

    - revenue mask = ``要素ID`` at positional row 1 (pandas
      ``df.loc[1]``, ``src/transform.py:94``); fewer than 2 rows → no
      mask, no facts;
    - facts = the first 5 rows carrying the mask, in file order
      (``:98``), as (context_ref, value, unit_ref);
    - DEI values = the ``値`` of every fiscal-year DEI row (``:99-102``),
      left as strings for the caller's year cast."""
    try:
        df = pd.read_csv(io.BytesIO(member_bytes), sep="\t", encoding="utf-16")
    except Exception:  # noqa: BLE001 — unparseable filing → skip
        return None

    def cell(vals: dict, col: str) -> str | None:
        v = vals.get(col)
        return None if pd.isna(v) else str(v)

    rows = []
    for row in df.itertuples(index=False):
        vals = dict(zip(df.columns, row))
        rows.append(
            (
                str(vals.get("要素ID", "")),
                str(vals.get("コンテキストID", "")),
                cell(vals, "値"),
                cell(vals, "ユニットID"),
            )
        )
    mask = rows[1][0] if len(rows) > 1 else None
    facts = [r[1:] for r in rows if r[0] == mask][:5]
    dei = [r[2] for r in rows if r[0] == _DEI_FISCAL]
    return facts, dei


def xbrl_facts(member_bytes: bytes) -> tuple[list, int] | None:
    """X1 for one XBRL instance (``src/transform.py:11-74``): returns
    (facts, fiscal year) or ``None`` when it does not parse or has no
    fiscal year.  Fiscal year from the first parseable
    ``CurrentPeriodEndDateDEI``; facts = the 5 elements after the first
    ``NumberOfSubmissionDEI`` marker that carry a contextRef and text;
    ``unitRef`` defaults to 'JPY' (F13).

    Fixes the reference's unbound-``fiscal_year`` bug (SURVEY §2.11a):
    a file with no parseable fiscal date emits nothing instead of
    raising NameError."""
    try:
        root = ET.fromstring(member_bytes)
    except Exception:  # noqa: BLE001 — malformed XML → skip
        return None
    elements = list(root.iter())
    fiscal_year = None
    for elem in elements:
        if elem.tag.endswith("CurrentPeriodEndDateDEI") and elem.text:
            try:
                fiscal_year = pd.to_datetime(elem.text).year
                break
            except Exception:  # noqa: BLE001 — keep scanning
                continue
    if fiscal_year is None:
        return None
    facts = []
    for i, elem in enumerate(elements):
        if "NumberOfSubmissionDEI" in elem.tag:
            for rev in elements[i + 1 : i + 6]:
                ctx = rev.get("contextRef")
                if ctx and rev.text:
                    facts.append((ctx, rev.text, rev.get("unitRef", "JPY")))
            break
    return facts, fiscal_year


def parse_filings(filings: DataFrame) -> DataFrame:
    """P12 format dispatch in ONE ``mapInPandas`` island: every filing
    sits whole in one call, so the per-file rules (CSV row-1 mask, DEI
    rows, head-5; the XBRL marker scan) run in Python next to the
    decode, with no per-file window shuffle and no union of branches.

    Output: (filename, arrival_idx, context_ref, value, unit_ref,
    fiscal_year).  The CSV fiscal year stays Spark's
    ``max(year(to_date(value)))`` over the DEI rows — the island ships
    the raw DEI strings and ``array_max(transform(...))`` casts them, so
    the date-cast semantics are the engine's, not Python's.  Files with
    no fiscal year emit nothing."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.file_type == "csv":
                    parsed = csv_facts(r.member_bytes)
                    if parsed is None:
                        continue
                    facts, dei = parsed
                    tail = (None, dei)
                elif r.file_type == "xbrl":
                    parsed = xbrl_facts(r.member_bytes)
                    if parsed is None:
                        continue
                    facts, fiscal_year = parsed
                    tail = (fiscal_year, None)
                else:
                    continue
                rows.extend((r.filename, r.arrival_idx) + f + tail for f in facts)
            yield pd.DataFrame(rows, columns=_PARSED_COLS)

    csv_year = F.array_max(
        F.transform("dei_values", lambda v: F.year(F.to_date(v)))
    )
    return (
        filings.select("filename", "arrival_idx", "file_type", "member_bytes")
        .mapInPandas(parse, schema=_PARSED_SCHEMA)
        .withColumn("fiscal_year", F.coalesce("fiscal_year", csv_year))
        .filter(F.col("fiscal_year").isNotNull())  # no DEI row → skip file
        .drop("dei_values")
    )


def parse_filing_xbrl(filings: DataFrame) -> DataFrame:
    """The XBRL half of :func:`parse_filings` (X1, see
    :func:`xbrl_facts`)."""
    return parse_filings(filings.filter(F.col("file_type") == "xbrl"))


def decode_and_enrich(facts: DataFrame, companies: DataFrame) -> DataFrame:
    """J3+P11 year decode, P10 cast-skip, F13 unit default, J1
    broadcast company join, final schema (``src/transform.py:187-213``).

    The 5-key year map is a literal ``map`` lookup — unknown contexts
    get a null offset and drop out, exactly like the reference's
    ``year_mapping.get(...) is None: continue``."""
    offsets = F.create_map(
        *[F.lit(x) for kv in YEAR_OFFSETS.items() for x in kv]
    )
    dim = companies.select(
        F.col("EDINET Code").alias("company_code"),
        F.col("Submitter Name（alphabetic）").alias("companyname"),
        F.col("Submitter's industry").alias("industryclassification"),
    )
    code = F.split(F.col("filename"), "_")[0]  # F5 (src/transform.py:161)
    return (
        facts.withColumn("company_code", code)
        .withColumn("year_offset", offsets[F.col("context_ref")])  # J3
        .filter(F.col("year_offset").isNotNull())  # P11
        .withColumn("revenue", F.col("value").try_cast("long"))  # F10
        .filter(F.col("revenue").isNotNull())  # P10
        .join(F.broadcast(dim), "company_code", "inner")  # J1 + P9
        .select(
            (F.col("fiscal_year") + F.col("year_offset")).alias("year"),  # F11
            "companyname",
            "industryclassification",
            F.lit("Japan").alias("geonameen"),  # F12
            "revenue",
            F.coalesce(F.col("unit_ref"), F.lit("JPY")).alias("revenue_unit"),  # F13
        )
    )


def process_financial_documents(filings: DataFrame, companies: DataFrame) -> DataFrame:
    """The reference's ``process_financial_documents`` as one lazy
    plan: A1 best-filing dedup → parse island → decode → enrich."""
    return decode_and_enrich(parse_filings(select_best_filings(filings)), companies)
