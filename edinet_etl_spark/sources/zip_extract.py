"""ZIP member extraction (S4/X2/A2 in SURVEY.md §2).

Reference behavior (``/root/reference/src/utils/helper.py:35-101``):
save the ZIP to a temp dir, extract all members, ``rglob`` for the
target extension, keep the *largest* match, rename it to
``{edinetCode}_{yyyyMMdd}_{docTypeCode}{ext}``, clean up.  Corrupt
ZIPs and no-match ZIPs are logged and skipped.

Spark-first shape: no filesystem and no shuffle.  Each ZIP sits whole
in one row, so the per-row rule — extension filter, A2 largest-wins,
F7/F8 filename — is plain Python (:func:`best_member`,
:func:`filing_name`, :func:`filing_row`) applied inside whatever
``mapInPandas`` pass already holds the bytes: the download island on
the HTTP path (``edinet_api.download_documents``), or the one island of
:func:`extract_filings` on the binary-lake path.  Only the chosen
member's bytes leave the island.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FILING_SCHEMA = (
    "docID string, edinetCode string, docTypeCode string, "
    "submitDateTime string, file_type string, arrival_idx long, "
    "filename string, member_bytes binary"
)

_META = ["docID", "edinetCode", "docTypeCode", "submitDateTime", "file_type", "arrival_idx"]

FILING_COLS = _META + ["filename", "member_bytes"]


def best_member(content: bytes, file_type: str | None) -> bytes | None:
    """A2: bytes of the largest member with the target extension
    (``.csv`` for csv, ``.xbrl`` otherwise); equal sizes tie-break on
    the greater member name, so input order never decides (the
    reference's ``max()`` inherits Path ordering on ties — we pin it,
    SURVEY §2.11d).  ``None`` for a corrupt ZIP or one with no match —
    the reference's log-and-skip paths (``src/utils/helper.py:64-67``)."""
    ext = ".csv" if file_type == "csv" else ".xbrl"
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        matches = [
            i for i in zf.infolist() if not i.is_dir() and i.filename.endswith(ext)
        ]
        if not matches:
            return None
        return zf.read(max(matches, key=lambda i: (i.file_size, i.filename)))
    except Exception:  # noqa: BLE001 — corrupt zip → skip doc
        return None


def filing_name(
    edinet_code: str | None,
    submit_date_time: str | None,
    doc_type_code: str | None,
    file_type: str | None,
) -> str | None:
    """F7/F8 (``src/utils/helper.py:82-85``): ``{code}_{yyyyMMdd}_{type}.{ext}``
    with the date part of ``submitDateTime`` de-hyphenated.  Null parts
    are skipped like Spark's ``concat_ws``; a null extension nulls the
    whole name like ``concat``."""
    if file_type is None:
        return None
    date = None
    if submit_date_time is not None:
        date = submit_date_time.split(" ", 1)[0].replace("-", "")
    stem = "_".join(p for p in (edinet_code, date, doc_type_code) if p is not None)
    return f"{stem}.{file_type}"


def filing_row(meta, content: bytes) -> tuple | None:
    """One downloaded ZIP → one filing tuple in :data:`FILING_COLS`
    order, or ``None`` when no member qualifies.  ``meta`` is any row
    object carrying the ``_META`` attributes."""
    member = best_member(content, meta.file_type)
    if member is None:
        return None
    name = filing_name(meta.edinetCode, meta.submitDateTime, meta.docTypeCode, meta.file_type)
    return tuple(getattr(meta, c) for c in _META) + (name, member)


def extract_filings(downloads: DataFrame) -> DataFrame:
    """Full S4 stage over ``(_META, content)`` rows in one island:
    pick the target member, build the canonical filename."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = (filing_row(r, r.content) for r in pdf.itertuples(index=False))
            yield pd.DataFrame([r for r in rows if r is not None], columns=FILING_COLS)

    return downloads.mapInPandas(extract, schema=FILING_SCHEMA)
