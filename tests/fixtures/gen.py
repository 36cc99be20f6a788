"""Deterministic reference-parity fixtures (FIXTURES.md §B).

Builds, under a target directory: the cp932 company master (B1), the
per-date list-API JSON responses (B2), per-doc filing ZIPs whose
members are UTF-16 TSV filings (B3) or XBRL instances (B4), plus the
no-match and corrupt ZIP error cases (B5).  ``FixtureFetcher`` serves
them through the pipeline's injectable HTTP boundary, so the whole
EDINET ETL runs offline.  ``GOLDEN`` is the hand-computed expected
output (B6).
"""

from __future__ import annotations

import io
import json
import zipfile
from pathlib import Path

from edinet_etl_spark.sources.edinet_api import Fetcher

# ---------------------------------------------------------------- B1
_MASTER_HEADER = [
    "EDINET Code",
    "Type of Submitter",
    "Listed company / Unlisted company",
    "Consolidated / NonConsolidated",
    "Capital stock",
    "account closing date",
    "Submitter Name",
    "Submitter Name（alphabetic）",
    "Submitter Name（phonetic）",
    "Province",
    "Submitter's industry",
    "Securities Identification Code",
    "Submitter's Japan Corporate Number",
]

_MASTER_ROWS = [
    # survives all filters
    ["E00001", "内国法人・組合", "Listed company", "Consolidated", "1000", "3.31",
     "アルファ", "Alpha Corp", "あるふぁ", "Tokyo", "Manufacturing", "10010", "1"],
    # survives; has both a 120 and a 130 filing (A1)
    ["E00002", "内国法人・組合", "Listed company", "Consolidated", "2000", "3.31",
     "ベータ", "Beta Inc", "べーた", "Osaka", "Services", "10020", "2"],
    # unlisted → filtered (P2)
    ["E00003", "内国法人・組合", "Unlisted company", "Consolidated", "300", "3.31",
     "ガンマ", "Gamma KK", "がんま", "Kyoto", "Retail", "10030", "3"],
    # non-consolidated → filtered (P3)
    ["E00004", "内国法人・組合", "Listed company", "NonConsolidated", "400", "12.31",
     "デルタ", "Delta Ltd", "でるた", "Nagoya", "Chemicals", "10040", "4"],
    # null alphabetic name → filtered (P4)
    ["E00005", "内国法人・組合", "Listed company", "Consolidated", "500", "3.31",
     "イプシロン", "", "いぷしろん", "Fukuoka", "Foods", "10050", "5"],
    # survives; its docs exercise error paths
    ["E00006", "内国法人・組合", "Listed company", "Consolidated", "600", "3.31",
     "ゼータ", "Zeta KK", "ぜーた", "Sapporo", "Banks", "10060", "6"],
    # survives; its doc's zip has no matching member
    ["E00007", "内国法人・組合", "Listed company", "Consolidated", "700", "3.31",
     "エータ", "Eta Co", "えーた", "Sendai", "Glass", "10070", "7"],
]

# ---------------------------------------------------------------- B2
_DOCS = {
    "2024-06-01": [
        # main CSV filing for E00001
        {"docID": "D001", "edinetCode": "E00001", "docTypeCode": "120",
         "csvFlag": "1", "xbrlFlag": "1", "submitDateTime": "2024-06-01 09:00"},
        # XBRL filing for E00002 (csvFlag off → xbrl branch, P13)
        {"docID": "D002", "edinetCode": "E00002", "docTypeCode": "120",
         "csvFlag": "0", "xbrlFlag": "1", "submitDateTime": "2024-06-01 10:00"},
        # unknown company → semi-join drop (J2/P9)
        {"docID": "D004", "edinetCode": "E09999", "docTypeCode": "120",
         "csvFlag": "1", "xbrlFlag": "0", "submitDateTime": "2024-06-01 11:00"},
    ],
    "2024-06-02": [
        # amended (130) CSV filing for E00002 — beats D002 (A1)
        {"docID": "D003", "edinetCode": "E00002", "docTypeCode": "130",
         "csvFlag": "1", "xbrlFlag": "1", "submitDateTime": "2024-06-02 09:00"},
        # docType outside targets → filtered (P6)
        {"docID": "D005", "edinetCode": "E00006", "docTypeCode": "140",
         "csvFlag": "1", "xbrlFlag": "0", "submitDateTime": "2024-06-02 10:00"},
        # neither flag set → dropped at dispatch (P13)
        {"docID": "D006", "edinetCode": "E00006", "docTypeCode": "120",
         "csvFlag": "0", "xbrlFlag": "0", "submitDateTime": "2024-06-02 11:00"},
    ],
    "2024-06-03": [
        # zip contains no .csv member → warn + skip (B5)
        {"docID": "D007", "edinetCode": "E00007", "docTypeCode": "120",
         "csvFlag": "1", "xbrlFlag": "0", "submitDateTime": "2024-06-03 09:00"},
        # corrupt zip → error path skip (B5)
        {"docID": "D009", "edinetCode": "E00006", "docTypeCode": "120",
         "csvFlag": "1", "xbrlFlag": "0", "submitDateTime": "2024-06-03 10:00"},
    ],
    # a date with no filings at all
    "2024-06-04": [],
}

# ---------------------------------------------------------------- B3
def _filing_csv_bytes(rows: list[list[str | None]]) -> bytes:
    """UTF-16 tab-separated filing file (src/transform.py:91)."""
    header = ["要素ID", "コンテキストID", "値", "ユニットID"]
    lines = ["\t".join(header)]
    for r in rows:
        lines.append("\t".join("" if v is None else v for v in r))
    return "\n".join(lines).encode("utf-16")


# D001 (E00001): mask row at position 1; exercises P7/P8/L2/P10/P11/F13.
_D001_CSV = _filing_csv_bytes(
    [
        ["jpdei_cor:EDINETCodeDEI", "FilingDateInstant", "E00001", None],
        ["jpcrp_cor:Revenue", "CurrentYearDuration", "1000", "JPY"],   # mask
        ["jpcrp_cor:Revenue", "Prior1YearDuration", "900", "JPY"],
        ["jpcrp_cor:Revenue", "Prior2YearDuration", "800", None],      # F13 → JPY
        ["jpcrp_cor:Revenue", "Prior3YearDuration", "bad", "JPY"],     # P10 skip
        ["jpcrp_cor:Revenue", "UnknownDuration", "700", "JPY"],        # P11 skip
        ["jpcrp_cor:Revenue", "Prior4YearDuration", "600", "JPY"],     # L2: beyond head-5
        ["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant",
         "2024-03-31", None],
    ]
)

# D003 (E00002 amended): simple 2-row filing.
_D003_CSV = _filing_csv_bytes(
    [
        ["jpdei_cor:EDINETCodeDEI", "FilingDateInstant", "E00002", None],
        ["jpcrp_cor:Revenue", "CurrentYearDuration", "2000", "JPY"],   # mask
        ["jpcrp_cor:Revenue", "Prior1YearDuration", "1900", "JPY"],
        ["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant",
         "2024-03-31", None],
    ]
)

# ---------------------------------------------------------------- B4
_XBRL_NS = 'xmlns:jpdei_cor="http://example.invalid/jpdei_cor" xmlns:jpcrp_cor="http://example.invalid/jpcrp_cor"'

# D002 (E00002, type 120): valid, but A1 dedup must discard it in favor
# of D003.  Revenue 5555 must therefore NOT appear in the output.
XBRL_VALID = f"""<xbrl {_XBRL_NS}>
  <jpdei_cor:EDINETCodeDEI contextRef="FilingDateInstant">E00002</jpdei_cor:EDINETCodeDEI>
  <jpdei_cor:CurrentPeriodEndDateDEI contextRef="FilingDateInstant">2024-03-31</jpdei_cor:CurrentPeriodEndDateDEI>
  <jpdei_cor:NumberOfSubmissionDEI contextRef="FilingDateInstant">1</jpdei_cor:NumberOfSubmissionDEI>
  <jpcrp_cor:Revenue contextRef="CurrentYearDuration" unitRef="JPY">5555</jpcrp_cor:Revenue>
  <jpcrp_cor:Revenue contextRef="Prior1YearDuration" unitRef="JPY">4444</jpcrp_cor:Revenue>
  <jpcrp_cor:Revenue contextRef="Prior2YearDuration">3333</jpcrp_cor:Revenue>
  <jpcrp_cor:Revenue>2222</jpcrp_cor:Revenue>
  <jpcrp_cor:Revenue contextRef="Prior3YearDuration" unitRef="JPY">1111</jpcrp_cor:Revenue>
</xbrl>""".encode()

# B4 variant: missing CurrentPeriodEndDateDEI → whole file skipped
# (pins the fix for the reference's unbound-fiscal_year bug, §2.11a).
XBRL_NO_FISCAL = f"""<xbrl {_XBRL_NS}>
  <jpdei_cor:NumberOfSubmissionDEI contextRef="FilingDateInstant">1</jpdei_cor:NumberOfSubmissionDEI>
  <jpcrp_cor:Revenue contextRef="CurrentYearDuration" unitRef="JPY">9999</jpcrp_cor:Revenue>
</xbrl>""".encode()


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def build_all(root: str | Path) -> None:
    root = Path(root)
    (root / "api").mkdir(parents=True, exist_ok=True)
    (root / "zips").mkdir(parents=True, exist_ok=True)

    # B1: cp932 company master
    lines = [",".join(_MASTER_HEADER)]
    for row in _MASTER_ROWS:
        lines.append(",".join(v if v else "" for v in row))
    (root / "company_master.csv").write_bytes("\n".join(lines).encode("cp932"))

    # B2: list-API responses
    for date_str, results in _DOCS.items():
        payload = {"metadata": {"status": "200"}, "results": results}
        (root / "api" / f"{date_str}.json").write_bytes(
            json.dumps(payload).encode("utf-8")
        )

    # B3/B5: filing ZIPs (nested member paths exercise the rglob
    # semantics of src/utils/helper.py:71)
    zips = {
        "D001": _zip_bytes(
            {
                "XBRL_TO_CSV/jpcrp_main.csv": _D001_CSV,       # largest .csv wins (A2)
                "XBRL_TO_CSV/jpaud_small.csv": _filing_csv_bytes(
                    [["jpdei_cor:Other", "FilingDateInstant", "1", None]]
                ),
                "readme.txt": b"not a filing",
            }
        ),
        "D002": _zip_bytes({"XBRL/PublicDoc/jpcrp030000.xbrl": XBRL_VALID}),
        "D003": _zip_bytes({"XBRL_TO_CSV/jpcrp_main.csv": _D003_CSV}),
        "D007": _zip_bytes({"notes.txt": b"no csv here"}),     # no-match → skip
        "D009": b"PK\x03\x04corrupt-not-a-zip",                # corrupt → skip
    }
    for doc_id, data in zips.items():
        (root / "zips" / f"{doc_id}.zip").write_bytes(data)


# ---------------------------------------------------------------- B6
# Hand-computed golden rows: (year, companyname, industryclassification,
# geonameen, revenue, revenue_unit).
GOLDEN = sorted(
    [
        (2024, "Alpha Corp", "Manufacturing", "Japan", 1000, "JPY"),
        (2023, "Alpha Corp", "Manufacturing", "Japan", 900, "JPY"),
        (2022, "Alpha Corp", "Manufacturing", "Japan", 800, "JPY"),  # F13 default
        (2024, "Beta Inc", "Services", "Japan", 2000, "JPY"),
        (2023, "Beta Inc", "Services", "Japan", 1900, "JPY"),
    ]
)


class FixtureFetcher(Fetcher):
    """Serves the recorded fixtures; picklable (stores only the root
    path) so Spark can ship it to executor workers."""

    def __init__(self, root: str):
        self.root = str(root)

    def fetch_list(self, date_str: str) -> bytes:
        path = Path(self.root) / "api" / f"{date_str}.json"
        if not path.exists():
            raise OSError(f"no recorded response for {date_str}")
        return path.read_bytes()

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        path = Path(self.root) / "zips" / f"{doc_id}.zip"
        if not path.exists():
            raise OSError(f"no recorded zip for {doc_id}")
        return path.read_bytes()


class FlakyFetcher(FixtureFetcher):
    """Fails the first ``fail_times`` calls per key, then succeeds —
    exercises the retry loop's recover path; a key listed in
    ``always_fail`` never succeeds — exercises the swallow path."""

    def __init__(self, root: str, fail_times: int = 1, always_fail: tuple = ()):  # noqa: D401
        super().__init__(root)
        self.fail_times = fail_times
        self.always_fail = tuple(always_fail)
        self._counts: dict[str, int] = {}

    def _maybe_fail(self, key: str) -> None:
        if key in self.always_fail:
            raise OSError(f"permanent failure for {key}")
        n = self._counts.get(key, 0)
        self._counts[key] = n + 1
        if n < self.fail_times:
            raise OSError(f"transient failure #{n + 1} for {key}")

    def fetch_list(self, date_str: str) -> bytes:
        self._maybe_fail(f"list:{date_str}")
        return super().fetch_list(date_str)

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        self._maybe_fail(f"doc:{doc_id}")
        return super().fetch_document(doc_id, file_type)


class CountingFetcher(FixtureFetcher):
    """Serves the fixtures and appends one ``list:<date>`` or
    ``doc:<docID>`` line per call to ``log_path``.  Every worker process
    appends to the same file, so a test can count how often each fetch
    really ran across the whole job."""

    def __init__(self, root: str, log_path: str):
        super().__init__(root)
        self.log_path = str(log_path)

    def _log(self, key: str) -> None:
        with open(self.log_path, "a") as f:  # one short O_APPEND write
            f.write(key + "\n")

    def fetch_list(self, date_str: str) -> bytes:
        self._log(f"list:{date_str}")
        return super().fetch_list(date_str)

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        self._log(f"doc:{doc_id}")
        return super().fetch_document(doc_id, file_type)
