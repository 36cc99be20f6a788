"""Seeded synthetic EDINET API traffic for the ``etl_year`` workload.

``generate(seed, root)`` writes, under ``root``:

- ``company_master.csv``: the cp932 company master with the reference's
  13 columns (11,018 rows by default);
- ``api/<yyyy-mm-dd>.json``: one list-API response per day of the range;
- ``zips/<docID>.zip``: one download payload per document the pipeline
  can request, each holding a UTF-16 TSV filing (csv) or an XBRL
  instance, plus distractor members; a seeded share is corrupt or has
  no matching member.

and returns a ``Traffic`` record with the expected output table (the
golden), computed from the generated records by the reference's rules,
not by running the engine.  ``BenchFetcher`` serves the files through the
pipeline's injectable ``Fetcher`` boundary; it fails the first attempt
of a seeded share of keys (transient errors) and counts every call into
Spark accumulators, so counts add up across Python workers.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random
import zipfile
from dataclasses import dataclass, field

from edinet_etl_spark.sources.edinet_api import Fetcher

MASTER_HEADER = [
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

_SUBMITTER_TYPES = ["内国法人・組合", "内国法人・組合", "内国法人・組合", "外国法人・組合", "内国個人"]
_PROVINCES = ["東京都", "大阪府", "愛知県", "神奈川県", "福岡県", "北海道", "京都府", "兵庫県"]
_INDUSTRIES = [
    "情報・通信業", "サービス業", "小売業", "卸売業", "電気機器", "化学", "機械",
    "建設業", "不動産業", "銀行業", "輸送用機器", "食料品", "医薬品", "陸運業",
    "その他製品", "鉄鋼", "証券、商品先物取引業", "保険業",
]
_KANA = "アイウエオカキクケコサシスセソタチツテトナニヌネノハヒフヘホマミムメモヤユヨラリルレロワン"
_KANJI = "東西南北山川田中日本新光電機産業工精化学商事興和建設通信技研"
_WORDS = [
    "Alpha", "Nippon", "Tokai", "Kansai", "Fuji", "Sakura", "Hikari", "Daiichi",
    "Sun", "Pacific", "Global", "Kyowa", "Toyo", "Asahi", "Meiji", "Shin",
]
_SUFFIXES = ["Co., Ltd.", "Corporation", "Holdings, Inc.", "Inc.", "K.K."]
_CLOSING = ["3.31", "3.31", "3.31", "12.31", "6.30", "9.30"]

OUTPUT_HEADER = ["year", "companyname", "industryclassification", "geonameen", "revenue", "revenue_unit"]
TARGET_TYPES = ("120", "130")
_OFF_TYPES = ("140", "150", "160", "180", "350")
# Revenue-like elements that can head a CSV filing (the row-1 mask).
_MASK_ELEMENTS = [
    "jpcrp_cor:NetSalesSummaryOfBusinessResults",
    "jpcrp_cor:RevenueIFRSSummaryOfBusinessResults",
    "jpcrp_cor:OperatingRevenue1SummaryOfBusinessResults",
    "jpcrp_cor:NetSalesOfCompletedConstructionContractsSummaryOfBusinessResults",
]
_OTHER_ELEMENTS = [
    "jpcrp_cor:OrdinaryIncomeLossSummaryOfBusinessResults",
    "jpcrp_cor:NetAssetsSummaryOfBusinessResults",
    "jpcrp_cor:NumberOfEmployees",
]
CONTEXTS = {
    "CurrentYearDuration": 0,
    "Prior1YearDuration": -1,
    "Prior2YearDuration": -2,
    "Prior3YearDuration": -3,
    "Prior4YearDuration": -4,
}
_BAD_CONTEXTS = ["CurrentYearDuration_NonConsolidatedMember", "Prior1YearInstant"]
_XBRL_NS = (
    'xmlns:jpdei_cor="http://example.invalid/jpdei_cor" '
    'xmlns:jpcrp_cor="http://example.invalid/jpcrp_cor"'
)


@dataclass(frozen=True)
class Shares:
    """Seeded shares of the traffic's irregular cases."""

    amendment: float = 0.12  # of companies with an annual report: a later '130'
    second_annual: float = 0.03  # companies filing two '120's (first seen wins)
    off_target_type: float = 0.20  # doc types outside 120/130
    flagless: float = 0.05  # neither csvFlag nor xbrlFlag set
    xbrl_only: float = 0.20  # csvFlag off, xbrlFlag on
    unknown_code: float = 0.05  # edinetCode not in the master
    non_target_code: float = 0.25  # in the master but filtered out
    corrupt_zip: float = 0.02
    no_member_zip: float = 0.01
    no_fiscal_date: float = 0.02  # filings without a fiscal-year date (skipped)
    transient_list: float = 0.05  # list dates whose first attempt fails
    transient_doc: float = 0.05  # documents whose first attempt fails


SHARES = Shares()


@dataclass
class Traffic:
    root: str
    master_path: str
    start_date: str
    end_date: str
    cap: int
    fail_keys: frozenset
    golden: list = field(default_factory=list)  # sorted output rows
    n_requested: int = 0  # documents the capped pipeline downloads
    n_kept: int = 0  # filings surviving best-filing dedup


def _master_rows(rng: random.Random, n: int) -> list[list[str]]:
    codes = sorted(rng.sample(range(1, 99000), n))
    rows = []
    for c in codes:
        listed = rng.random() < 0.42
        consolidated = rng.random() < 0.78
        has_alpha = rng.random() > 0.03
        alpha = f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {rng.choice(_SUFFIXES)}" if has_alpha else ""
        rows.append(
            [
                f"E{c:05d}",
                rng.choice(_SUBMITTER_TYPES),
                "Listed company" if listed else "Unlisted company",
                "Consolidated" if consolidated else "NonConsolidated",
                str(rng.randint(10, 500000)),
                rng.choice(_CLOSING),
                "株式会社" + "".join(rng.choice(_KANJI) for _ in range(rng.randint(2, 5))),
                alpha,
                "".join(rng.choice(_KANA) for _ in range(rng.randint(4, 10))),
                rng.choice(_PROVINCES),
                rng.choice(_INDUSTRIES),
                f"{rng.randint(1000, 9999)}0" if listed else "",
                str(rng.randint(10**12, 10**13 - 1)),
            ]
        )
    return rows


def _is_target(row: list[str]) -> bool:
    return row[2] == "Listed company" and row[3] == "Consolidated" and row[7] != ""


def _filing_spec(rng: random.Random, file_type: str) -> dict:
    """The filing's facts, as records the golden is computed from."""
    fy_end = rng.choice(["2023-12-31", "2024-03-31", "2024-03-31", "2024-06-30"])
    facts = []  # (element, context, value, unit) in file order
    if file_type == "csv":
        mask = rng.choice(_MASK_ELEMENTS)
        ctxs = list(CONTEXTS)
        rng.shuffle(ctxs)
        ctxs = ["CurrentYearDuration"] + [c for c in ctxs if c != "CurrentYearDuration"]
        for i, ctx in enumerate(ctxs[: rng.randint(2, 5)]):
            r = rng.random()
            if i > 0 and r < 0.08:
                ctx = rng.choice(_BAD_CONTEXTS)
            value = str(rng.randint(10**8, 5 * 10**12))
            if i > 0 and rng.random() < 0.05:
                value = "－"
            unit = "" if rng.random() < 0.05 else "JPY"
            facts.append((mask, ctx, value, unit))
        # revenue rows beyond head-5 and other elements
        for _ in range(rng.randint(0, 3)):
            facts.append((mask, rng.choice(list(CONTEXTS)), str(rng.randint(10**8, 10**12)), "JPY"))
        for _ in range(rng.randint(3, 12)):
            facts.append(
                (rng.choice(_OTHER_ELEMENTS), rng.choice(list(CONTEXTS)), str(rng.randint(1, 10**11)), "JPY")
            )
        return {"fy_end": fy_end, "mask": mask, "facts": facts}
    # xbrl: the 5 elements after NumberOfSubmissionDEI are the revenue rows
    for _ in range(5):
        r = rng.random()
        ctx = rng.choice(list(CONTEXTS)) if r > 0.1 else (None if r < 0.05 else rng.choice(_BAD_CONTEXTS))
        value = str(rng.randint(10**8, 5 * 10**12)) if rng.random() > 0.03 else "n/a"
        unit = None if rng.random() < 0.05 else "JPY"
        facts.append(("jpcrp_cor:NetSales", ctx, value, unit))
    no_fiscal = rng.random() < SHARES.no_fiscal_date
    return {"fy_end": None if no_fiscal else fy_end, "facts": facts}


def _csv_bytes(code: str, spec: dict) -> bytes:
    # the first fact (the revenue mask) lands at positional row 1
    lines = ["要素ID\tコンテキストID\t値\tユニットID", f"jpdei_cor:EDINETCodeDEI\tFilingDateInstant\t{code}\t"]
    for el, ctx, value, unit in spec["facts"]:
        lines.append(f"{el}\t{ctx}\t{value}\t{unit}")
    lines.append(f"jpdei_cor:CurrentFiscalYearEndDateDEI\tFilingDateInstant\t{spec['fy_end']}\t")
    return "\n".join(lines).encode("utf-16")


def _xbrl_bytes(code: str, spec: dict) -> bytes:
    parts = [f"<xbrl {_XBRL_NS}>", f'<jpdei_cor:EDINETCodeDEI contextRef="FilingDateInstant">{code}</jpdei_cor:EDINETCodeDEI>']
    if spec["fy_end"]:
        parts.append(
            f'<jpdei_cor:CurrentPeriodEndDateDEI contextRef="FilingDateInstant">{spec["fy_end"]}</jpdei_cor:CurrentPeriodEndDateDEI>'
        )
    parts.append('<jpdei_cor:NumberOfSubmissionDEI contextRef="FilingDateInstant">1</jpdei_cor:NumberOfSubmissionDEI>')
    for el, ctx, value, unit in spec["facts"]:
        attrs = (f' contextRef="{ctx}"' if ctx else "") + (f' unitRef="{unit}"' if unit else "")
        parts.append(f"<{el}{attrs}>{value}</{el}>")
    parts.append("</xbrl>")
    return "\n".join(parts).encode()


def _zip_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            # fixed timestamp: identical bytes for the same seed
            zf.writestr(zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def _filing_rows(spec: dict, file_type: str) -> list[tuple[int, str, int, str]]:
    """(year, context offset applied, revenue, unit) rows one filing
    yields under the reference's rules (head-5 of the row-1 element for
    csv; the 5 elements after the submission marker for xbrl; unknown
    contexts and non-integer values skipped; empty unit → JPY)."""
    if spec["fy_end"] is None:
        return []
    fy = int(spec["fy_end"][:4])
    if file_type == "csv":
        facts = [f for f in spec["facts"] if f[0] == spec["mask"]][:5]
    else:
        facts = [f for f in spec["facts"] if f[1]]
    out = []
    for _el, ctx, value, unit in facts:
        if ctx not in CONTEXTS or not value.isdigit():
            continue
        out.append((fy + CONTEXTS[ctx], int(value), unit or "JPY"))
    return out


def generate(
    seed: int,
    root: str,
    n_companies: int = 11018,
    start_date: str = "2024-01-01",
    n_days: int = 366,
    cap: int = 1000,
    n_annual: int = 1700,
) -> Traffic:
    """Write the traffic for ``seed`` under ``root``; return its golden."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(root, "api"), exist_ok=True)
    os.makedirs(os.path.join(root, "zips"), exist_ok=True)

    master = _master_rows(rng, n_companies)
    master_path = os.path.join(root, "company_master.csv")
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(MASTER_HEADER)
    w.writerows(master)
    with open(master_path, "wb") as f:
        f.write(buf.getvalue().encode("cp932"))

    by_code = {r[0]: r for r in master}
    targets = [r[0] for r in master if _is_target(r)]
    others = [r[0] for r in master if not _is_target(r)]
    known = set(by_code)
    start = dt.date.fromisoformat(start_date)
    days = [start + dt.timedelta(days=i) for i in range(n_days)]

    def submit_time(day: dt.date) -> str:
        return f"{day.isoformat()} {rng.randint(8, 17):02d}:{rng.randint(0, 59):02d}"

    def pick_day() -> int:
        # annual reports cluster in late June (March fiscal year ends)
        if rng.random() < 0.55:
            return min(n_days - 1, 166 + int(rng.random() * 16))
        return rng.randint(0, n_days - 1)

    docs = []  # (day index, edinetCode, docTypeCode)
    n_other = int(n_annual * SHARES.non_target_code)
    filers = rng.sample(targets, n_annual - n_other) + rng.sample(others, n_other)
    for code in filers:
        d0 = pick_day()
        docs.append((d0, code, "120"))
        if rng.random() < SHARES.second_annual:
            docs.append((rng.randint(d0, n_days - 1), code, "120"))
        if rng.random() < SHARES.amendment:
            docs.append((rng.randint(d0, n_days - 1), code, "130"))
    n_noise = int(len(docs) * SHARES.off_target_type / (1 - SHARES.off_target_type))
    for _ in range(n_noise):
        docs.append((rng.randint(0, n_days - 1), rng.choice(targets + others), rng.choice(_OFF_TYPES)))
    for _ in range(int(len(docs) * SHARES.unknown_code)):
        c = rng.randint(1, 99000)
        while f"E{c:05d}" in known:
            c = rng.randint(1, 99000)
        docs.append((pick_day(), f"E{c:05d}", rng.choice(TARGET_TYPES)))

    ids = rng.sample(range(10000, 99999), len(docs))
    listing: dict[int, list[dict]] = {i: [] for i in range(n_days)}
    for (d, code, dtype), n in zip(docs, ids):
        r = rng.random()
        if r < SHARES.flagless:
            csv_flag, xbrl_flag = "0", "0"
        elif r < SHARES.flagless + SHARES.xbrl_only:
            csv_flag, xbrl_flag = "0", "1"
        else:
            csv_flag, xbrl_flag = "1", rng.choice("01")
        listing[d].append(
            {
                "seqNumber": 0,
                "docID": f"S100{n:05d}",
                "edinetCode": code,
                "docTypeCode": dtype,
                "csvFlag": csv_flag,
                "xbrlFlag": xbrl_flag,
                "submitDateTime": submit_time(days[d]),
                "docDescription": "有価証券報告書",
            }
        )

    fail_keys = set()
    for i, day in enumerate(days):
        results = sorted(listing[i], key=lambda m: m["submitDateTime"])
        for k, m in enumerate(results, 1):
            m["seqNumber"] = k
        payload = {
            "metadata": {"title": "提出された書類を把握するためのAPI", "parameter": {"date": day.isoformat(), "type": "2"},
                         "resultset": {"count": len(results)}, "status": "200", "message": "OK"},
            "results": results,
        }
        with open(os.path.join(root, "api", f"{day.isoformat()}.json"), "wb") as f:
            f.write(json.dumps(payload, ensure_ascii=False).encode("utf-8"))
        if rng.random() < SHARES.transient_list:
            fail_keys.add("list:" + day.isoformat())

    # the pipeline's selection: target company + target type, arrival
    # order (date, docID), flag dispatch, then the first `cap`
    target_set = set(targets)
    selected = sorted(
        (day.isoformat(), m["docID"], m)
        for i, day in enumerate(days)
        for m in listing[i]
        if m["edinetCode"] in target_set and m["docTypeCode"] in TARGET_TYPES
    )
    arrival = {doc_id: k for k, (_, doc_id, _) in enumerate(selected, 1)}
    dispatched = [m for _, _, m in selected if m["csvFlag"] == "1" or m["xbrlFlag"] == "1"]
    requested = dispatched[:cap]

    surviving = []  # (arrival, meta, file_type, spec)
    for m in requested:
        file_type = "csv" if m["csvFlag"] == "1" else "xbrl"
        spec = _filing_spec(rng, file_type)
        code = m["edinetCode"]
        ext = "." + file_type
        r = rng.random()
        if r < SHARES.corrupt_zip:
            data = b"PK\x03\x04" + rng.randbytes(64)
            ok = False
        elif r < SHARES.corrupt_zip + SHARES.no_member_zip:
            data = _zip_bytes([("PublicDoc/manifest.txt", b"no filing member")])
            ok = False
        else:
            body = _csv_bytes(code, spec) if file_type == "csv" else _xbrl_bytes(code, spec)
            base = "XBRL_TO_CSV/jpcrp030000-asr-001" if file_type == "csv" else "XBRL/PublicDoc/jpcrp030000-asr-001"
            members = [(base + ext, body), ("XBRL/PublicDoc/manifest_PublicDoc.xml", b"<manifest/>" * 20)]
            if file_type == "csv" and rng.random() < 0.5:
                # smaller same-extension member: the largest one must win
                members.append(("XBRL_TO_CSV/jpaud-aar-cn-001.csv", "要素ID\tコンテキストID\t値\tユニットID\n".encode("utf-16")))
            data = _zip_bytes(members)
            ok = True
        with open(os.path.join(root, "zips", f"{m['docID']}.zip"), "wb") as f:
            f.write(data)
        if rng.random() < SHARES.transient_doc:
            fail_keys.add("doc:" + m["docID"])
        if ok:
            surviving.append((arrival[m["docID"]], m, file_type, spec))

    # best filing per company: any '130' beats '120'; the last-seen
    # '130' wins, the first-seen '120' wins
    best: dict[str, tuple] = {}
    for a, m, file_type, spec in surviving:
        code = m["edinetCode"]
        key = (m["docTypeCode"] == "130", a if m["docTypeCode"] == "130" else -a)
        if code not in best or key > best[code][0]:
            best[code] = (key, m, file_type, spec)
    golden = []
    for code, (_, m, file_type, spec) in best.items():
        row = by_code[code]
        for year, revenue, unit in _filing_rows(spec, file_type):
            golden.append((year, row[7], row[10], "Japan", revenue, unit))
    return Traffic(
        root=root,
        master_path=master_path,
        start_date=days[0].isoformat(),
        end_date=days[-1].isoformat(),
        cap=cap,
        fail_keys=frozenset(fail_keys),
        golden=sorted(golden),
        n_requested=len(requested),
        n_kept=len(best),
    )


def read_output(out_dir: str) -> list[tuple]:
    """The CSV the pipeline committed, as sorted typed rows."""
    rows = []
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".csv"):
            continue
        with open(os.path.join(out_dir, name), encoding="utf-8", newline="") as f:
            r = csv.reader(f)
            header = next(r, None)
            if header != OUTPUT_HEADER:
                raise ValueError(f"{name}: unexpected header {header}")
            for y, company, ind, geo, rev, unit in r:
                rows.append((int(y), company, ind, geo, int(rev), unit))
    return sorted(rows)


class BenchFetcher(Fetcher):
    """Serves the generated files.  Picklable: holds the root, the keys
    whose first attempt fails, and accumulators for call, error and byte
    counts (summed across Python workers on the driver).  Spark ships one
    copy per task, so every evaluation of a fetch fails once per listed
    key and goes through the retry path."""

    def __init__(self, root: str, fail_keys: frozenset, counters: dict | None = None):
        self.root = root
        self.fail_keys = fail_keys
        self.counters = counters or {}
        self._seen: set[str] = set()

    def _add(self, name: str, n: int) -> None:
        acc = self.counters.get(name)
        if acc is not None:
            acc.add(n)

    def _serve(self, kind: str, key: str, path: str) -> bytes:
        self._add(kind + "_calls", 1)
        if key in self.fail_keys and key not in self._seen:
            self._seen.add(key)
            self._add("retries", 1)
            raise OSError(f"transient failure for {key}")
        with open(path, "rb") as f:
            data = f.read()
        self._add("bytes", len(data))
        return data

    def fetch_list(self, date_str: str) -> bytes:
        return self._serve("list", "list:" + date_str, os.path.join(self.root, "api", f"{date_str}.json"))

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        return self._serve("doc", "doc:" + doc_id, os.path.join(self.root, "zips", f"{doc_id}.zip"))
