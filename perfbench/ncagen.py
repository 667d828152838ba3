"""Seeded synthetic NCA release PDFs and the store state they must produce.

Each publication is a real PDF 1.4 file written through
``sources.minipdf.write_simple_pdf``: a landscape table with the ten DBM
column headers, NCA rows laid out the way the release PDFs are, and every
row pattern of FIXTURES.md section 1:

1. repeated header rows (case variants) at the top of every later page
   and once mid-page;
2. multi-line NCA records (continuation rows carry an empty NCA number);
3. record fields wrapped over lines, then a blank, then stray text that
   must not join the field;
4. several allocations per NCA, separated by rows whose agency, operating
   unit and amount are all empty;
5. agency and operating unit wrapped over two lines;
6. amounts with commas, empty amounts and non-numeric junk;
7. adjacent NCAs with no separator row;
8. junk rows before the first NCA;
9. NCAs cut by a page break;
10. whitespace padding around cell text.

Sizing. A publication fills ``PAGES`` = 10 pages, the reference's unit of
load work: its orchestrator cuts every release into 10-page batches and a
worker extracts, cleans and loads one batch per invocation (SURVEY.md
section 2.9 T2, ``BATCH_SIZE=10`` in the reference's constants.py:9). The
only release PDF the reference ships, ``UPDATED_NCA.PDF``, is one page with
one NCA; the full-year releases it batches were not kept, so their size is
unknown. ``ROWS_PER_PAGE`` is what the page holds at the generator's line
pitch, not a measured density of real releases.

A fixed share of publications re-publishes an earlier release amended
(changed amounts and purposes, an added allocation, an added NCA), so the
store's upsert and delete+append paths run beside first inserts. The
reference re-loads a release whose file changed (its scraper's
change-detection ladder, SURVEY.md section 3.1 step 2), and it files the
``UPDATED`` PDF under the current year's release id (section 2.1 S2), so
a newer version of that file replaces the same release. ``AMEND_SHARE`` =
0.3 has no source: it is a guess, to be replaced once real release
histories are in the repository, and nothing should be tuned against it.

The expected output is computed here, independently of the engine, by
applying the reference cleaner's semantics (pd_data_cleaner.py) to the
rows the PDF holds: spacer rows between adjacent distinct NCA numbers,
repeated-header removal, NCA-number forward fill, leading-run joins of the
record fields, empty-row-delimited allocation segments and dropped junk
amounts; then the store's load semantics (records upsert on
``nca_number``, allocations replaced per ``release_id``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime

from dbm_nca_ph_etl_spark.sources.minipdf import write_simple_pdf

COLUMNS = [
    "nca_number",
    "nca_type",
    "approved_date",
    "released_date",
    "department",
    "agency",
    "operating_unit",
    "amount",
    "purpose",
    "remarks",
]
VALID = [
    "nca_number",
    "nca_type",
    "released_date",
    "department",
    "agency",
    "operating_unit",
    "amount",
    "purpose",
]
RECORD_FIELDS = ["nca_type", "released_date", "department", "purpose"]
ALLOC_FIELDS = ["agency", "operating_unit", "amount"]
HEADER = [
    "NCA Number",
    "NCA Type",
    "Approved Date",
    "Released Date",
    "Department",
    "Agency",
    "Operating Unit",
    "Amount",
    "Purpose",
    "Remarks",
]

# Column left edges in points on a 1224 x 792 page. Text is 6 pt Helvetica,
# which the extractor measures at 3 pt per glyph; data text starts 2 pt
# into its column, so a column holds (width - 2) / 3 glyphs. WIDTH keeps
# four glyphs of that free for padding.
PAGE = (1224.0, 792.0)
COL_X = [20, 130, 230, 320, 420, 580, 740, 900, 990, 1160]
_EDGES = COL_X[1:] + [PAGE[0] - 1]
FIT = [int((e - x - 2) // 3) for x, e in zip(COL_X, _EDGES)]
WIDTH = dict(zip(COLUMNS, (f - 4 for f in FIT)))
FONT = 6.0
LINE_PITCH = 11.0
TOP_Y = 760.0
ROWS_PER_PAGE = 55  # lines a page holds at LINE_PITCH below TOP_Y, with margin
PAGES = 10  # pages of a first publication (the reference's BATCH_SIZE)
AMEND_SHARE = 0.3  # unsourced guess, see the module docstring

_WORDS = (
    "allotment release support operations maintenance regional office "
    "programs capital outlay personnel services payment salaries "
    "benefits implementation projects infrastructure school health "
    "facilities equipment requirements quarter fund continuing "
    "appropriations disaster relief training road bridges"
).split()
_DEPTS = [
    "Department of Education",
    "Department of Health",
    "Department of Public Works and Highways",
    "Department of Agriculture",
    "Department of the Interior and Local Government",
    "Department of Social Welfare and Development",
]
_AGENCIES = [
    "Office of the Secretary",
    "Bureau of Fisheries and Aquatic Resources",
    "National Irrigation Administration",
    "Philippine National Police",
    "Commission on Higher Education",
    "Bureau of Fire Protection",
]
_UNITS = [
    "Central Office",
    "Regional Office I",
    "Regional Office VII",
    "National Capital Region",
    "Cordillera Administrative Region",
    "BARMM Field Office",
]
_TYPES = ["NCA-REGULAR", "NCA-PRIOR YEAR ACCOUNTS", "NCA-TRUST", "NCA-SPECIAL"]
_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_JUNK_AMOUNTS = ["N/A", "-", "TBA", "n.a."]
_BAD_DATES = ["TBD", "n/a", "--"]


@dataclass
class Allocation:
    agency: list[str]
    unit: list[str]
    amount: str


@dataclass
class Nca:
    number: str
    nca_type: list[str]
    approved: str
    released: str
    department: list[str]
    purpose: list[str]
    allocations: list[Allocation]
    stray: str | None = None  # purpose text after a blank row (pattern 3)


@dataclass
class Publication:
    release_id: str
    version: int
    ncas: list[Nca]
    rows: list[list[str | None]] = field(default_factory=list)  # as extracted
    pages: list[list[list[str]]] = field(default_factory=list)  # as written
    pdf: bytes = b""

    @property
    def n_pages(self) -> int:
        return len(self.pages)

    def raw_bytes(self) -> int:
        """UTF-8 bytes of every non-empty cell the extractor returns."""
        return sum(len(c.encode()) for row in self.rows for c in row if c)


def _norm(s: str | None) -> str | None:
    """What the extractor returns for a cell: whitespace runs collapsed,
    padding dropped, empty cells as None."""
    if s is None:
        return None
    t = " ".join(s.split())
    return t or None


def _text(rng: random.Random, lo: int, hi: int, cap: int) -> str:
    out = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))
    return out[:cap].strip()


def _wrap(text: str, lines: int, column: str) -> list[str]:
    """Split ``text`` into about ``lines`` word-aligned pieces, each short
    enough for ``column``."""
    words = text.split()
    lines = max(1, min(lines, len(words)))
    step = -(-len(words) // lines)
    out = []
    for i in range(0, len(words), step):
        cur = ""
        for w in words[i : i + step]:
            if cur and len(cur) + 1 + len(w) > WIDTH[column]:
                out.append(cur)
                cur = w
            else:
                cur = f"{cur} {w}" if cur else w
        out.append(cur)
    return out


def _amount(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.06:
        return ""
    if r < 0.12:
        return rng.choice(_JUNK_AMOUNTS)
    cents = rng.randint(100_00, 250_000_000_00)
    return f"{cents // 100:,}.{cents % 100:02d}"


def _date(rng: random.Random) -> str:
    if rng.random() < 0.08:
        return rng.choice(_BAD_DATES)
    m, d = rng.randint(1, 12), rng.randint(1, 28)
    y = rng.choice([2023, 2024])
    style = rng.randrange(3)
    if style == 0:
        return f"{_MONTHS[m - 1]} {d}, {y}"
    if style == 1:
        return f"{m:02d}/{d:02d}/{y}"
    return f"{y}-{m:02d}-{d:02d}"


def _allocation(rng: random.Random) -> Allocation:
    agency = rng.choice(_AGENCIES)
    unit = rng.choice(_UNITS)
    return Allocation(
        _wrap(agency, 2 if rng.random() < 0.3 else 1, "agency"),
        _wrap(unit, 2 if rng.random() < 0.2 else 1, "operating_unit"),
        _amount(rng),
    )


def _nca(rng: random.Random, number: str) -> Nca:
    purpose = _text(rng, 4, 16, 150)
    return Nca(
        number=number,
        nca_type=_wrap(rng.choice(_TYPES), 2 if rng.random() < 0.2 else 1, "nca_type"),
        approved=_date(rng),
        released=_date(rng),
        department=_wrap(rng.choice(_DEPTS), rng.choice([1, 1, 2, 3]), "department"),
        purpose=_wrap(purpose, rng.randint(1, 4), "purpose"),
        allocations=[_allocation(rng) for _ in range(rng.choice([1, 1, 2, 3, 4]))],
        stray=_text(rng, 1, 3, WIDTH["purpose"]) if rng.random() < 0.2 else None,
    )


def _amend(rng: random.Random, ncas: list[Nca], new_number: str) -> list[Nca]:
    """An amended re-publication: some amounts and purposes change, one NCA
    gains an allocation, one NCA is added. No NCA is withdrawn, because a
    record upsert cannot express a withdrawal."""
    out = []
    for n in ncas:
        allocs = [
            Allocation(a.agency, a.unit, _amount(rng) if rng.random() < 0.4 else a.amount)
            for a in n.allocations
        ]
        purpose = n.purpose
        if rng.random() < 0.3:
            purpose = _wrap(_text(rng, 4, 14, 150), len(n.purpose), "purpose")
        out.append(
            Nca(n.number, n.nca_type, n.approved, n.released, n.department,
                purpose, allocs, n.stray)
        )
    rng.choice(out).allocations.append(_allocation(rng))
    out.insert(rng.randrange(len(out) + 1), _nca(rng, new_number))
    return out


def _pad(rng: random.Random, s: str) -> str:
    if s and rng.random() < 0.15:
        return " " * rng.randint(1, 2) + s + " " * rng.randint(0, 2)
    return s


def _nca_rows(rng: random.Random, n: Nca) -> list[list[str]]:
    """The table rows of one NCA. Allocations start on the NCA's first row
    and are separated by one row with empty allocation cells; a row that
    would be blank everywhere is given remarks text, because a blank line
    leaves no row in a PDF."""
    rec = {
        "nca_type": n.nca_type,
        "approved_date": [n.approved],
        "released_date": [n.released],
        "department": n.department,
        "purpose": n.purpose,
    }
    alloc_rows: list[dict[str, str]] = []
    for i, a in enumerate(n.allocations):
        if i:
            alloc_rows.append({})  # separator
        h = max(len(a.agency), len(a.unit))
        for r in range(h):
            alloc_rows.append(
                {
                    "agency": a.agency[r] if r < len(a.agency) else "",
                    "operating_unit": a.unit[r] if r < len(a.unit) else "",
                    "amount": a.amount if r == 0 else "",
                }
            )
    n_rec = max(len(v) for v in rec.values())
    height = max(n_rec, len(alloc_rows))
    stray_at = None
    if n.stray is not None:
        stray_at = max(len(n.purpose) + 1, height - 1)
        height = max(height, stray_at + 1)
    rows = []
    for r in range(height):
        cells = {c: "" for c in COLUMNS}
        if r == 0:
            cells["nca_number"] = n.number
        for c, lines in rec.items():
            if r < len(lines):
                cells[c] = lines[r]
        if r < len(alloc_rows):
            cells.update(alloc_rows[r])
        if r == stray_at:
            cells["purpose"] = n.stray
        if not any(cells.values()):
            cells["remarks"] = "see annex"
        rows.append([_pad(rng, cells[c]) for c in COLUMNS])
    return rows


def _header_variant(rng: random.Random) -> list[str]:
    style = rng.randrange(3)
    if style == 0:
        return [h.upper() for h in HEADER]
    if style == 1:
        return [h.lower() for h in HEADER]
    return [h.replace(" ", "  ") for h in HEADER]


def _layout(rng: random.Random, blocks: list[list[list[str]]]) -> list[list[list[str]]]:
    """NCA row blocks → pages. Page one opens with the header and two junk
    rows; every later page opens with a header variant; one extra header row
    lands mid-page. NCAs are cut wherever the page fills."""
    blank = [""] * len(COLUMNS)
    body: list[list[str]] = []
    for i in range(2):
        junk = list(blank)
        junk[COLUMNS.index("department" if i == 0 else "purpose")] = (
            "Republic of the Philippines" if i == 0 else "Notice of Cash Allocation"
        )
        body.append(junk)
    for b in blocks:
        body.extend(b)
    mid = rng.randrange(len(body) // 3, max(len(body) // 3 + 1, len(body) - 1))
    body.insert(mid, _header_variant(rng))
    pages = [[list(HEADER)]]
    for row in body:
        if len(pages[-1]) >= ROWS_PER_PAGE:
            pages.append([_header_variant(rng)])
        pages[-1].append(row)
    return pages


def _render(pages: list[list[list[str]]]) -> bytes:
    out = []
    for page in pages:
        runs = []
        for r, row in enumerate(page):
            y = TOP_Y - LINE_PITCH * r
            for c, text in enumerate(row):
                if text:
                    assert len(text) <= FIT[c], (text, COLUMNS[c])
                    x = COL_X[c] + (0 if r == 0 and page is pages[0] else 2)
                    runs.append((x, y, FONT, text))
        out.append(runs)
    return write_simple_pdf(
        out, media_box=PAGE, created="D:20240105120000+08'00'",
        modified="D:20240105120000+08'00'",
    )


def publications(seed: int, count: int, *, pages: int = PAGES,
                 amend_share: float = AMEND_SHARE) -> list[Publication]:
    """The seeded publication sequence: ``count`` PDFs. A first publication
    holds as many NCAs as fill ``pages`` pages. Publication ``seq`` (from
    the third on) is an amended re-publication of an earlier release when
    ``(seq + 2) * amend_share`` crosses a whole number (the third, sixth,
    ninth... at 0.3), so every seed has the same mix of first and amended
    publications; the seed picks which release is amended and how."""
    rng = random.Random(seed)
    latest: dict[str, list[Nca]] = {}
    versions: dict[str, int] = {}
    out: list[Publication] = []
    next_nca = 0
    # body rows that fit: every page loses one row to its header, page one
    # two more to junk rows, and one page one to the mid-page header
    budget = pages * (ROWS_PER_PAGE - 1) - 3

    def number() -> str:
        nonlocal next_nca
        next_nca += 1
        return f"SARO-{seed % 1000:03d}-{next_nca:06d}"

    for seq in range(count):
        if seq >= 2 and int((seq + 2) * amend_share) > int((seq + 1) * amend_share):
            rid = rng.choice(sorted(latest))
            ncas = _amend(rng, latest[rid], number())
            blocks = [_nca_rows(rng, n) for n in ncas]
            versions[rid] += 1
        else:
            rid = f"id_{seed % 1000:03d}_{len(latest):04d}"
            ncas, blocks, used = [], [], 0
            while True:
                n = _nca(rng, number())
                b = _nca_rows(rng, n)
                if ncas and used + len(b) > budget:
                    break
                ncas.append(n)
                blocks.append(b)
                used += len(b)
            versions[rid] = 1
        latest[rid] = ncas
        laid = _layout(rng, blocks)
        rows = [[_norm(c) for c in row] for page in laid for row in page]
        out.append(Publication(rid, versions[rid], ncas, rows, laid, _render(laid)))
    return out


# ---------------------------------------------------------------------------
# Expected output: the reference cleaner's semantics over the PDF's rows
# ---------------------------------------------------------------------------


def _empty(v: str | None) -> bool:
    return v is None or v.strip() == ""


def _norm_header(v: str | None) -> str:
    return " ".join((v or "").lower().split()).replace(" ", "_")


def _iso(v: str) -> str | None:
    v = v.strip()
    for fmt in ("%B %d, %Y", "%m/%d/%Y", "%Y-%m-%d", "%Y-%m-%dT%H:%M:%S"):
        try:
            return datetime.strptime(v, fmt).strftime("%Y-%m-%dT%H:%M:%S")
        except ValueError:
            pass
    return None


def _amount_value(v: str) -> float | None:
    v = v.replace(",", "").strip()
    if not v or not all(ch.isdigit() or ch == "." for ch in v):
        return None
    return float(v)


def clean(pub: Publication) -> tuple[dict[str, dict], list[dict]]:
    """(records by nca_number, allocations) for one publication."""
    header = [_norm_header(c) for c in pub.rows[0]]
    idx = {name: header.index(name) for name in VALID}
    data = [{c: row[idx[c]] for c in VALID} for row in pub.rows[1:]]

    spaced: list[dict] = []
    prev = None
    for row in data:
        cur = row["nca_number"]
        if not _empty(cur) and not _empty(prev) and cur != prev:
            spaced.append({c: "" for c in VALID})
        spaced.append(row)
        prev = cur
    kept = [r for r in spaced if not all(_norm_header(r[c]) == c for c in VALID)]

    groups: dict[str, list[dict]] = {}
    key = None
    for r in kept:
        if not _empty(r["nca_number"]):
            key = r["nca_number"].strip()
        if key is not None:
            groups.setdefault(key, []).append(r)

    records: dict[str, dict] = {}
    allocations: list[dict] = []
    for nca, rows in groups.items():
        rec = {"nca_number": nca, "release_id": pub.release_id}
        for f in RECORD_FIELDS:
            run = []
            for r in rows:
                if _empty(r[f]):
                    break
                run.append(r[f])
            rec[f] = " ".join(run).strip()
        rec["released_date"] = _iso(rec["released_date"])
        records[nca] = rec

        segments: list[list[dict]] = [[]]
        for r in rows:
            if all(_empty(r[f]) for f in ALLOC_FIELDS):
                segments.append([])
            segments[-1].append(r)
        for seg in segments:
            vals = {f: " ".join(r[f] or "" for r in seg).strip() for f in ALLOC_FIELDS}
            if all(v == "" for v in vals.values()):
                continue
            amount = _amount_value(vals["amount"])
            if amount is None:
                continue
            allocations.append(
                {"nca_number": nca, "agency": vals["agency"],
                 "operating_unit": vals["operating_unit"], "amount": amount,
                 "release_id": pub.release_id}
            )
    return records, allocations


def store_truth(pubs: list[Publication]) -> tuple[list[dict], list[dict]]:
    """Store contents after loading ``pubs`` in order: records upsert on
    nca_number, allocations are replaced per release_id."""
    records: dict[str, dict] = {}
    allocations: dict[str, list[dict]] = {}
    for p in pubs:
        recs, allocs = clean(p)
        records.update(recs)
        allocations[p.release_id] = allocs
    return list(records.values()), [a for rid in allocations for a in allocations[rid]]


def coverage(pubs: list[Publication]) -> dict[str, int]:
    """How often the harder row patterns occur in ``pubs``."""
    cov = {"page_cut_ncas": 0, "stray_purpose": 0, "junk_or_empty_amounts": 0,
           "wrapped_agency": 0, "multi_allocation": 0, "amended": 0}
    for p in pubs:
        cov["amended"] += p.version > 1
        # a page whose first data row has no NCA number continues an NCA
        # cut by the page break
        for page in p.pages[1:]:
            if len(page) > 1 and not page[1][0].strip():
                cov["page_cut_ncas"] += 1
        for n in p.ncas:
            cov["stray_purpose"] += n.stray is not None
            cov["multi_allocation"] += len(n.allocations) > 1
            for a in n.allocations:
                cov["junk_or_empty_amounts"] += _amount_value(a.amount) is None
                cov["wrapped_agency"] += len(a.agency) > 1
    return cov
