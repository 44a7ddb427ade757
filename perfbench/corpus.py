"""Seeded X-17A-5 filing corpus for the ``ingest`` workload and the rerun probe.

Each filing is a balance-sheet page written as ``name|value`` lines, the
format the shipped ``StubOcrBackend`` reads. The generator varies what the
silver kernels react to:

* rows per filing (2-7 asset items, 2-4 liability items, headings and a
  footer that carry no value);
* dirty numbers: ``$`` marks, thousands commas, accounting negatives
  ``(1,234)``, a bare ``-`` for zero, and ``l``/``I`` OCR confusions;
* one conjoined row (two names, two values in one cell) in some filings,
  with the two names as page-text lines so the row splitter can cut it;
* fuzzy unit headers ("in Thousand", "(in Millions)"), and filings with no
  header, which inherit the previous filing's unit for the same CIK;
* amended filings: a second filing for the same (cik, fiscal_year), later
  in the year, with other values; gold keeps the first;
* planted failures at about the reference funnel's shares
  (``BASELINE.md``): OCR failures (``__FAIL__`` marker) and filings
  missing a balance-sheet side.

The expected gold row of every filing is planted in closed form: label
sums of the scaled asset items, the reconstructed total and its identity
class. Values are drawn so that only the planted total is a subtotal under
the reference's lookback rules, written out here in plain Python
(``_subtotal_like``); draws that would also make a line item look like a
subtotal are redrawn. Nothing here imports the engine, so a seed gives
the same inputs whatever the engine's code.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# asset line items and the gold label each maps to (None: unlabeled, so it
# never reaches a gold column); no name matches the bisection or total
# regexes, and none of FUSABLE is a substring of another name
ASSET_ITEMS: dict[str, str | None] = {
    "Cash": "Cash",
    "Cash segregated under federal regulations": "Cash",
    "Receivables from brokers or dealers": "Receivables",
    "Receivables from customers": "Receivables",
    "Securities owned, at fair value": "Securities",
    "Securities borrowed": "Securities",
    "Deposits with clearing organizations": "Other",
    "Furniture and equipment, net": None,
    "Prepaid expenses": None,
}
FUSABLE = [
    n for n in ASSET_ITEMS if not any(n != m and (n in m or m in n) for m in ASSET_ITEMS)
]
LIABILITY_ITEMS = [
    "Payables to customers",
    "Payables to brokers or dealers",
    "Accrued expenses",
    "Securities sold, not yet purchased",
    "Short-term bank loans",
]
LABELS = ["Cash", "Receivables", "Securities", "Other", "Total assets"]
TOTAL_ASSETS = "Total assets"

# unit headers and the multiplier the engine's fuzzy matcher gives them
UNIT_HEADERS = [
    ("(in Thousands)", 1e3),
    ("in Thousand", 1e3),
    ("(in Millions)", 1e6),
    ("Dollars in millions", 1e6),
]

FAIL_SHARE = 0.08
MISSING_SIDE_SHARE = 0.10
AMEND_SHARE = 0.06
FUSED_SHARE = 0.25
MISMATCH_SHARE = 0.15
NO_HEADER_SHARE = 0.30
YEARS = list(range(2010, 2020))


@dataclass
class Filing:
    cik: str
    filing_date: str
    content: bytes
    text_lines: list[str]
    kind: str  # ok | ocr_fail | missing_side
    # label -> scaled sum, None when no item carries the label
    gold: dict[str, float | None] = field(default_factory=dict)

    @property
    def key(self) -> tuple[str, str]:
        return (self.cik, self.filing_date)

    @property
    def fiscal_year(self) -> int:
        return int(self.filing_date[:4]) - 1


def _dirty(v: float, rng: random.Random) -> str:
    """Render a value the way OCR reads a balance sheet."""
    if v == 0:
        return "-"
    body = f"{abs(v):,.2f}" if v != int(v) else f"{int(abs(v)):,}"
    if v < 0:
        return f"({body})"
    r = rng.random()
    if r < 0.3:
        return f"$ {body}"
    if r < 0.35 and "1" in body:
        return body.replace("1", "l", 1)
    return body


def _subtotal_like(x: float, s: float) -> bool:
    """The reference's three ways a row value ``x`` explains a lookback sum
    ``s``: equal; ``s`` a power-of-ten multiple of ``x``, or ``x`` with one
    digit dropped; or the same width with one character misread, within 1%."""
    if x == s:
        return True
    if x == 0 or s == 0:
        return False
    ratio = s / x
    if ratio > 0 and math.log10(ratio).is_integer():
        return True
    a, b = str(x), str(s)
    if b in a and len(b) == len(a) - 1:
        return True
    return (
        len(a) == len(b)
        and sum(p != q for p, q in zip(a, b)) == 1
        and abs((x - s) / x) <= 0.01
    )


def _only_total_is_subtotal(values: list[float], mismatch: bool) -> bool:
    """True when a top-down subtotal scan drops exactly the planted total
    (the last value) and no line item. A row is a subtotal when it explains
    the sum of any run of rows right above it; as long as no earlier row
    was dropped, those runs are plain suffixes of the values so far."""
    n = len(values)
    for i in range(1, n):
        hit = any(_subtotal_like(values[i], sum(values[i - j - 1:i])) for j in range(i))
        if hit != (i == n - 1 and not mismatch):
            return False
    return True


def _relative_error(recon: float, reported: float | None) -> float | None:
    if reported is None:
        return None
    if reported == 0:
        return math.inf if recon != 0 else None
    return abs(recon - reported) / reported


def _check_class(err: float | None) -> str:
    if err is None:
        return "NOT FOUND"
    if err == 0:
        return "PERFECT MATCH"
    if err < 0.01:
        return "BOUNDED MATCH"
    return "GROSS MISMATCH"


def _draw_filing(cik: str, date: str, kind: str, scale: float, rng: random.Random):
    """(content lines, extra page-text lines, planted gold) of one filing."""
    while True:
        names = rng.sample(list(ASSET_ITEMS), rng.randint(2, 7))
        if any(ASSET_ITEMS[n] for n in names):
            break
    lo = 10 ** rng.randint(2, 4)
    mismatch = rng.random() < MISMATCH_SHARE
    for _attempt in range(100):
        values = []
        for _ in names:
            r = rng.random()
            if r < 0.05:
                values.append(0.0)
            elif r < 0.10:
                values.append(-float(rng.randint(lo // 10, lo)))
            elif r < 0.15:
                values.append(rng.randint(lo, 50 * lo) + rng.choice([0.25, 0.5, 0.75]))
            else:
                values.append(float(rng.randint(lo, 50 * lo)))
        total = sum(values)
        if mismatch:
            total = float(round(total * (1 + rng.choice([0.004, 0.05, 0.2]))) + 1)
        scaled = [v * scale for v in values] + [total * scale]
        if total > 0 and _only_total_is_subtotal(scaled, mismatch):
            break
    else:
        raise RuntimeError(f"no clean value draw for {cik} {date}")

    lines: list[str] = []
    text: list[str] = []
    if kind != "missing_side" or rng.random() < 0.5:
        asset_rows = list(zip(names, values))
        lines.append("ASSETS")
        fusable = [i for i in range(len(asset_rows) - 1)
                   if asset_rows[i][0] in FUSABLE and asset_rows[i + 1][0] in FUSABLE]
        fuse_at = rng.choice(fusable) if fusable and rng.random() < FUSED_SHARE else None
        i = 0
        while i < len(asset_rows):
            if i == fuse_at:
                (n1, v1), (n2, v2) = asset_rows[i], asset_rows[i + 1]
                lines.append(f"{n1} {n2}|$ {_dirty(v1, rng).lstrip('$ ')} {_dirty(v2, rng).lstrip('$ ')}")
                text += [n1, n2]
                i += 2
                continue
            lines.append(f"{asset_rows[i][0]}|{_dirty(asset_rows[i][1], rng)}")
            i += 1
        lines.append(f"{TOTAL_ASSETS}|{_dirty(total, rng)}")
        has_assets = True
    else:
        has_assets = False
    if kind != "missing_side" or not has_assets:
        lines.append("LIABILITIES AND MEMBER'S EQUITY")
        liab = [float(rng.randint(lo, 20 * lo)) for _ in range(rng.randint(2, 4))]
        for n, v in zip(rng.sample(LIABILITY_ITEMS, len(liab)), liab):
            lines.append(f"{n}|{_dirty(v, rng)}")
        lines.append(f"Total liabilities|{_dirty(sum(liab), rng)}")
        equity = float(rng.randint(lo, 20 * lo))
        lines.append(f"Member's equity|{_dirty(equity, rng)}")
        lines.append(
            f"Total liabilities and member's equity|{_dirty(sum(liab) + equity, rng)}"
        )
    lines.append("See accompanying notes to the financial statements")

    gold: dict[str, float | None] = {lab: None for lab in LABELS}
    for n, v in zip(names, values):
        lab = ASSET_ITEMS[n]
        if lab is not None:
            gold[lab] = (gold[lab] or 0.0) + v * scale
    gold[TOTAL_ASSETS] = total * scale if mismatch else None
    return lines, text, gold


def generate(seed: int, n_filings: int) -> list[Filing]:
    """About ``n_filings`` filings over ``YEARS``: every CIK files once a
    year, some file an amendment later in the same year."""
    rng = random.Random(seed)
    n_ciks = max(1, round(n_filings / (len(YEARS) * (1 + AMEND_SHARE))))
    ciks = sorted({f"{rng.randint(1, 9_999_999):07d}" for _ in range(n_ciks)})
    filings: list[Filing] = []
    for cik in ciks:
        own_scale = 1.0  # unit carried forward across this CIK's filings
        for year in YEARS:
            dates = [f"{year}-{rng.randint(1, 3):02d}-{rng.randint(1, 28):02d}"]
            if rng.random() < AMEND_SHARE:
                dates.append(f"{year}-{rng.randint(4, 9):02d}-{rng.randint(1, 28):02d}")
            for date in dates:
                r = rng.random()
                kind = (
                    "ocr_fail" if r < FAIL_SHARE
                    else "missing_side" if r < FAIL_SHARE + MISSING_SIDE_SHARE
                    else "ok"
                )
                text = ["Statement of Financial Condition"]
                if rng.random() >= NO_HEADER_SHARE:
                    header, own_scale = rng.choice(UNIT_HEADERS)
                    text.append(header)
                lines, extra_text, gold = _draw_filing(cik, date, kind, own_scale, rng)
                if kind == "ocr_fail":
                    lines.insert(rng.randint(0, len(lines)), "__FAIL__")
                filings.append(
                    Filing(
                        cik=cik,
                        filing_date=date,
                        content="\n".join(lines).encode(),
                        text_lines=text + extra_text,
                        kind=kind,
                        gold=gold,
                    )
                )
    return filings


def expected_gold(filings: list[Filing]) -> dict[tuple[str, str], dict]:
    """Gold rows keyed by (cik, filing_date): among the filings that reach
    gold, the earliest per (cik, fiscal_year)."""
    first: dict[tuple[str, int], Filing] = {}
    for f in sorted(filings, key=lambda f: f.filing_date):
        if f.kind == "ok":
            first.setdefault((f.cik, f.fiscal_year), f)
    return {f.key: gold_row(f) for f in first.values()}


def gold_row(f: Filing) -> dict:
    row = dict(f.gold)
    recon = 0.0
    for lab in LABELS:
        if lab != TOTAL_ASSETS:
            recon += row[lab] or 0.0
    err = _relative_error(recon, row[TOTAL_ASSETS])
    row.update(
        name="N" + f.cik,
        fiscal_year=f.fiscal_year,
        reconstructed_total_assets=recon,
        relative_error=err,
        total_asset_check=_check_class(err),
    )
    return row


def write(filings: list[Filing], out_dir: str) -> dict[str, str]:
    """Write docs, the page-text channel, the label map and the planted
    gold under ``out_dir``; returns the paths by name."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in ("docs", "text", "label_map")
    }
    pq.write_table(
        pa.table({
            "cik": [f.cik for f in filings],
            "filing_date": [f.filing_date for f in filings],
            "content": pa.array([f.content for f in filings], pa.binary()),
        }),
        paths["docs"],
    )
    rows = [(f.cik, f.filing_date, i, t) for f in filings for i, t in enumerate(f.text_lines)]
    pq.write_table(
        pa.table({
            "cik": [r[0] for r in rows],
            "filing_date": [r[1] for r in rows],
            "line_idx": pa.array([r[2] for r in rows], pa.int32()),
            "line_text": [r[3] for r in rows],
        }),
        paths["text"],
    )
    labeled = [(n, lab) for n, lab in ASSET_ITEMS.items() if lab] + [(TOTAL_ASSETS, TOTAL_ASSETS)]
    pq.write_table(
        pa.table({"lineitem": [n for n, _ in labeled], "label": [lab for _, lab in labeled]}),
        paths["label_map"],
    )
    paths["expected"] = os.path.join(out_dir, "expected_gold.json")
    with open(paths["expected"], "w") as fh:
        json.dump(
            [{"cik": k[0], "filing_date": k[1], **v} for k, v in sorted(expected_gold(filings).items())],
            fh,
            sort_keys=True,
        )
    return paths
