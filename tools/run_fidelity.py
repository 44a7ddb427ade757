"""Run the FIDELITY benchmark (x17a5_spark/fidelity.py) and write
FIDELITY.md: identity-match distributions per OCR-noise class vs the
reference's published bar (asset 74.9% / liability 75.7%
PERFECT+BOUNDED, BASELINE.md "Correctness / quality").

Usage: python tools/run_fidelity.py [n_filings]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from x17a5_spark.fidelity import NOISE_CLASSES, run_fidelity  # noqa: E402
from x17a5_spark.session import get_spark  # noqa: E402

REF_ASSET_BAR = 74.9
REF_LIAB_BAR = 75.7

CLASS_NOTES = {
    "clean": "control group (no corruption)",
    "glyph": "'1'->'I' OCR glyphs in value cells — repaired by the F1 parser",
    "conjoin": "two physical rows fused into one — repaired by F4 row-split",
    "subtotal": "spurious inserted subtotal row — removed by the W1 totals scan",
    "scaleerr": "unit marker OCR-mangled ('Thousnds'/'Millons') — repaired by the F2 fuzzy scaler",
    "digit": "last-digit value error (F11 epsilon class) — unrepairable, BOUNDED by design",
    "droprow": "line-item row lost — unrepairable, GROSS by design",
    "bigdigit": "leading-digit value error — unrepairable, GROSS by design",
}


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    spark = get_spark("fidelity")
    spark.sparkContext.setLogLevel("ERROR")
    out = run_fidelity(spark, n)

    def rows_of(df):
        keyed = {}
        for r in df.collect():
            keyed[(r["noise_class"], r["noise_side"])] = (
                r["PERFECT MATCH"],
                r["BOUNDED MATCH"],
                r["GROSS MISMATCH"],
                r["NOT FOUND"],
            )
        return keyed

    a, l = rows_of(out["asset_dist"]), rows_of(out["liab_dist"])
    vf = {
        r["noise_class"]: (r["n_exact"], r["n"])
        for r in out["value_fidelity"].collect()
    }

    def side_table(keyed, title):
        lines = [
            f"### {title}",
            "",
            "| noise class | target side | PERFECT | BOUNDED | GROSS | NOT FOUND | perfect+bounded |",
            "|---|---|---|---|---|---|---|",
        ]
        tp = tb = tg = tn = 0
        for nc in NOISE_CLASSES:
            for side in ("asset", "liability"):
                if (nc, side) not in keyed:
                    continue
                p, b, g, nf = keyed[(nc, side)]
                tp, tb, tg, tn = tp + p, tb + b, tg + g, tn + nf
                tot = p + b + g + nf
                pb = 100.0 * (p + b) / tot if tot else 0.0
                lines.append(
                    f"| {nc} | {side} | {p} | {b} | {g} | {nf} | {pb:.1f}% |"
                )
        total = tp + tb + tg + tn
        overall = 100.0 * (tp + tb) / total if total else 0.0
        lines.append(
            f"| **all** | — | **{tp}** | **{tb}** | **{tg}** | **{tn}** | **{overall:.1f}%** |"
        )
        return lines, overall

    at, a_overall = side_table(a, "Asset identity (`total_asset_check`)")
    lt, l_overall = side_table(
        l, "Liability identity (`total_le_check`, best of 4 reconstructions)"
    )

    md = [
        "# FIDELITY — identity-match rates under OCR-like noise",
        "",
        f"Synthetic FOCUS corpus, **{n:,} filings**, deterministic md5-keyed noise",
        "(x17a5_spark/fidelity.py), pushed through the REAL cleaning chain",
        "(`pipeline.clean_filings`: purge -> 3->2 merge -> conjoined split -> F1",
        "parse -> fuzzy unit scaling -> bisection -> mutating totals scan) and the",
        "structured builders (`operators/structured.py`), then classified by the",
        "same accounting-identity rules as the reference",
        "(`DatabaseStructured.py:230-264`).",
        "",
        "**Enforced in CI.**",
        "`tests/test_fidelity.py::test_fidelity_pinned_per_class_rates` pins the",
        "exact per-noise-class distribution of the deterministic N=1500 corpus,",
        "so a cleaning-kernel regression fails the suite with the cell that",
        "moved. An intentional kernel change updates that pin and regenerates",
        "this file (`python tools/run_fidelity.py`) in the same commit.",
        "",
        "## Headline vs the reference bar (BASELINE.md)",
        "",
        "| Side | Reference (real EDGAR OCR) | This engine (synthetic noise) |",
        "|---|---|---|",
        f"| Asset PERFECT+BOUNDED | 74.9% | **{a_overall:.1f}%** |",
        f"| Liability PERFECT+BOUNDED | 75.7% | **{l_overall:.1f}%** |",
        "",
        "Noise mix: 55% clean, 10% glyph, 8% conjoin, 7% spurious subtotal,",
        "6% scale-marker error, 6% one-digit error, 4% dropped row, 4%",
        "leading-digit error; row-level noises target one side per filing",
        "(md5-keyed). Every REPAIRABLE class must come out PERFECT — any",
        "regression in a cleaning kernel shows up as a nonzero GROSS cell in a",
        "repairable row below.",
        "",
    ]
    md += at + [""] + lt
    md += [
        "",
        "### Value fidelity (asset cells exactly equal ground truth)",
        "",
        "Catches scale-repair and glyph-repair failures the identity check",
        "cannot see (both identity sides scale together).",
        "",
        "| noise class | exact / n | note |",
        "|---|---|---|",
    ]
    for nc in NOISE_CLASSES:
        if nc in vf:
            e, tot = vf[nc]
            md.append(f"| {nc} | {e}/{tot} | {CLASS_NOTES[nc]} |")
    md += [
        "",
        "## Observed inherent failure modes (not engine bugs)",
        "",
        "The rare GROSS rows outside droprow/bigdigit come from the",
        "reference's own epsilon heuristic (`DatabaseUnstructured.py:62-106`):",
        "when two adjacent line items differ in exactly one rendered digit and",
        "<1% relative value, the totals scan drops the second as a suspected",
        "subtotal (e.g. v6=96,745,000 followed by v7=96,705,000). This",
        "false-positive class is faithfully reproduced — it is part of why the",
        "reference's real-world rate is ~75%, not ~100%.",
        "",
        "## Scale notes",
        "",
        "Corpus generation is one narrow hash-derived stage (no driver RNG, no",
        "collect); the cleaning chain shuffles the filing rows once, on the",
        "filing key, and every later kernel reuses that exchange; the",
        "structured build is the production single-wide-exchange plan.",
        "The same harness runs unchanged at any corpus size.",
        "",
        f"_Generated by `python tools/run_fidelity.py {n}`._",
    ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "FIDELITY.md")
    # preserve the ML-quality appendix run_ml_fidelity.py maintains —
    # regenerating the identity section must not clobber it
    appendix = ""
    if os.path.exists(path):
        existing = open(path).read()
        marker = "\n## ML classifier quality"
        if marker in existing:
            appendix = "\n" + existing[existing.index(marker) + 1 :]
    with open(path, "w") as fh:
        fh.write("\n".join(md) + "\n" + appendix)
    print(f"wrote {path}")
    print(f"asset perfect+bounded:     {a_overall:.1f}%  (bar {REF_ASSET_BAR}%)")
    print(f"liability perfect+bounded: {l_overall:.1f}%  (bar {REF_LIAB_BAR}%)")


if __name__ == "__main__":
    main()
