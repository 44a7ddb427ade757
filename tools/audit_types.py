"""Audit Spark result dtypes vs DuckDB oracle result types per column,
without running any query.

Type drift is a real failure class: an oracle's bare integer ``sum()``
comes back as DuckDB HUGEINT (int128) while Spark produces BIGINT, and
a pandas-based value hash renders the two differently even though the
values are equal. ``tools/check_correctness.py`` catches it too, with
the dtype-class gate in ``compare()``, but only after executing both
sides. This tool runs ``DESCRIBE <sql>`` on DuckDB (no execution of the
query body) and reads the Spark DataFrame schema (no action),
canonicalizes both type systems, and flags any column whose canonical
types differ — finer-grained than ``compare()``'s classes. Flagged:

- DuckDB HUGEINT anywhere (always wrong: Spark has no int128)
- decimal scale mismatch (renders "1.50" vs "1.500")
- decimal vs double (renders "1.5" vs "1.500000")
- float32 vs float64 (repr drift)
- date/timestamp vs string
- int vs float/bool

Usage: python tools/audit_types.py [query_name ...]
"""

from __future__ import annotations

import os
import re
import sys

from check_correctness import SF_DIR, duck_connection

INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "byte", "short", "long"}


def canon(t: str) -> str:
    """Collapse a Spark dtype / DuckDB DESCRIBE type to a hash-render class."""
    t = t.strip().lower()
    # arrays / lists
    m = re.fullmatch(r"array<(.*)>", t)
    if m:
        return f"list<{canon(m.group(1))}>"
    m = re.fullmatch(r"(.*)\[\]", t)
    if m:
        return f"list<{canon(m.group(1))}>"
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
    if m:
        return f"dec(s={m.group(2)})"
    if t in INT_TYPES:
        return "int"
    if t == "hugeint":
        return "HUGEINT"  # loud: never acceptable
    if t in {"float", "real"}:
        return "f32"
    if t == "double":
        return "f64"
    if t in {"varchar", "string", "text"}:
        return "str"
    if t in {"boolean", "bool"}:
        return "bool"
    if t.startswith("timestamp"):
        return "ts"
    if t.startswith("struct"):
        return t  # compare structs textually
    return t


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from x17a5_spark.queries import registry
    from x17a5_spark.session import get_spark

    queries, oracles = registry()
    wanted = sys.argv[1:] or [n for n in queries if n in oracles]
    spark = get_spark("audit_types")
    con = duck_connection()

    bad = 0
    for name in wanted:
        if name not in oracles:
            print(f"{name}: no oracle (rows-only) — skipped")
            continue
        try:
            duck = {
                r[0]: canon(r[1])
                for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            }
            sp = {c: canon(t) for c, t in queries[name](spark, SF_DIR).dtypes}
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}")
            bad += 1
            continue
        diffs = []
        for col in sorted(set(duck) | set(sp)):
            d, s = duck.get(col), sp.get(col)
            if d != s:
                diffs.append(f"{col}: duck={d} spark={s}")
        if diffs:
            bad += 1
            print(f"{name}: TYPE_DRIFT  " + "; ".join(diffs))
        else:
            print(f"{name}: ok")
    print(f"\n{'PASS' if bad == 0 else 'FAIL'} ({bad} drifting)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
