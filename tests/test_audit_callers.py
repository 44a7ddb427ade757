"""tools/audit_callers.py: every top-level function and class in
x17a5_spark/ has a production caller or an allowlist reason."""

from __future__ import annotations

import os

from tools.audit_callers import ALLOWED, DEFAULT_ROOTS, REPO, audit


def test_package_has_no_function_without_a_caller():
    roots = [os.path.join(REPO, r) for r in DEFAULT_ROOTS]
    assert audit(os.path.join(REPO, "x17a5_spark"), roots, ALLOWED) == ([], [])


def test_allowlist_gives_a_reason_per_entry():
    assert all(":" in key and reason.strip() for key, reason in ALLOWED.items())


def test_audit_flags_a_function_only_tests_call(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('from pkg.mod import used, unused\n__all__ = ["unused"]\n')
    (pkg / "mod.py").write_text(
        "def helper():\n    return 1\n\n\n"
        "def used():\n    return helper()\n\n\n"
        "def unused():\n    return 2\n"
    )
    (tmp_path / "run.py").write_text("from pkg import used\n\nused()\n")
    unreached, stale = audit(str(pkg), [str(tmp_path / "run.py")])
    assert unreached == ["mod:unused"] and stale == []
    # an allowlisted entry is a root; one that production reaches is stale
    unreached, stale = audit(
        str(pkg), [str(tmp_path / "run.py")], {"mod:unused": "r", "mod:used": "r"}
    )
    assert unreached == [] and stale == ["mod:used"]
