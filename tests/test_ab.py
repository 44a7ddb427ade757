"""tools/ab.py's old-tree alias: a git revision's package extracted as
``x17a5_old`` so two trees can run side by side in one SparkSession."""

from __future__ import annotations

import importlib
import inspect
import os
import subprocess
import sys

import pytest

from tools.ab import ALIAS, PKG, old_tree


def test_old_tree_imports_as_alias_spawns_no_shell_and_cleans_up(monkeypatch):
    spawned = []
    real_popen = subprocess.Popen

    def popen(args, *a, **kw):
        assert isinstance(args, list) and not kw.get("shell")
        spawned.append(args)
        return real_popen(args, *a, **kw)

    monkeypatch.setattr(subprocess, "Popen", popen)
    monkeypatch.setattr(os, "system", lambda *_: pytest.fail("os.system"))

    with old_tree("HEAD") as root:
        assert sorted(os.listdir(root)) == [ALIAS]
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                with open(os.path.join(dirpath, f)) as fh:
                    assert PKG not in fh.read(), f
        monkeypatch.syspath_prepend(root)
        try:
            tables = importlib.import_module(f"{ALIAS}.tables")
            assert tables.__file__.startswith(root)
            pkg_name = inspect.signature(tables._content_keyed_zip).parameters[
                "pkg_name"
            ]
            assert pkg_name.default == ALIAS
        finally:
            for mod in [m for m in sys.modules if m.split(".")[0] == ALIAS]:
                del sys.modules[mod]

    assert [args[:2] for args in spawned] == [["git", "-C"]]
    assert not os.path.exists(root)
