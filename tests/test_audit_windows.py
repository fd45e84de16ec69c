"""The window audit is an invariant of the suite: every unpartitioned
Window.orderBy site is classified, and the row-scale class stays empty."""

from __future__ import annotations

import importlib.util
import os


def _audit():
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "audit_windows.py")
    spec = importlib.util.spec_from_file_location("audit_windows", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_audit_windows_passes():
    assert _audit().main() == 0


def test_audit_windows_fails_on_row_scale(monkeypatch):
    audit = _audit()
    site = audit.enumerate_sites()[0]
    monkeypatch.setitem(audit.CLASS, site[2], "row-scale")
    assert audit.main() == 1
