"""scripts/check_oracle.py reports every query of a sweep, even after one
of them raises — including exceptions whose message is empty."""

from __future__ import annotations

import importlib.util
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "check_oracle.py"


def _load():
    spec = importlib.util.spec_from_file_location("check_oracle", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Rows:
    def count(self):
        return 3


def _raising(exc):
    def fn(spark, sf_dir):
        raise exc

    return fn


def test_check_query_returns_false_instead_of_raising(capsys):
    mod = _load()
    for exc in (AssertionError(), RuntimeError("x")):
        for sql in ("SELECT 1", None):  # oracle and rows-only paths
            assert mod.check_query("q", _raising(exc), None, "sf", None, sql) is False
            line = capsys.readouterr().out.strip()
            assert line.startswith("ERR   q") and type(exc).__name__ in line


def test_sweep_goes_on_after_errors(capsys):
    mod = _load()
    qs = {
        "bare_assert": _raising(AssertionError()),
        "runtime": _raising(RuntimeError("x")),
        "rows_only_err": _raising(AssertionError()),
        "rows_only_ok": lambda spark, sf_dir: _Rows(),
    }
    oracles = {"bare_assert": "SELECT 1", "runtime": "SELECT 1"}
    failed = mod.check_all(qs, oracles, None, "sf", None)
    assert failed == ["bare_assert", "runtime", "rows_only_err"]
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 4
    assert out[0].startswith("ERR   bare_assert")
    assert out[0].endswith("AssertionError: ")
    assert out[1].startswith("ERR   runtime") and out[1].endswith("RuntimeError: x")
    assert out[2].startswith("ERR   rows_only_err")
    assert out[3].startswith("SKIP  rows_only_ok") and "rows=     3" in out[3]
