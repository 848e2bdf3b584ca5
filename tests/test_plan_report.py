"""Spark-free checks of ``tools/plan_report.py``'s line tracing."""

from __future__ import annotations

import importlib
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

import plan_report  # noqa: E402

FRESH = '''\
import functools

LIMIT = 3


def scaled(x, factor=LIMIT * 2):
    return x * factor


@functools.lru_cache
def cached():
    return 1


class Spec:
    width = LIMIT + 1


cached()
'''

BUILDER = '''\
def build(spark, sf_dir):
    from fresh_plan_report_mod import scaled

    return scaled(1)
'''


def test_lazily_imported_module_body_is_not_counted(tmp_path, monkeypatch):
    """A builder that imports a module on first use is credited with the
    lines it runs in that module, not with the module's import-time
    lines (``def`` and default-argument lines, class bodies, module-level
    calls)."""
    (tmp_path / "fresh_plan_report_mod.py").write_text(FRESH)
    (tmp_path / "builder_plan_report_mod.py").write_text(BUILDER)
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(plan_report, "PACKAGE", str(tmp_path) + "/")
    builder = importlib.import_module("builder_plan_report_mod")

    out, lines = plan_report.traced_build(builder.build, None, None)

    assert out == 6
    fresh = str(tmp_path / "fresh_plan_report_mod.py")
    builder_file = str(tmp_path / "builder_plan_report_mod.py")
    assert {n for f, n in lines if f == fresh} == {7}  # scaled's return line
    assert {n for f, n in lines if f == builder_file} == {2, 4}
