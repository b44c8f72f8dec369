"""Every engine module is reached from code that runs outside the tests
(driver queries, bench, perfbench, scripts): ``scripts/reachability.py``'s
AST import walk, with no Spark. The top-level defs it lists as named only in
tests are reported, not gated."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_PATH = Path(__file__).resolve().parent.parent / "scripts" / "reachability.py"
_spec = importlib.util.spec_from_file_location("reachability", _PATH)
R = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(R)


def test_no_engine_module_is_reached_only_from_tests():
    only_tests, nowhere = R.module_report()
    assert only_tests == [] and nowhere == []


def test_walk_ignores_strings_and_follows_local_imports(tmp_path):
    """A throwaway tree: ``live`` is imported inside a function of the
    driver entry, ``tested`` only by a test, and ``lazy`` only by name in a
    lazy-export string table — which is not reach."""
    files = {
        "__spark_entry__.py": (
            "def q():\n"
            "    from geojson_vt_cpp_spark.live import used\n"
            "    return used()\n"
        ),
        "geojson_vt_cpp_spark/__init__.py": (
            "def __getattr__(name):\n"
            "    lazy = {'thing': 'geojson_vt_cpp_spark.lazy'}\n"
            "    return lazy[name]\n"
        ),
        "geojson_vt_cpp_spark/live.py": (
            "def used():\n    return 1\n\n"
            "def test_only():\n    return 'used'\n"
        ),
        "geojson_vt_cpp_spark/tested.py": "def helper():\n    return 2\n",
        "geojson_vt_cpp_spark/lazy.py": "def thing():\n    return 3\n",
        "tests/__init__.py": "",
        "tests/test_x.py": (
            "from geojson_vt_cpp_spark.tested import helper\n"
            "from geojson_vt_cpp_spark.live import test_only\n"
        ),
    }
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    only_tests, nowhere = R.module_report(tmp_path)
    assert only_tests == ["geojson_vt_cpp_spark.tested"]
    assert nowhere == ["geojson_vt_cpp_spark.lazy"]
    defs_tests, defs_nowhere = R.def_report(tmp_path)
    assert defs_tests == [
        "geojson_vt_cpp_spark.live.test_only", "geojson_vt_cpp_spark.tested.helper"
    ]
    assert defs_nowhere == ["geojson_vt_cpp_spark.lazy.thing"]
