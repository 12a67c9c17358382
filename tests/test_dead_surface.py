"""tools/dead_surface.py: no public package name is reachable only from
tests, and the scan reports what it should on a planted package."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "dead_surface.py")


def _run(root):
    return subprocess.run(
        [sys.executable, TOOL, str(root)], capture_output=True, text=True, timeout=60
    )


def test_repo_has_no_dead_surface():
    out = _run(REPO)
    assert out.returncode == 0 and out.stdout == "", out.stdout


def test_planted_dead_names_reported(tmp_path):
    """An unreferenced function and one named only in a docstring, a
    string key and a test are reported; an allow-listed name, a live chain
    and a re-export are not."""
    pkg = tmp_path / "mlops_drift_detection_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from mlops_drift_detection_spark.api import exported  # noqa: F401\n"
    )
    (pkg / "api.py").write_text(
        textwrap.dedent(
            '''
            def exported():
                return _helper()


            def _helper():
                return used_by_helper()


            def used_by_helper():
                return 1


            def unreferenced():
                return unreferenced()


            def docstring_only():
                return 2


            def iceberg_available():
                return False


            CATALOG = {"docstring_only": exported}
            '''
        )
    )
    (tmp_path / "tool.py").write_text(
        '"""Calls docstring_only() in prose only."""\nprint(CATALOG)\n'
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_api.py").write_text(
        "from mlops_drift_detection_spark.api import docstring_only, unreferenced\n"
    )
    out = _run(tmp_path)
    assert out.returncode == 1
    assert out.stdout.splitlines() == [
        "mlops_drift_detection_spark/api.py:14 unreferenced",
        "mlops_drift_detection_spark/api.py:18 docstring_only",
    ]


def test_name_used_only_by_dead_code_is_dead(tmp_path):
    """The scan iterates to a fixed point: a private helper called only by a
    dead function keeps nothing alive, so the name it calls is dead too."""
    pkg = tmp_path / "mlops_drift_detection_spark"
    pkg.mkdir()
    (pkg / "ops.py").write_text(
        "def dead():\n    return _helper()\n\n\n"
        "def _helper():\n    return chained()\n\n\n"
        "def chained():\n    return 1\n"
    )
    out = _run(tmp_path)
    assert out.stdout.splitlines() == [
        "mlops_drift_detection_spark/ops.py:1 dead",
        "mlops_drift_detection_spark/ops.py:9 chained",
    ]
