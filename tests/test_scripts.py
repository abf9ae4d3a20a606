"""The scripts kept in scripts/ (the oracle sweep, the scale rehearsal
and the plan dumps) run outside the test suite. These tests keep them
importable: a renamed package module or name fails here instead of on
the next manual run. Each script's ``main()`` sits behind a
``__main__`` guard, so importing one runs nothing, and nothing here
starts Spark."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest
from pyspark import SparkContext

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"

KEPT = ("check_oracle", "rehearse_sf1", "dump_plans", "dump_formatted_plans")


def load_script(name: str):
    """Import ``scripts/<name>.py`` as a module, without running its main()."""
    spec = importlib.util.spec_from_file_location(f"scripts_{name}", SCRIPTS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", KEPT)
def test_kept_script_imports_and_resolves_every_name(name):
    active = SparkContext._active_spark_context
    assert callable(load_script(name).main)
    # imports inside functions only resolve when main() runs: check
    # every module and name the script imports anywhere
    for node in ast.walk(ast.parse((SCRIPTS / f"{name}.py").read_text())):
        if isinstance(node, ast.Import):
            for alias in node.names:
                importlib.import_module(alias.name)
        elif isinstance(node, ast.ImportFrom):
            module = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(module, alias.name):
                    importlib.import_module(f"{node.module}.{alias.name}")
    assert SparkContext._active_spark_context is active
