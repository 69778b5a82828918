"""The environment variables the package reads are exactly the ones
README's "Worker dependencies and configuration" table documents, so a
switch cannot be added (or linger after its last reader is gone)
undocumented."""

from __future__ import annotations

import ast
import re

from .conftest import REPO

_NAME = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _names_read_by_package() -> set[str]:
    names = set()
    for path in (REPO / "wnba_data_pipeline_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _NAME.fullmatch(node.value):
                    names.add(node.value)
    return names


def _names_documented_in_readme() -> set[str]:
    readme = (REPO / "README.md").read_text()
    section = readme.split("## Worker dependencies and configuration", 1)[1]
    section = section.split("\n## ", 1)[0]
    return {
        m.group(0)
        for line in section.splitlines()
        if line.startswith("| `SPARK_GRAFT_")
        for m in [_NAME.search(line)]
    }


def test_env_vars_read_equal_readme_table():
    read = _names_read_by_package()
    assert len(read) > 0
    assert read == _names_documented_in_readme()
