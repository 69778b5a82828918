"""The md5 → 60-bit contract has one Python kernel,
``functions/hashing.py`` (``md5_long_py`` / ``md5_long_bytes`` /
``md5_long_memo``), so a change to the contract is made in one place. No
other package module may import ``hashlib``; ``plans/catalog.py`` is the
one exception, because its 8-hex directory-name token is not the 60-bit
contract."""

from __future__ import annotations

import ast

from .conftest import REPO

_PKG = REPO / "wnba_data_pipeline_spark"
_ALLOWED = {"functions/hashing.py", "plans/catalog.py"}


def _hashlib_users() -> set[str]:
    users = set()
    for path in _PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            if "hashlib" in names:
                users.add(path.relative_to(_PKG).as_posix())
    return users


def test_md5_kernel_only_in_hashing_module():
    users = _hashlib_users()
    assert "functions/hashing.py" in users
    assert users <= _ALLOWED, sorted(users - _ALLOWED)
