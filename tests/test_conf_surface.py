"""The engine reads one session conf of its own.

Every ``logpump.*`` key is a string literal somewhere under
``logpump_spark/``.  The only one is the deployment setting that decides
where checkpoint blocks live; a key that picks between two code paths
would show up here.
"""

from __future__ import annotations

import ast
from pathlib import Path

import logpump_spark

PACKAGE = Path(logpump_spark.__file__).parent


def _conf_literals() -> dict[str, list[str]]:
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("logpump.")
            ):
                where = f"{path.relative_to(PACKAGE)}:{node.lineno}"
                found.setdefault(node.value, []).append(where)
    return found


def test_only_reliable_checkpoint_conf():
    found = _conf_literals()
    assert set(found) == {"logpump.reliableCheckpoint"}, found
