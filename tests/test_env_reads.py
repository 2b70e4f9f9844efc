"""The engine reads only deployment environment variables.

Operator behaviour is set by arguments, never by the environment: the
only reads allowed in ``etl_tools_rs_spark/`` are the two that size the
local session (``session.py``: cores and driver memory). A new
``os.environ``/``os.getenv`` read anywhere in the package fails this
static scan, so an env-var knob cannot be added silently. The same
AST walk checks that no engine module imports ``PIL``: image decoding
has one stdlib path (``operators/multimodal.py::_gray_rows``), and an
import-gated arm would make results depend on what is installed.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

_ENGINE = pathlib.Path(__file__).resolve().parent.parent / "etl_tools_rs_spark"
ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
_ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def env_reads(source: str) -> list[tuple[int, str | None]]:
    """``(line, variable)`` for every environment access in ``source``;
    the variable is ``None`` when it is not a string literal (a dynamic
    key, ``from os import environ``, the mapping passed around whole)."""
    tree = ast.parse(source)
    parent = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    found: list[tuple[int, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            found += [(node.lineno, None) for a in node.names if a.name in _ENV_NAMES]
            continue
        name = getattr(node, "attr", None) or getattr(node, "id", None)
        if name not in _ENV_NAMES or not isinstance(node, (ast.Attribute, ast.Name)):
            continue
        up = parent.get(node)
        key = None
        if isinstance(up, ast.Subscript) and up.value is node:
            key = up.slice  # os.environ["X"]
        elif isinstance(up, ast.Call) and up.func is node and up.args:
            key = up.args[0]  # os.getenv("X")
        elif isinstance(up, ast.Attribute) and isinstance(parent.get(up), ast.Call):
            call = parent[up]  # os.environ.get("X") / .setdefault / .pop
            key = call.args[0] if call.func is up and call.args else None
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        found.append((node.lineno, key.value if literal else None))
    return found


def imported_packages(source: str) -> set[str]:
    """Top-level package of every absolute import in ``source``,
    including ``__import__("X")`` / ``importlib.import_module("X")``."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            found |= {a.name.split(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            found.add(node.module.split(".")[0])
        elif isinstance(node, ast.Call) and node.args:
            fn = getattr(node.func, "attr", None) or getattr(node.func, "id", None)
            arg = node.args[0]
            if fn in ("__import__", "import_module") and isinstance(
                arg, ast.Constant
            ) and isinstance(arg.value, str):
                found.add(arg.value.split(".")[0])
    return found


@pytest.mark.parametrize(
    "src, want",
    [
        ("import os\nos.environ.get('A', '1')", [(2, "A")]),
        ("import os\nos.environ['B']", [(2, "B")]),
        ("import os\nos.getenv('C')", [(2, "C")]),
        ("import os\nk = 'D'\nos.environ.get(k)", [(3, None)]),
        ("from os import environ", [(1, None)]),
        ("import os\nenv = dict(os.environ)", [(2, None)]),
    ],
)
def test_scan_catches_every_access_form(src, want):
    assert env_reads(src) == want


def test_engine_reads_only_deployment_env_vars():
    reads = {
        (os.path.relpath(path, _ENGINE), line, var)
        for path in sorted(_ENGINE.rglob("*.py"))
        for line, var in env_reads(path.read_text())
    }
    assert {var for _, _, var in reads} == ALLOWED, sorted(
        r for r in reads if r[2] not in ALLOWED
    )


def test_engine_never_imports_pil():
    assert imported_packages("from PIL import Image\n__import__('PIL.Image')") == {
        "PIL"
    }
    offenders = sorted(
        os.path.relpath(path, _ENGINE)
        for path in _ENGINE.rglob("*.py")
        if "PIL" in imported_packages(path.read_text())
    )
    assert offenders == []
