"""Library code takes no settings from the environment, and operators
take no physical-shape selectors.

Deployment settings (session sizing, the submit CLI's defaults) are the
only place the package reads environment variables; every operator
decision must come from its arguments or its input, never from an
env-var switch a caller cannot see.

Each public operator has one physical shape; ``index_strategy`` is the
one scale alternative (shuffle join once the index stops fitting a
broadcast).  A parameter that picks among implementations of the same
result is banned by name.
"""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "openelevationservice_spark"
DEPLOYMENT_SETTINGS = {"plans/session.py", "plans/submit.py"}
ENV_READERS = {"environ", "environb", "getenv", "getenvb"}
SHAPE_SELECTORS = {"impl", "method", "arrow_impl", "algorithm", "gather_strategy",
                   "densify_impl", "emit", "cells_shape"}


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers that read os.environ / os.getenv (any alias)."""
    os_names = {"os"}
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            lines += [node.lineno for a in node.names if a.name in ENV_READERS]
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and node.attr in ENV_READERS
                and isinstance(node.value, ast.Name) and node.value.id in os_names):
            lines.append(node.lineno)
    return sorted(lines)


def test_only_deployment_settings_read_the_environment():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel in DEPLOYMENT_SETTINGS:
            continue
        for line in _env_reads(ast.parse(path.read_text(), str(path))):
            offenders.append(f"{rel}:{line}")
    assert not offenders, f"environment read in library code: {offenders}"


def test_detector_sees_env_reads():
    src = ("import os\nimport os as o\nfrom os import getenv\n"
           "a = os.environ.get('X')\nb = o.getenv('Y')\n")
    assert _env_reads(ast.parse(src)) == [3, 4, 5]


def _shape_selectors(tree: ast.Module) -> list[str]:
    """``function(param)`` for each public module-level function that
    takes a banned shape-selector parameter."""
    found = []
    for node in tree.body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")):
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg in SHAPE_SELECTORS:
                    found.append(f"{node.name}({arg.arg})")
    return found


def test_operators_take_no_shape_selectors():
    offenders = []
    for path in sorted((PACKAGE / "operators").rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        offenders += [f"{rel}:{f}" for f in
                      _shape_selectors(ast.parse(path.read_text(), str(path)))]
    assert not offenders, f"shape-selector parameters on operators: {offenders}"


def test_detector_sees_shape_selectors():
    src = ("def a(df, method='x'): pass\n"
           "def b(df, *, impl='k', index_strategy='broadcast'): pass\n"
           "def _c(df, algorithm='label'): pass\n"
           "def d(df, emit='runs', /): pass\n"
           "def e(df, n=1):\n    def f(method): pass\n")
    assert _shape_selectors(ast.parse(src)) == ["a(method)", "b(impl)", "d(emit)"]
