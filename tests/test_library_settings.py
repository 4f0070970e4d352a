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

The benchmark (``perfbench/``) calls the library with keyword options;
every such call must still bind to the library's current signatures, so
dropping a parameter breaks a tier-1 test instead of a traced run.
"""

import ast
import importlib
import inspect
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "openelevationservice_spark"
PERFBENCH = PACKAGE.parent / "perfbench"
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


def _library_names(tree: ast.AST) -> dict[str, str]:
    """Local name → dotted import path, for every name bound to the package."""
    names = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and not node.level
                and node.module.split(".")[0] == PACKAGE.name):
            names.update({a.asname or a.name: f"{node.module}.{a.name}"
                          for a in node.names})
        elif isinstance(node, ast.Import):
            for a in node.names:
                top = a.name.split(".")[0]
                if top == PACKAGE.name:
                    names[a.asname or top] = a.name if a.asname else top
    return names


def _dotted(node: ast.AST) -> str | None:
    """``a.b.c`` for a Name/Attribute chain, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return ".".join([node.id] + parts[::-1]) if isinstance(node, ast.Name) else None


def _resolve(path: str):
    """The object at a dotted path: the longest importable module prefix,
    then attributes (an AttributeError means the package lost the name)."""
    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ModuleNotFoundError:
            continue
        for attr in parts[i:]:
            obj = getattr(obj, attr)
        return obj
    raise ModuleNotFoundError(path)


def _unbound_library_calls(tree: ast.AST) -> list[tuple[int, str, str]]:
    """(line, call, error) for each call into the package that does not
    bind to the callee's signature.  A call with ``*args``/``**kwargs``
    is checked for its keyword names only."""
    names = _library_names(tree)
    found = []
    for node in ast.walk(tree):
        dotted = _dotted(node.func) if isinstance(node, ast.Call) else None
        head, _, rest = (dotted or "").partition(".")
        if head not in names:
            continue
        try:
            sig = inspect.signature(_resolve(".".join(filter(None, (names[head], rest)))))
        except (ImportError, AttributeError) as e:
            found.append((node.lineno, dotted, repr(e)))
            continue
        except (TypeError, ValueError):
            continue  # a builtin without an introspectable signature
        kwargs = dict.fromkeys(k.arg for k in node.keywords if k.arg)
        try:
            if (any(isinstance(a, ast.Starred) for a in node.args)
                    or any(k.arg is None for k in node.keywords)):
                sig.bind_partial(**kwargs)
            else:
                sig.bind(*node.args, **kwargs)
        except TypeError as e:
            found.append((node.lineno, dotted, str(e)))
    return sorted(found)


def test_perfbench_calls_bind_to_library_signatures():
    offenders, n_files = [], 0
    for path in sorted(PERFBENCH.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        n_files += bool(_library_names(tree))
        offenders += [f"{path.name}:{line} {call}: {err}"
                      for line, call, err in _unbound_library_calls(tree)]
    assert n_files >= 2, "perfbench no longer imports the package"
    assert not offenders, f"perfbench calls that no longer fit the library: {offenders}"


def test_detector_sees_unbound_calls():
    src = ("from openelevationservice_spark.operators.polygon import polygon_pixels\n"
           "from openelevationservice_spark import api\n"
           "polygon_pixels(a, b, spreed=False)\n"
           "api.ElevationService(s, i, _pix=p)\n"
           "api.no_such_function()\n"
           "polygon_pixels(*xs, index_strategy='shuffle', spread=False)\n"
           "polygon_pixels(a)\n")
    assert [(line, call) for line, call, _ in _unbound_library_calls(ast.parse(src))] == \
        [(3, "polygon_pixels"), (5, "api.no_such_function"), (7, "polygon_pixels")]
