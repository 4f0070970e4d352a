"""Library code takes no settings from the environment, and operators
take no physical-shape selectors.

Deployment settings (session sizing, the submit CLI's defaults) are the
only place the package reads environment variables; every operator
decision must come from its arguments or its input, never from an
env-var switch a caller cannot see.

Each public operator has one physical shape.  A parameter that picks
among implementations of the same result is banned by name; so is
``index_strategy``, because the broadcast-or-shuffle choice of an index
join is Spark's planner's, made from its size estimate against
``spark.sql.autoBroadcastJoinThreshold``, never a caller's flag.

The benchmark (``perfbench/``) calls the library with keyword options;
every such call must still bind to the library's current signatures, so
dropping a parameter breaks a tier-1 test instead of a traced run.

Every module is reached from an entry point: the request surfaces
(``api.py``, ``grpc_shim.py``), the contract queries, the submit CLI,
the driver entry and the benchmarks.  A module only its own tests import
is dead code and leaves the package.  The same holds for every
top-level function and class: one that only tests reach leaves the
package, or moves to ``tests/`` when a test uses it as a reference.

No package module imports another's private (``_``-prefixed) name;
a name two modules share is public.

Every settable value is set by someone.  A defaulted parameter that no
call in the package or an entry point passes (by keyword or by
position) carries one value, so it is a module constant or a literal
instead; the only exceptions are allowlisted below, each with its
reason.  And every parameter is read: one its function ignores is a
setting that silently does nothing.
"""

import ast
import fnmatch
import importlib
import inspect
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "openelevationservice_spark"
PERFBENCH = PACKAGE.parent / "perfbench"
ENTRY_POINTS = [PACKAGE / "api.py", PACKAGE / "grpc_shim.py", PACKAGE / "contract.py",
                PACKAGE / "plans" / "submit.py", PACKAGE.parent / "__spark_entry__.py",
                PACKAGE.parent / "bench.py", *sorted(PERFBENCH.glob("*.py"))]
DEPLOYMENT_SETTINGS = {"plans/session.py", "plans/submit.py"}
ENV_READERS = {"environ", "environb", "getenv", "getenvb"}
SHAPE_SELECTORS = {"impl", "method", "arrow_impl", "algorithm", "gather_strategy",
                   "densify_impl", "emit", "cells_shape", "index_strategy"}


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


def test_submit_leaves_cpus_to_build_session(monkeypatch):
    """Without ``--cpus`` the submit CLI passes ``cpus=None``, so the
    session is sized by build_session's one rule."""
    from openelevationservice_spark.plans import submit
    calls = []
    monkeypatch.setattr(submit, "_run_job", lambda *a: calls.append(a))
    monkeypatch.setattr("sys.argv", ["submit", "--job", "point_elevation", "--sf-dir", "sf"])
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    submit.main()
    assert calls == [("point_elevation", "sf", None, None)]


def _named(node: ast.AST, name: str) -> bool:
    return ((isinstance(node, ast.Name) and node.id == name)
            or (isinstance(node, ast.Attribute) and node.attr == name))


def _pandas_map_calls(tree: ast.AST) -> list[int]:
    """Line numbers of ``<frame>.mapInPandas(...)`` calls and of
    ``pandas_udf`` kernels: called, or a decorator, bare or called."""
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and (
                _named(node.func, "pandas_udf")
                or (isinstance(node.func, ast.Attribute) and node.func.attr == "mapInPandas")):
            lines.add(node.lineno)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            lines.update(d.lineno for d in node.decorator_list if _named(d, "pandas_udf"))
    return sorted(lines)


def test_kernels_are_arrow_native():
    """Every Python kernel of the package is a ``mapInArrow`` function:
    it reads its input through the Arrow buffers and builds its output
    batch from whole numpy arrays, where ``mapInPandas`` and
    ``pandas_udf`` convert every batch to pandas and back (one Python
    object per list or binary value)."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        offenders += [f"{rel}:{line}" for line in
                      _pandas_map_calls(ast.parse(path.read_text(), str(path)))]
    assert not offenders, f"pandas kernels: {offenders}"


def test_detector_sees_pandas_map_calls():
    src = ("df.mapInPandas(f, schema)\n"
           "x = a.b.mapInPandas(\n    g, s)\n"
           "df.mapInArrow(f, schema)\n"
           "mapInPandas(f)\n"
           "fn = df.mapInPandas\n"
           "@F.pandas_udf('double')\ndef f(v): return v\n"
           "@pandas_udf\ndef g(v): return v\n"
           "h = pandas_udf(g, 'long')\n"
           "u = F.pandas_udf\n")
    assert _pandas_map_calls(ast.parse(src)) == [1, 2, 7, 9, 11]


def _private_imports(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, name) for each ``_name`` imported from the package, by a
    relative import or by the package's absolute name (dunders are not
    private)."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
                node.level or node.module.split(".")[0] == PACKAGE.name):
            found += [(node.lineno, a.name) for a in node.names
                      if a.name.startswith("_") and not a.name.endswith("__")]
    return sorted(found)


def test_no_private_cross_module_imports():
    """A module's ``_name`` is its own: another package module that needs
    it needs a public name, so the two modules' contract is visible.
    Tests may reach private names."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        offenders += [f"{rel}:{line} {name}" for line, name in
                      _private_imports(ast.parse(path.read_text(), str(path)))]
    assert not offenders, f"private names imported across modules: {offenders}"


def test_detector_sees_private_imports():
    src = ("from .polygon import _unpack, polygon_pixels\n"
           "from openelevationservice_spark.operators.color import (\n    a, _b)\n"
           "from ..functions import _codec as c\n"
           "from . import __version__\n"
           "from numpy import _private\n"
           "import openelevationservice_spark._x\n"
           "from __future__ import annotations\n")
    assert _private_imports(ast.parse(src)) == [(1, "_unpack"), (2, "_b"), (4, "_codec")]


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
    assert _shape_selectors(ast.parse(src)) == ["a(method)", "b(impl)", "b(index_strategy)",
                                                "d(emit)"]


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
           "polygon_pixels(*xs, spread=False)\n"
           "polygon_pixels(*xs, index_strategy='shuffle')\n"
           "polygon_pixels(a)\n")
    assert [(line, call) for line, call, _ in _unbound_library_calls(ast.parse(src))] == \
        [(3, "polygon_pixels"), (5, "api.no_such_function"), (7, "polygon_pixels"),
         (8, "polygon_pixels")]


#: defaulted parameters that no caller in the package or an entry point
#: sets, each kept for the reason given
UNSET_DEFAULTS_ALLOWED = {
    "api.py:ElevationService.point_get(format_out)": "request field, validated to 4000",
    "api.py:ElevationService.point_get(dataset)": "request field, validated to 4000",
    "api.py:ElevationService.line(dataset)": "request field, validated to 4000",
    "api.py:ElevationService.polygon(dataset)": "request field, validated to 4000",
    "api.py:ElevationService.colorpolygon(format_in)": "request field, validated to 4000",
    "api.py:ElevationService.colorpolygon(dataset)": "request field, validated to 4000",
    "grpc_shim.py:grpc_serve(port)": "deployment address of the gRPC server",
    "operators/dedup.py:connected_components(driver_max_pairs)":
        "the CC scale alternative; the distributed-path tests force it",
    "operators/dedup.py:connected_components(max_iters)":
        "the non-convergence bound; test_connected_components_unpersists_on_nonconvergence"
        " forces the raise",
}


def _functions(tree: ast.Module):
    """(qualified name, def, bound) for each top-level function and each
    method of a top-level class; ``bound`` is 1 where a call passes the
    first parameter implicitly (a method, a class's ``__init__``)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node, 0
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                                 for d in m.decorator_list)
                    yield f"{node.name}.{m.name}", m, 0 if static else 1


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return ([(i, p.arg) for i, p in enumerate(pos) if i >= first]
            + [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None])


def _unset_defaults(package: Path, entries: list[Path]) -> list[str]:
    """``module:function(param)`` for each defaulted parameter of a
    top-level function or class method of ``package`` that no call in
    the package or in ``entries`` passes, by keyword or by position.

    Calls match by the callee's bare name (``f(...)``, ``x.f(...)``; a
    class's ``__init__`` by ``C(...)``), so any call named like the
    function counts.  A call with ``**kwargs`` passes every keyword, one
    with ``*args`` every position."""
    calls: dict[str, list[ast.Call]] = {}
    for path in sorted(set(package.rglob("*.py")) | set(entries)):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for qual, fn, bound in _functions(ast.parse(path.read_text(), str(path))):
            cls, _, meth = qual.rpartition(".")
            callee = cls if meth == "__init__" else fn.name
            for i, param in _defaulted(fn):
                pos = None if i is None else i - bound
                if not any(_passes(c, param, pos) for c in calls.get(callee, [])):
                    found.append(f"{rel}:{qual}({param})")
    return found


def _passes(call: ast.Call, param: str, pos: int | None) -> bool:
    """Whether ``call`` sets ``param``: by keyword, or as its argument at
    position ``pos`` (None: keyword-only)."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    return pos is not None and pos >= 0 and (
        len(call.args) > pos or any(isinstance(a, ast.Starred) for a in call.args))


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = _unset_defaults(PACKAGE, ENTRY_POINTS)
    offenders = [u for u in unset if u not in UNSET_DEFAULTS_ALLOWED]
    assert not offenders, ("defaulted parameters no caller sets (make each a constant, "
                           f"or allow it with a reason): {offenders}")
    stale = sorted(set(UNSET_DEFAULTS_ALLOWED) - set(unset))
    assert not stale, f"allowed unset defaults that a caller sets or that are gone: {stale}"


def test_detector_sees_unset_defaults(tmp_path):
    files = {
        "entry.py": "from pkg.a import f, C\nf(1, 2, k=3)\nC(0).m(4)\nC(x=1)\n",
        "pkg/__init__.py": "",
        "pkg/a.py": "def f(a, b=1, c=2, *, k=0, j=1): return g(*xs) + h(**kw)\n"
                    "def g(a=1, b=2): pass\n"
                    "def h(a, b=2): pass\n"
                    "class C:\n"
                    "    def __init__(self, x=0, y=0): pass\n"
                    "    def m(self, p=1, q=2): pass\n"
                    "    @staticmethod\n"
                    "    def s(p=1): pass\n"
                    "def outer(n=1):\n    def inner(z=1): pass\n",
        "tests/test_a.py": "from pkg.a import f, outer\nf(1, 2, 3, j=4)\nouter(n=2)\n",
    }
    for name, src in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(src)
    # a test's call sets nothing; a nested function is not a parameter
    # surface; ``C(x=1)`` sets ``__init__``'s x, ``C(0)`` its x by position
    assert _unset_defaults(tmp_path / "pkg", [tmp_path / "entry.py"]) == \
        ["a.py:f(c)", "a.py:f(j)", "a.py:C.__init__(y)", "a.py:C.m(q)", "a.py:C.s(p)",
         "a.py:outer(n)"]


#: parameters a function never reads, each kept for the reason given
UNREAD_ALLOWED = {
    "contract.py:q_*(sf_dir)": "the uniform QUERIES signature (spark, sf_dir)",
    "operators/*.py:polygon_*(spread)":
        "perfbench still passes it; it leaves with the next benchmark change",
}


def _unread_params(package: Path) -> list[str]:
    """``module:function(param)`` for each parameter of a top-level
    function or class method of ``package`` that its body never reads."""
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for qual, fn, _ in _functions(ast.parse(path.read_text(), str(path))):
            a = fn.args
            params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
            params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
            read = {n.id for stmt in fn.body for n in ast.walk(stmt)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
            found += [f"{rel}:{qual}({p})" for p in params if p not in read]
    return found


def test_every_parameter_is_read():
    unread = _unread_params(PACKAGE)
    offenders = [u for u in unread
                 if not any(fnmatch.fnmatchcase(u, pat) for pat in UNREAD_ALLOWED)]
    assert not offenders, f"parameters their function never reads: {offenders}"
    stale = [pat for pat in UNREAD_ALLOWED
             if not any(fnmatch.fnmatchcase(u, pat) for u in unread)]
    assert not stale, f"allowed unread parameters that are read or gone: {stale}"


def test_detector_sees_unread_parameters(tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "a.py").write_text(
        "def f(a, b, *args, c=1, **kw):\n    return a + args[0] + kw['x']\n"
        "def g(a, w=None, h=None):\n    def inner(w):\n        return w\n"
        "    return inner(a)\n"
        "class C:\n    def m(self, x):\n        self.x = 1\n"
        "def k(x):\n    x = 2\n    return lambda: x\n")
    # names match by bare identifier: ``inner`` reading its own ``w``
    # counts as a read of ``g``'s
    assert _unread_params(tmp_path / "pkg") == \
        ["a.py:f(b)", "a.py:f(c)", "a.py:g(h)", "a.py:C.m(x)"]


def _imported_files(path: Path, root: Path) -> set[Path]:
    """Files under ``root`` that ``path`` imports anywhere in its body
    (function-local imports included), relative imports resolved."""
    pkg = path.relative_to(root).parent.parts
    candidates = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            candidates += [a.name.split(".") for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = list(pkg[:len(pkg) - node.level + 1]) if node.level else []
            base += node.module.split(".") if node.module else []
            candidates += [base] + [base + [a.name] for a in node.names]
    found = set()
    for parts in filter(None, candidates):
        module = root.joinpath(*parts)
        for f in (module.with_suffix(".py"), module / "__init__.py"):
            if f.is_file():
                found.add(f)
    return found


def _unreached(package: Path, entries: list[Path]) -> list[str]:
    """Non-``__init__`` modules of ``package`` that no chain of imports
    from ``entries`` reaches."""
    root = package.parent
    seen, todo = set(entries), list(entries)
    while todo:
        new = _imported_files(todo.pop(), root) - seen
        seen |= new
        todo += new
    return sorted(p.relative_to(package).as_posix() for p in package.rglob("*.py")
                  if p.name != "__init__.py" and p not in seen)


def test_every_module_is_reachable():
    unreached = _unreached(PACKAGE, ENTRY_POINTS)
    assert not unreached, f"modules no entry point imports: {unreached}"


def test_detector_sees_unreached_module(tmp_path):
    files = {
        "pkg/__init__.py": "",
        "pkg/entry.py": "from .a import f\nimport pkg.b as b\n"
                        "def g():\n    from pkg.sub import c\n",
        "pkg/a.py": "from ..pkg.sub.d import h\n",
        "pkg/b.py": "import os\n",
        "pkg/sub/__init__.py": "",
        "pkg/sub/c.py": "",
        "pkg/sub/d.py": "",
        "pkg/dead.py": "from .sub import gone\n",
        "pkg/sub/gone.py": "",
    }
    for name, src in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(src)
    package = tmp_path / "pkg"
    assert _unreached(package, [package / "entry.py"]) == ["dead.py", "sub/gone.py"]


DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _identifiers(node: ast.AST) -> set[str]:
    """Every ``Name`` and ``Attribute`` identifier under ``node``."""
    ids = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            ids.add(n.id)
        elif isinstance(n, ast.Attribute):
            ids.add(n.attr)
    return ids


def _unreached_names(package: Path, entries: list[Path]) -> list[str]:
    """``module:name`` for each top-level function or class of ``package``
    that no entry point reaches by name.

    Roots are the identifiers defined or used anywhere in ``entries``
    (imports included) and those used by the module-level statements of
    the package, which run on import.  A reached definition adds the
    identifiers used in its body, to a fixpoint.  Matching is by bare
    name, so it is conservative: any ``x.parent`` keeps every ``parent``
    alive."""
    roots = set()
    for path in entries:
        tree = ast.parse(path.read_text(), str(path))
        roots |= _identifiers(tree)
        for node in ast.walk(tree):
            if isinstance(node, DEFS):
                roots.add(node.name)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= {a.asname or a.name.split(".")[-1] for a in node.names}
    defs = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, DEFS):
                defs.append((rel, node.name, _identifiers(node)))
            else:
                roots |= _identifiers(node)
    reached, grown = roots, True
    while grown:
        grown = False
        for _, name, used in defs:
            if name in reached and not used <= reached:
                reached |= used
                grown = True
    return [f"{rel}:{name}" for rel, name, _ in defs if name not in reached]


def test_every_top_level_name_is_reachable():
    unreached = _unreached_names(PACKAGE, ENTRY_POINTS)
    assert not unreached, f"functions and classes no entry point reaches: {unreached}"


def test_detector_sees_unreached_name(tmp_path):
    files = {
        "entry.py": "from pkg.a import f\nimport pkg.b as b\n"
                    "def g():\n    return b.h()\n",
        "pkg/__init__.py": "",
        "pkg/a.py": "K = _k()\ndef _k(): return 1\n"
                    "def f(): return _helper()\ndef _helper(): return 2\n"
                    "def dead(): return _only_dead()\ndef _only_dead(): return 3\n",
        "pkg/b.py": "class C:\n    def m(self): return i()\n"
                    "def h(): return C()\ndef i(): return 4\n"
                    "class Dead:\n    pass\n"
                    "def parent(): return 5\n",
        "pkg/c.py": "def fresh(): return 6\n",
        "other.py": "import pathlib\np = pathlib.Path('.').parent\n",
    }
    for name, src in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(src)
    package = tmp_path / "pkg"
    assert _unreached_names(package, [tmp_path / "entry.py"]) == \
        ["a.py:dead", "a.py:_only_dead", "b.py:Dead", "b.py:parent", "c.py:fresh"]
    # bare-name matching: an attribute ``parent`` anywhere in a root keeps
    # every function named ``parent`` alive
    assert "b.py:parent" not in _unreached_names(
        package, [tmp_path / "entry.py", tmp_path / "other.py"])
