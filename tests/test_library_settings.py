"""Library code takes no settings from the environment.

Deployment settings (session sizing, the submit CLI's defaults) are the
only place the package reads environment variables; every operator
decision must come from its arguments or its input, never from an
env-var switch a caller cannot see.
"""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "openelevationservice_spark"
DEPLOYMENT_SETTINGS = {"plans/session.py", "plans/submit.py"}
ENV_READERS = {"environ", "environb", "getenv", "getenvb"}


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
