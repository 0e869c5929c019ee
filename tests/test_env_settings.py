"""The package reads only deployment settings from the environment.

Measurement switches (per-site A/B skips, alternate-mechanism modes)
once crept into the operators and outlived the comparisons they served.
This guard parses every module under ``fink_joiner_spark/`` and fails
when the package reads an environment variable outside the deployment
set below, or reads one whose name is not a string literal (which the
scan could not check).
"""

from __future__ import annotations

import ast
from pathlib import Path

_PACKAGE = Path(__file__).resolve().parent.parent / "fink_joiner_spark"

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_DRIVER_JAVA_OPTS",
    "SPARK_GRAFT_FIXTURE_CACHE",
    "SPARK_UI",
    "SPARK_MASTER",
}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST) -> tuple[list[tuple[int, str | None]], int]:
    """(line, name) of every recognised read — ``os.environ.get/
    setdefault/pop(name)``, ``os.getenv(name)``, ``os.environ[name]``,
    ``name in os.environ`` — with name None when not a literal; plus
    the number of ``os.environ`` references the scan did not recognise
    (an alias or a whole-mapping use hides the names read)."""
    reads: list[tuple[int, str | None]] = []
    seen: set[int] = set()

    def literal(node: ast.AST | None) -> str | None:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if _is_os_environ(f.value) and f.attr in ("get", "setdefault", "pop"):
                seen.add(id(f.value))
                reads.append((node.lineno, literal(node.args[0] if node.args else None)))
            elif (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                reads.append((node.lineno, literal(node.args[0] if node.args else None)))
        elif isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            seen.add(id(node.value))
            reads.append((node.lineno, literal(node.slice)))
        elif isinstance(node, ast.Compare) and any(
            _is_os_environ(c) for c in node.comparators
        ):
            for c in node.comparators:
                if _is_os_environ(c):
                    seen.add(id(c))
            reads.append((node.lineno, literal(node.left)))
    unrecognised = sum(
        1 for node in ast.walk(tree) if _is_os_environ(node) and id(node) not in seen
    )
    return reads, unrecognised


def test_scanner_recognises_every_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.getenv('B', '1')\n"
        "c = os.environ['C']\n"
        "d = 'D' in os.environ\n"
        "e = os.environ.get(name)\n"
        "f = dict(os.environ)\n"
    )
    reads, unrecognised = _env_reads(ast.parse(src))
    assert reads == [(2, "A"), (3, "B"), (4, "C"), (5, "D"), (6, None)]
    assert unrecognised == 1


def test_package_reads_only_deployment_settings():
    files = sorted(_PACKAGE.rglob("*.py"))
    assert files, _PACKAGE
    found: set[str] = set()
    bad = []
    for path in files:
        reads, unrecognised = _env_reads(ast.parse(path.read_text(), str(path)))
        rel = path.relative_to(_PACKAGE.parent)
        if unrecognised:
            bad.append(f"{rel}: {unrecognised} os.environ use(s) the scan cannot check")
        for line, name in reads:
            if name is None:
                bad.append(f"{rel}:{line}: environment read with a computed name")
            elif name not in DEPLOYMENT_SETTINGS:
                bad.append(f"{rel}:{line}: reads {name}")
            else:
                found.add(name)
    assert not bad, (
        "the package may read only deployment settings "
        f"{sorted(DEPLOYMENT_SETTINGS)}:\n" + "\n".join(bad)
    )
    # the scan must still see the settings it allows, or it has gone blind
    assert found == DEPLOYMENT_SETTINGS, sorted(DEPLOYMENT_SETTINGS - found)
