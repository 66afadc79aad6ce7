"""The command-line tools stay loadable: every script under ``tools/``
and ``bench.py`` compiles, every import they (and the tests) make
outside a ``try: ... except ImportError`` resolves, and
``tools/scale_cores.py`` parses its documented flags.

Nothing here starts Spark; the scripts are compiled and their imports
resolved statically.
"""

from __future__ import annotations

import ast
import importlib.util
import sys
from importlib.machinery import PathFinder
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"
TESTS = ROOT / "tests"
SCRIPTS = sorted(TOOLS.glob("*.py")) + [ROOT / "bench.py"]


def test_tools_and_bench_compile():
    bad = {}
    for path in SCRIPTS:
        try:
            compile(path.read_text(), str(path), "exec")
        except SyntaxError as exc:
            bad[path.name] = str(exc)
    assert not bad, bad


def _guarded(tree: ast.AST) -> set[int]:
    """ids of nodes inside a ``try`` that catches ImportError."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Try):
            continue
        caught = {
            n.id for h in node.handlers if h.type is not None
            for n in ast.walk(h.type) if isinstance(n, ast.Name)
        }
        if caught & {"ImportError", "ModuleNotFoundError"}:
            out |= {id(n) for stmt in node.body for n in ast.walk(stmt)}
    return out


def _imports(path: Path) -> list[str]:
    """Top-level module names imported outside an ImportError guard."""
    tree = ast.parse(path.read_text())
    guarded = _guarded(tree)
    names = []
    for node in ast.walk(tree):
        if id(node) in guarded:
            continue
        if isinstance(node, ast.Import):
            names += [a.name.split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.append(node.module.split(".")[0])
    return names


def test_every_import_resolves():
    # the environment's path, without the two script directories: a
    # sibling-script import must resolve to a file that exists there
    env_path = [
        p for p in sys.path
        if Path(p or ".").resolve() not in (TOOLS, TESTS)
    ]
    env_path.insert(0, str(ROOT))
    siblings, unresolved = set(), []
    for path in SCRIPTS + sorted(TESTS.glob("*.py")):
        for name in _imports(path):
            local = [d for d in (TOOLS, TESTS) if (d / f"{name}.py").is_file()]
            if local:
                siblings.add((path.stem, name))
            elif not (
                name in sys.stdlib_module_names
                or PathFinder.find_spec(name, env_path) is not None
            ):
                unresolved.append(f"{path.relative_to(ROOT)}: {name}")
    assert unresolved == []
    # the known sibling edges are seen, so the scan is not vacuous
    assert {
        ("scale_cores", "scale_test"),
        ("test_differential_fuzz", "check_parity"),
    } <= siblings


@pytest.fixture(scope="module")
def scale_cores():
    spec = importlib.util.spec_from_file_location(
        "scale_cores", TOOLS / "scale_cores.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("argv", [
    ["--cores", "4,16", "--queries", "a,b"],
    ["--cores=4,16", "--queries=a,b"],
])
def test_scale_cores_accepts_both_flag_forms(scale_cores, argv):
    args = scale_cores.parse_args(["3", *argv])
    assert (args.n, args.cores, args.queries) == (3, [4, 16], ["a", "b"])


def test_scale_cores_defaults(scale_cores):
    args = scale_cores.parse_args([])
    assert (args.n, args.cores) == (10, [8, 32])
    assert args.queries == scale_cores.DEFAULT_QUERIES


@pytest.mark.parametrize("cores", ["0", "8,0", "-4", "8,x", ""])
def test_scale_cores_rejects_bad_core_counts(scale_cores, cores, capsys):
    with pytest.raises(SystemExit) as exc:
        scale_cores.parse_args(["--cores", cores])
    assert exc.value.code == 2
    assert "--cores" in capsys.readouterr().err
