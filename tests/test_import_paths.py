"""Every engine import resolves.

The package imports lazily inside functions, so a stale module path or a
moved name fails only when that function runs. This walks the source
(no import, no Spark) and checks each ``fsst_spark...`` and relative
import against the module it names."""

import ast
import functools
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "fsst_spark"


def _sources() -> list[pathlib.Path]:
    return sorted([*(ROOT / PKG).rglob("*.py"), ROOT / "__spark_entry__.py",
                   *(ROOT / "tests").glob("*.py")])


def _module_path(module: str) -> pathlib.Path | None:
    base = ROOT.joinpath(*module.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


@functools.lru_cache(maxsize=None)
def _top_level_names(path: pathlib.Path) -> set[str]:
    """Names a module binds at import time: defs, classes, assignments and
    imports, including those under top-level ``if`` / ``try`` blocks."""
    names: set[str] = set()
    stack = list(ast.parse(path.read_text()).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                names.update(n.id for n in ast.walk(t)
                             if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
        elif isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse)
            stack.extend(getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                stack.extend(h.body)
    return names


def _package_of(path: pathlib.Path) -> list[str]:
    """Dotted-name parts of the package a source file belongs to."""
    return list(path.relative_to(ROOT).parent.parts)


def _imports(path: pathlib.Path):
    """(line, module, imported names or None) for every engine import."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(path)
                base = pkg[:len(pkg) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            elif (node.module or "").split(".")[0] == PKG:
                module = node.module
            else:
                continue
            yield node.lineno, module, [a.name for a in node.names]


def _unresolved(path: pathlib.Path) -> list[str]:
    bad = []
    for line, module, names in _imports(path):
        mod_path = _module_path(module)
        where = f"{path}:{line}"
        if mod_path is None:
            bad.append(f"{where}: no module {module}")
            continue
        defined = _top_level_names(mod_path)
        for name in names or []:
            if name != "*" and name not in defined and \
                    _module_path(f"{module}.{name}") is None:
                bad.append(f"{where}: {module} defines no {name}")
    return bad


def test_engine_imports_resolve():
    bad = [msg for path in _sources() for msg in _unresolved(path)]
    assert bad == []


def test_guard_sees_a_stale_import(tmp_path):
    """The walk flags a missing module and a missing name, and passes a
    good import."""
    stale = tmp_path / "stale.py"
    stale.write_text("def f():\n"
                     "    from fsst_spark.no_such_module import x\n"
                     "    from fsst_spark.jobs.decode import no_such_name\n"
                     "    from fsst_spark.jobs.decode import decode_job\n")
    assert [msg.split(": ", 1)[1] for msg in _unresolved(stale)] == [
        "no module fsst_spark.no_such_module",
        "fsst_spark.jobs.decode defines no no_such_name"]
