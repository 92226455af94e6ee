"""Surface guard: the package exposes no function, parameter or data
file that nothing uses. Scanned from source with ``ast`` over every
``.py`` file of the repository (package, tests, tools, examples,
``bench.py``, ``perfbench/``); nothing is imported and no Spark session
starts.

Seven findings fail:

* a top-level package function that no reached code names (reachability
  by name, from module-level code, registered queries and every file
  outside the package);
* a top-level package function that only test files reach (``tests/``,
  ``test_*.py``, ``conftest.py``): the same scan with test files left out
  of the roots. ``REFERENCE_TWINS`` names the exceptions, each a
  brute-force twin that a remaining test compares a program path against;
* a parameter its function never reads;
* a defaulted parameter that no call of its function's name sets, by
  position, by keyword, through ``*args``/``**kwargs`` or through
  ``functools.partial``; aliased imports count as the original name, and
  a call by a name several functions share counts for each of them;
* a data file (any non-``.py`` file under the package's ``functions/``
  or under ``tests/fixtures/``) whose basename no string constant of any
  ``.py`` file contains: a released model or golden fixture left behind
  by the code that loaded it;
* a file other than ``__spark_entry__.py`` that names the driver
  contract's fixed checkout path;
* a file that imports ``__spark_entry__`` before the package (a
  ``conftest.py`` that imports the package counts for the tests it
  covers): the contract's fixed path would shadow the file's own
  checkout.

``testkit.py`` is out of scope: its builders' defaults are the fields
of a template record, not options of the program.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "youtube_etl_project_spark"
OUT_OF_SCOPE = {PKG / "testkit.py"}
DATA_DIRS = (PKG / "functions", REPO / "tests" / "fixtures")

# Deployment settings: each default is right for this repository's
# environment and is the knob a deployment elsewhere changes.
ALLOWED = {
    "session.py:get_spark(master)": "cluster master URL; None defers to spark-submit",
    "functions/bpe.py:released_merges(path)": "where the released merge table lives",
    "sql.py:register_catalog(prefix)": "view-name prefix for a shared session catalog",
}

# Package functions only tests reach, kept because a remaining test
# compares a program path against them: (reason, the test files that do).
REFERENCE_TWINS = {
    "operators/similarity.py:cosine_pairs": (
        "brute-force cross-join cosine pairs; test_similarity compares "
        "cosine_pairs_blocked and test_semantic compares semantic_dedup "
        "against it",
        ("test_similarity.py", "test_semantic.py"),
    ),
}

_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)


def _hidden(path: Path) -> bool:
    rel = path.relative_to(REPO).parts
    return any(p.startswith(".") or p == "__pycache__" for p in rel)


@cache
def _trees() -> dict[Path, ast.Module]:
    return {
        py: ast.parse(py.read_text(), str(py))
        for py in sorted(REPO.rglob("*.py"))
        if not _hidden(py)
    }


def _package_files() -> list[Path]:
    return [p for p in _trees() if p.is_relative_to(PKG) and p not in OUT_OF_SCOPE]


def _names(node: ast.AST) -> set[str]:
    """Every name a node mentions: identifiers, attributes, imported
    names and identifier-shaped string constants (``getattr`` and
    ``monkeypatch.setattr`` targets)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _registers(fn: ast.FunctionDef) -> bool:
    """Decorated with ``register(...)`` (the query registry) or
    ``atexit.register``: reached through the decorator."""
    for d in fn.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if (isinstance(d, ast.Name) and d.id == "register") or (
            isinstance(d, ast.Attribute) and d.attr == "register"
        ):
            return True
    return False


def _where(py: Path, qual: str) -> str:
    return f"{py.relative_to(PKG).as_posix()}:{qual}"


def _is_test(py: Path) -> bool:
    return (
        py.relative_to(REPO).parts[0] == "tests"
        or py.name.startswith("test_")
        or py.name == "conftest.py"
    )


def _unreached(with_tests: bool) -> list[tuple[Path, ast.FunctionDef]]:
    roots: set[str] = set()
    bodies: dict[str, set[str]] = defaultdict(set)
    defs = []
    pkg = set(_package_files())
    for py, tree in _trees().items():
        if not with_tests and _is_test(py):
            continue
        for node in tree.body:
            if py in pkg and isinstance(node, _FUNC):
                defs.append((py, node))
                bodies[node.name] |= _names(node)
                if _registers(node):
                    roots.add(node.name)
            else:
                roots |= _names(node)
    reached, todo = set(roots), list(roots)
    while todo:
        for m in bodies.get(todo.pop(), ()):
            if m not in reached:
                reached.add(m)
                todo.append(m)
    return [(py, n) for py, n in defs if n.name not in reached]


def _dead_functions() -> list[str]:
    return [
        f"{_where(py, n.name)} line {n.lineno}"
        for py, n in _unreached(with_tests=True)
    ]


def _test_only_functions() -> list[str]:
    dead = {id(n) for _, n in _unreached(with_tests=True)}
    return [
        _where(py, n.name)
        for py, n in _unreached(with_tests=False)
        if id(n) not in dead
    ]


def _functions():
    """(file, qualname, def, is_method, fixed_signature) for every
    top-level function and method of a top-level class. A registered
    query's signature is fixed by the registry, and a method of a class
    with a base overrides the base's signature."""
    for py in _package_files():
        for node in _trees()[py].body:
            if isinstance(node, _FUNC):
                yield py, node.name, node, False, _registers(node)
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, _FUNC):
                        static = any(
                            isinstance(d, ast.Name) and d.id == "staticmethod"
                            for d in m.decorator_list
                        )
                        yield (
                            py, f"{node.name}.{m.name}", m, not static,
                            bool(node.bases),
                        )


def _params(fn: ast.FunctionDef, is_method: bool) -> list[ast.arg]:
    a = fn.args
    params = a.posonlyargs + a.args + a.kwonlyargs
    return params[1:] if is_method else params


def _unread_parameters() -> list[str]:
    out = []
    for py, qual, fn, is_method, fixed in _functions():
        if fixed:
            continue
        read = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        out += [
            f"{_where(py, qual)}({p.arg})"
            for p in _params(fn, is_method)
            if p.arg not in read
        ]
    return out


def _callee(func: ast.expr, alias: dict[str, str]) -> str | None:
    if isinstance(func, ast.Name):
        return alias.get(func.id, func.id)
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls():
    """(callee name, called through an attribute, args, keywords) for
    every call in the repository; ``partial(f, ...)`` is a call of f."""
    for tree in _trees().values():
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            func, args = n.func, n.args
            if _callee(func, alias) == "partial" and args:
                func, args = args[0], args[1:]
            name = _callee(func, alias)
            if name is not None:
                yield name, isinstance(func, ast.Attribute), args, n.keywords


def _unset_defaults() -> list[str]:
    functions = list(_functions())
    by_name = defaultdict(list)
    for f in functions:
        # a constructor call names the class, not ``__init__``
        name = f[1].split(".")[0] if f[2].name == "__init__" else f[2].name
        by_name[name].append(f)
    # a call by name may reach every definition of that name
    set_by_call: dict[int, set[str]] = defaultdict(set)
    for name, via_attr, args, keywords in _calls():
        for _, _, fn, is_method, _ in by_name.get(name, ()):
            done = set_by_call[id(fn)]
            a = fn.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            if is_method and (via_attr or fn.name == "__init__"):
                positional = positional[1:]
            if any(isinstance(x, ast.Starred) for x in args) or any(
                k.arg is None for k in keywords
            ):
                done.add("*")
                continue
            done |= set(positional[: len(args)])
            done |= {k.arg for k in keywords}
    out = []
    for py, qual, fn, _, _ in functions:
        done = set_by_call[id(fn)]
        if "*" in done:
            continue
        a = fn.args
        positional = a.posonlyargs + a.args
        defaulted = [p.arg for p in positional[len(positional) - len(a.defaults):]]
        defaulted += [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        out += [f"{_where(py, qual)}({p})" for p in defaulted if p not in done]
    return out


def _report(found: list[str]) -> None:
    assert not found, f"{len(found)} found:\n" + "\n".join(found)


def test_no_unreferenced_package_function():
    _report(_dead_functions())


def test_no_package_function_only_tests_reach():
    _report(sorted(set(_test_only_functions()) - set(REFERENCE_TWINS)))


def test_no_parameter_its_function_never_reads():
    _report(sorted(set(_unread_parameters()) - set(ALLOWED)))


def test_no_defaulted_parameter_that_no_call_sets():
    _report(sorted(set(_unset_defaults()) - set(ALLOWED)))


def test_allowlist_names_live_deployment_settings():
    """Every allowlist entry has a reason and still names a finding the
    scan would otherwise report; every reference twin is still named by
    each test file its reason cites."""
    found = set(_unread_parameters()) | set(_unset_defaults())
    assert all(ALLOWED.values())
    assert sorted(set(ALLOWED) - found) == []
    assert sorted(set(REFERENCE_TWINS) - set(_test_only_functions())) == []
    for where, (reason, tests) in REFERENCE_TWINS.items():
        name = where.rsplit(":", 1)[1]
        assert reason and tests, where
        for t in tests:
            assert name in _names(_trees()[REPO / "tests" / t]), (where, t)


def _unnamed_data_files() -> list[str]:
    strings = "\n".join(
        n.value
        for tree in _trees().values()
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    )
    return [
        f.relative_to(REPO).as_posix()
        for d in DATA_DIRS
        for f in sorted(d.rglob("*"))
        if f.is_file()
        and f.suffix != ".py"
        and not _hidden(f)
        and f.name not in strings
    ]


def test_every_data_file_is_named_by_code():
    _report(_unnamed_data_files())


def _entry_checkout_path() -> str:
    """The fixed checkout path the driver contract puts on ``sys.path``:
    the string argument of ``sys.path.insert`` in ``__spark_entry__.py``."""
    for n in ast.walk(_trees()[REPO / "__spark_entry__.py"]):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "insert"
            and isinstance(n.args[-1], ast.Constant)
        ):
            return n.args[-1].value
    raise AssertionError("__spark_entry__.py inserts no fixed path")


def test_no_fixed_checkout_path_outside_the_driver_contract():
    """Only the driver contract may name its fixed checkout path; any
    other file that did would import, or read, that checkout instead of
    its own when run from a second copy."""
    fixed = _entry_checkout_path()
    _report(sorted(
        py.relative_to(REPO).as_posix()
        for py in _trees()
        if py.name != "__spark_entry__.py" and fixed in py.read_text()
    ))


def _first_import_line(nodes, module: str) -> int | None:
    """Line of the first ``import module[.x]`` or ``from module[.x]
    import ...`` among ``nodes``."""
    lines = []
    for n in nodes:
        if isinstance(n, ast.Import):
            names = [a.name for a in n.names]
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            names = [n.module]
        else:
            continue
        if any(m == module or m.startswith(module + ".") for m in names):
            lines.append(n.lineno)
    return min(lines, default=None)


def _entry_before_package() -> list[str]:
    pkg = PKG.name
    # a conftest that imports the package at module level runs before
    # every test file beside or below it
    preloaded = [
        py.parent
        for py, tree in _trees().items()
        if py.name == "conftest.py"
        and _first_import_line(tree.body, pkg) is not None
    ]
    out = []
    for py, tree in _trees().items():
        entry = _first_import_line(ast.walk(tree), "__spark_entry__")
        if entry is None or any(d in py.parents for d in preloaded):
            continue
        first = _first_import_line(ast.walk(tree), pkg)
        if first is None or first > entry:
            out.append(py.relative_to(REPO).as_posix())
    return sorted(out)


def test_package_is_imported_before_the_driver_contract():
    """``__spark_entry__`` puts the driver's fixed checkout first on
    ``sys.path``. A script that imports it before the package would then
    import that checkout's package, not its own, when run from a second
    copy (a parent checkout in an A/B comparison)."""
    _report(_entry_before_package())
