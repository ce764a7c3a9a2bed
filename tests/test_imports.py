"""Import/parse guard: every module in the package must compile, import,
and be reached by the imports of the program itself.

Round-10 postmortem (VERDICT r10 §wrong): a single mid-refactor edit left
``operators/relational_ext.py`` syntactically invalid, and because the
registry imports every operator module eagerly, the WHOLE 275-query
surface (driver correctness gate, bench, pytest collection) went dark.
This test makes that class of breakage impossible to miss in any pytest
invocation — it runs in well under a second and needs no SparkSession.
"""

import ast
import importlib
import os
import pkgutil
import py_compile
import subprocess
import sys
from pathlib import Path

import hhs_and_cms_data_pipeline_spark as pkg

PKG_ROOT = Path(pkg.__file__).parent


def _walk_module_names():
    names = [pkg.__name__]
    for info in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + "."):
        names.append(info.name)
    return names


def test_every_module_compiles(tmp_path):
    # Byte-compile into tmp_path, not the package's __pycache__: a later run
    # from this checkout would otherwise import the cached bytecode.
    failures = {}
    for f in sorted(PKG_ROOT.rglob("*.py")):
        try:
            py_compile.compile(str(f), cfile=str(tmp_path / "m.pyc"), doraise=True)
        except py_compile.PyCompileError as exc:
            failures[str(f.relative_to(PKG_ROOT))] = exc.msg
    assert not failures, f"modules failed to byte-compile: {failures}"


def test_every_module_imports():
    failures = {}
    for name in _walk_module_names():
        try:
            importlib.import_module(name)
        except Exception as exc:  # noqa: BLE001 — report every breakage
            failures[name] = repr(exc)
    assert not failures, f"modules failed to import: {failures}"


def _module_name(path: Path) -> str:
    parts = path.relative_to(PKG_ROOT.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: Path, name: str) -> set[str]:
    """Every module an import statement anywhere in the file names: at
    module level or inside a function, absolute or relative, plus the
    ``X.y`` of a ``from X import y`` (y may be a submodule)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    return found


def test_every_package_module_has_a_program_consumer():
    """Every package module must be reachable by imports from what the
    program runs: the registry's operator modules, the registry, the
    session and the sinks. A module that only tests import belongs with
    the tests (or nowhere). Static walk; importing a module also runs its
    parent packages' ``__init__``."""
    from hhs_and_cms_data_pipeline_spark import registry

    paths = {_module_name(p): p for p in PKG_ROOT.rglob("*.py")}
    todo = [
        *registry._OPERATOR_MODULES,
        *(f"{pkg.__name__}.{m}" for m in ("registry", "session", "sinks")),
    ]
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached or name not in paths:
            continue
        reached.add(name)
        todo.extend(_imported_modules(paths[name], name))
        todo.append(name.rpartition(".")[0])
    unreached = sorted(set(paths) - reached)
    assert not unreached, f"no program path imports: {unreached}"


def test_registry_serves_full_surface():
    from hhs_and_cms_data_pipeline_spark.registry import all_specs

    specs = all_specs()
    assert len(specs) >= 275, (
        f"registry shrank to {len(specs)} queries — an operator module "
        "probably failed to import or a rename dropped registrations"
    )


def test_registry_serves_registration_order():
    """all_specs() serves the registry in registration order, the same on
    every call: names are the contract and the order carries no meaning."""
    from hhs_and_cms_data_pipeline_spark import registry

    first = list(registry.all_specs())
    assert first == list(registry._REGISTRY)
    assert list(registry.all_specs()) == first
    assert len(first) == 280


def _tree_state(root: str) -> dict[str, tuple[int, int]]:
    state = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != ".git"]
        for f in files:
            path = os.path.join(d, f)
            try:
                st = os.lstat(path)
            except FileNotFoundError:
                continue
            state[path] = (st.st_mtime_ns, st.st_size)
    return state


def _changed(before: dict, after: dict) -> list[str]:
    return sorted(p for p in before.keys() | after.keys() if before.get(p) != after.get(p))


def test_importing_operators_writes_no_file(tmp_path):
    """Importing the package and every operator module (via all_specs())
    must write nothing: not into the checkout, not into the temp dir. The
    fixtures the oracles read are written by the builders, when they run."""
    repo = str(PKG_ROOT.parent)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    # no bytecode cache: the interpreter's own .pyc writes are not the
    # program's side effects
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": repo,
    }
    before_repo, before_tmp = _tree_state(repo), _tree_state(str(tmp))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from hhs_and_cms_data_pipeline_spark import registry\n"
            "n = len(registry.all_specs())\n"
            "assert not registry.IMPORT_ERRORS, registry.IMPORT_ERRORS\n"
            "print(n)",
        ],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert int(out.stdout.split()[-1]) == 280
    assert _changed(before_repo, _tree_state(repo)) == []
    assert _changed(before_tmp, _tree_state(str(tmp))) == []


def test_broken_module_degrades_to_partial_surface(monkeypatch, capsys):
    """One broken operator module must NOT take down the whole registry
    (round-10 failure mode): the healthy modules' queries stay servable
    and the breakage is recorded loudly in registry.IMPORT_ERRORS."""
    from hhs_and_cms_data_pipeline_spark import registry

    healthy = len(registry.all_specs())
    monkeypatch.setattr(
        registry,
        "_OPERATOR_MODULES",
        registry._OPERATOR_MODULES
        + ("hhs_and_cms_data_pipeline_spark.operators.__does_not_exist__",),
    )
    specs = registry.all_specs()
    assert len(specs) == healthy, "healthy modules' queries must survive"
    assert list(registry.IMPORT_ERRORS) == [
        "hhs_and_cms_data_pipeline_spark.operators.__does_not_exist__"
    ]
    assert "FAILED TO IMPORT" in capsys.readouterr().err
    # A clean pass must clear the stale error record.
    monkeypatch.undo()
    registry.all_specs()
    assert registry.IMPORT_ERRORS == {}


def test_half_imported_module_queries_are_pruned(monkeypatch, capsys):
    """Decorators run top-to-bottom, so a module that dies mid-import has
    already registered its early queries against half-initialized module
    state. all_specs() must prune those, not serve them (ADVICE r11)."""
    from hhs_and_cms_data_pipeline_spark import registry

    broken = "hhs_and_cms_data_pipeline_spark.operators.__half_broken__"

    def orphan_builder(spark, sf_dir):  # pragma: no cover — never served
        raise RuntimeError("must have been pruned")

    orphan_builder.__module__ = broken
    healthy = dict(registry.all_specs())
    monkeypatch.setattr(
        registry,
        "_OPERATOR_MODULES",
        registry._OPERATOR_MODULES + (broken,),
    )
    # Register through the real decorator on a throwaway copy of the
    # registry: the prune keys on the served builder's ``__module__``, which
    # the session-conf wrapper must carry over from the wrapped function.
    monkeypatch.setattr(registry, "_REGISTRY", dict(registry._REGISTRY))
    registry.register("__orphan_query__")(orphan_builder)
    specs = registry.all_specs()
    assert "__orphan_query__" not in specs, (
        "a half-imported module's early registrations must be pruned"
    )
    assert set(specs) == set(healthy)
    err = capsys.readouterr().err
    assert "pruned 1 half-imported queries" in err
    monkeypatch.undo()
    registry.all_specs()
    assert registry.IMPORT_ERRORS == {}


def test_entry_module_exposes_driver_contract():
    import __spark_entry__ as entry_mod

    assert callable(entry_mod.entry)
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert len(q) >= 275
    assert set(o) <= set(q), "oracle_sql() keys must be a subset of queries()"
