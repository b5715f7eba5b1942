"""Every ``miaplpy_spark`` module must be reached from an entry point:
the driver contract (``__spark_entry__.py``), the bench harnesses
(``bench.py``, ``bench_extra.py``, ``perfbench/``) or the lifecycle CLI
(``scripts/run_cascade.py``). A module only its own tests import is
dead weight and goes together with those tests.

Reached = the ``ast`` import closure from those files (imports inside
functions count), plus any package module a reached module names in a
string literal — the Spark conf selects the worker daemon that way
(``spark.python.daemon.module``). Sparkless: nothing is imported."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "miaplpy_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "bench_extra.py",
               os.path.join("scripts", "run_cascade.py")]
ENTRY_DIRS = ["perfbench"]
# Test support, not pipeline steps; each is what tests check the
# pipeline against, so it stays in the package beside the code it pins.
ALLOWED_UNREACHED = {
    # plan-shape helpers the plan tests assert with (Exchange counts,
    # broadcast sides), plus the package that holds them
    "miaplpy_spark.plans", "miaplpy_spark.plans.explain",
    # Monte-Carlo ground truth (known phase series, coherence matrices)
    # that tests/test_kernels.py checks the estimators recover
    "miaplpy_spark.kernels.simulation",
    # Unreached mixture sampling / leakage-safe split, still kept with
    # its tests. ROADMAP.md lists it as the last deletion of its
    # "delete what the system does not use" item; drop the entry when
    # the module goes.
    "miaplpy_spark.functions.sampling",
}


def _package_modules() -> dict:
    """Dotted module name -> file path for every module in the package."""
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(REPO, PACKAGE)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), REPO)
            parts = rel[:-3].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = os.path.join(dirpath, f)
    return mods


def _referenced(path: str, module: str | None, mods: dict) -> set:
    """Package modules that the file at ``path`` imports or names."""
    tree = ast.parse(open(path).read(), path)
    is_pkg = os.path.basename(path) == "__init__.py"
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".")
                pkg = pkg[:len(pkg) - node.level + is_pkg]
                base = ".".join(pkg + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value in mods):
            found.add(node.value)
    # importing a.b.c runs a/__init__ and a/b/__init__ too
    closed = set()
    for name in found:
        parts = name.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return closed & set(mods)


def _reached(mods: dict) -> set:
    todo = [(os.path.join(REPO, f), None) for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        todo += [(os.path.join(REPO, d, f), None)
                 for f in sorted(os.listdir(os.path.join(REPO, d)))
                 if f.endswith(".py")]
    seen = set()
    while todo:
        path, module = todo.pop()
        for name in _referenced(path, module, mods) - seen:
            seen.add(name)
            todo.append((mods[name], name))
    return seen


def test_every_package_module_is_reached():
    mods = _package_modules()
    reached = _reached(mods)
    unreached = set(mods) - reached - ALLOWED_UNREACHED
    assert not unreached, (
        "modules no entry point reaches (delete them with their tests, "
        f"or wire them into an entry point): {sorted(unreached)}")
    stale = ALLOWED_UNREACHED & reached
    assert not stale, f"allow-listed but reached, drop them: {stale}"


def _engine_config_fields() -> list:
    path = os.path.join(REPO, PACKAGE, "config.py")
    tree = ast.parse(open(path).read(), path)
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "EngineConfig")
    return [n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)]


def test_every_engine_config_field_is_read():
    """A config field no package code reads is a knob that changes
    nothing but the lineage hash. Read = an attribute load of that
    name in any package module other than config.py; the lineage
    hash's ``asdict(cfg)`` does not count, since it hashes every field
    whether or not anything uses it."""
    read = set()
    for module, path in _package_modules().items():
        if module == f"{PACKAGE}.config":
            continue
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(node, ast.Attribute) and isinstance(
                    node.ctx, ast.Load):
                read.add(node.attr)
    unread = [f for f in _engine_config_fields() if f not in read]
    assert not unread, f"EngineConfig fields nothing reads: {unread}"
