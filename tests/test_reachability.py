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


# Every eager materialization in the package, one per function, with
# the reason it exists. A localCheckpoint pins executor-local blocks
# that cannot be recomputed if the executor is lost, so a new one
# needs its own entry here.
MATERIALIZATIONS = {
    "sources.catalog::TierStore.overwrite":
        "a static parquet overwrite deletes the table before its input, "
        "which may read that table, is read",
    "operators.cascade::run_inversion_step":
        "the per-bucket row count and the timeseries MERGE both read "
        "the inversion output",
    "operators.compress::apply_retention_1h":
        "the blob metrics and the cold-tier MERGE both read the "
        "compressed blobs",
    "functions.dedup::minhash_lsh_pairs_df":
        "four consumers read the signatures (q26 reuse)",
    "functions.dedup::_incremental_candidates":
        "three joins read the batch band rows, the broadcast side of each",
    "functions.dedup::incremental_minhash_pairs":
        "the id-set broadcast and the verify join both read the "
        "candidates (q52 reuse)",
    "functions.dedup::connected_components":
        "the size probe and both component paths read the edge set",
    "functions.dedup::_star_components":
        "truncates the lineage each star round",
    "functions.text::shingle_jaccard_pairs_df":
        "three consumers read the shingle index (q22 reuse)",
}


def _checkpoint_scopes(node, scope, in_class, out) -> None:
    for child in ast.iter_child_nodes(node):
        if (isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef))
                and (scope is None or in_class)):
            _checkpoint_scopes(
                child, f"{scope}.{child.name}" if scope else child.name,
                isinstance(child, ast.ClassDef), out)
            continue
        if (isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "localCheckpoint"):
            out.append(scope or "<module>")
        _checkpoint_scopes(child, scope, in_class, out)


def _materialization_sites() -> list:
    """``module::function`` of every ``localCheckpoint`` call; a call in
    a nested function counts for the top-level function (or method)."""
    sites = []
    for module, path in _package_modules().items():
        scopes = []
        _checkpoint_scopes(ast.parse(open(path).read(), path), None, False,
                           scopes)
        sites += [f"{module[len(PACKAGE) + 1:]}::{s}" for s in scopes]
    return sorted(sites)


def test_materializations_match_the_ledger():
    assert _materialization_sites() == sorted(MATERIALIZATIONS)
