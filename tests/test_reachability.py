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


def _entry_paths() -> list:
    paths = [os.path.join(REPO, f) for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        paths += [os.path.join(REPO, d, f)
                  for f in sorted(os.listdir(os.path.join(REPO, d)))
                  if f.endswith(".py")]
    return paths


def _reached(mods: dict) -> set:
    todo = [(path, None) for path in _entry_paths()]
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


# EngineConfig fields that no entry point sets, each with the reason it
# stays a field. Any other field an entry point does not set is a knob
# only tests turn.
UNSET_FIELDS = {
    "slot_seconds": "time grid: the raw cadence of the data",
    "slots_per_hour": "time grid: the mini-stack size of the data",
    "hours_per_day": "time grid: hourly windows per daily window",
    "epoch0": "time grid: the fixed anchor of slot numbers",
    "vocab_size": "data property: the token-id range the phases span",
    "gap_modulus": "datagen: the fixture's gap rate",
    "sources": "datagen: the fixture's source labels",
    "zipf_alpha": "datagen: the fixture's doc-size skew",
    "method": "EVD/EMI, which the simulated-truth gate tells apart",
    "ps_test": "the PS shortcut, which the same gate runs off and on",
}


def _entry_config_keys() -> set:
    """Names an entry point sets on an EngineConfig: keywords of an
    ``EngineConfig(...)`` or ``replace(...)`` call, and the string keys
    of a dict that such a call unpacks with ``**`` (a literal assigned
    to that name, or a ``name["key"] = ...`` store)."""
    keys = set()
    for path in _entry_paths():
        tree = ast.parse(open(path).read(), path)
        unpacked = set()
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", getattr(node.func, "attr",
                                                         None))
                    in ("EngineConfig", "replace")):
                for k in node.keywords:
                    if k.arg:
                        keys.add(k.arg)
                    elif isinstance(k.value, ast.Name):
                        unpacked.add(k.value.id)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Assign)
                    and isinstance(node.value, ast.Dict)
                    and any(getattr(t, "id", None) in unpacked
                            for t in node.targets)):
                keys.update(k.value for k in node.value.keys
                            if isinstance(k, ast.Constant))
            elif (isinstance(node, ast.Subscript)
                  and isinstance(node.ctx, ast.Store)
                  and getattr(node.value, "id", None) in unpacked
                  and isinstance(node.slice, ast.Constant)):
                keys.add(node.slice.value)
    return keys


def test_every_engine_config_field_is_set_by_an_entry_point():
    fields = _engine_config_fields()
    keys = _entry_config_keys()
    unset = [f for f in fields if f not in keys and f not in UNSET_FIELDS]
    assert not unset, (
        "EngineConfig fields no entry point sets (delete them, or list "
        f"them in UNSET_FIELDS with the reason they stay): {unset}")
    stale = sorted(f for f in UNSET_FIELDS if f in keys or f not in fields)
    assert not stale, f"set by an entry point or gone, drop them: {stale}"


# Every eager materialization in the package, one per function, with
# the reason it exists. A localCheckpoint pins executor-local blocks
# that cannot be recomputed if the executor is lost, so a new one
# needs its own entry here.
MATERIALIZATIONS = {
    "sources.catalog::TierStore.overwrite":
        "a static parquet overwrite deletes the table before its input, "
        "which may read that table, is read",
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
        "the star rounds read the edge set the size probe computed; "
        "the driver path reads it once and does not materialize it",
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


# Every warehouse table the package writes through TierStore. The
# checkpoint log is the one bookkeeping table: bucket completions and
# the incremental watermarks both live in it, so a new bookkeeping
# table needs its own entry here.
WAREHOUSE_TABLES = {
    "rollup_1h": "hot 1h tier",
    "rollup_1d": "1d tier",
    "rollup_1h_cold": "compressed cold tier (retention)",
    "timeseries": "per-doc inversion output",
    "checkpoints": "bucket completions and named watermarks",
    "stream_staging": "the stream's hour-partitioned raw rows",
    "rollup_1h_stream": "streamed 1h tier",
    "rollup_1d_stream": "streamed 1d tier",
}
_STORE_WRITES = {"merge_partitions", "overwrite", "append"}


def _string_constants() -> dict:
    """Module-level ``NAME = "str"`` (or tuple-unpacked) assignments
    across the package."""
    consts = {}
    for path in _package_modules().values():
        for node in ast.parse(open(path).read(), path).body:
            if not isinstance(node, ast.Assign):
                continue
            for target in node.targets:
                pairs = ([(target, node.value)] if isinstance(target, ast.Name)
                         else zip(getattr(target, "elts", []),
                                  getattr(node.value, "elts", [])))
                for name, value in pairs:
                    if (isinstance(name, ast.Name)
                            and isinstance(value, ast.Constant)
                            and isinstance(value.value, str)):
                        consts[name.id] = value.value
    return consts


def _resolve(expr, scopes, tree, consts) -> set:
    """The table names ``expr`` can take: a string constant, a package
    constant, or a parameter of an enclosing function, resolved through
    that function's calls in the same module."""
    if isinstance(expr, ast.Constant) and isinstance(expr.value, str):
        return {expr.value}
    if isinstance(expr, ast.Name) and expr.id in consts:
        return {consts[expr.id]}
    for fn in reversed(scopes):
        params = [a.arg for a in fn.args.args + fn.args.kwonlyargs]
        if isinstance(expr, ast.Name) and expr.id in params:
            i = params.index(expr.id)
            out = set()
            for call in ast.walk(tree):
                if (isinstance(call, ast.Call)
                        and isinstance(call.func, ast.Name)
                        and call.func.id == fn.name):
                    arg = next((k.value for k in call.keywords
                                if k.arg == expr.id),
                               call.args[i] if i < len(call.args) else None)
                    out |= _resolve(arg, [], tree, consts)
            return out
    return {f"<unresolved {ast.unparse(expr) if expr else None}>"}


def _written_tables() -> set:
    consts = _string_constants()
    tables = set()

    def visit(node, scopes, tree):
        for child in ast.iter_child_nodes(node):
            inner = (scopes + [child] if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scopes)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in _STORE_WRITES
                    and len(child.args) + len(child.keywords) >= 2):
                receiver = ast.unparse(child.func.value)
                if child.func.attr != "append":
                    # the only receivers of these names are TierStores
                    assert receiver.split(".")[-1] == "store", receiver
                if receiver.split(".")[-1] == "store":
                    arg = next((k.value for k in child.keywords
                                if k.arg == "table"),
                               child.args[1] if len(child.args) > 1
                               else None)
                    tables.update(_resolve(arg, scopes, tree, consts))
            visit(child, inner, tree)

    for path in _package_modules().values():
        tree = ast.parse(open(path).read(), path)
        visit(tree, [], tree)
    return tables


def test_warehouse_tables_match_the_ledger():
    tables = _written_tables()
    assert "tier_watermarks" not in tables
    assert tables == set(WAREHOUSE_TABLES)


# The DataFrame methods that ship a package function to the Python
# workers.
_UDF_CALLS = {"mapInArrow", "mapInPandas"}


def _udf_modules() -> set:
    """Package modules with a ``.mapInArrow(`` or ``.mapInPandas(``
    call."""
    found = set()
    for module, path in _package_modules().items():
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _UDF_CALLS):
                found.add(module)
    return found


def _preload() -> tuple:
    path = os.path.join(REPO, PACKAGE, "worker_daemon.py")
    node = next(n for n in ast.parse(open(path).read(), path).body
                if isinstance(n, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "PRELOAD"
                        for t in n.targets))
    return ast.literal_eval(node.value)


def test_worker_preload_matches_the_udf_sites():
    """The worker daemon imports ``PRELOAD`` before it freezes its heap
    and forks. A UDF module missing from it is imported by every worker
    and walked by every per-task collect; an entry with no UDF call is
    memory every run pays for nothing."""
    preload = _preload()
    assert len(set(preload)) == len(preload)
    assert set(preload) == _udf_modules()
