"""Registry-budget and contract checks for __spark_entry__.py.

The driver's correctness harness checks the first DRIVER_QUERY_BUDGET
entries of queries() against oracle_sql() — round 5 showed that letting
the registry outgrow that budget silently evicts previously-green rows.
These tests pin the contract WITHOUT starting Spark (pure dict checks),
so they are cheap enough to run on every pytest invocation.
"""

import ast
import glob
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import __spark_entry__ as entry

# queries that are deliberately oracle-free (non-SQL-expressible or
# IO/interactive; the driver records a weaker rows-only check for them)
_NO_ORACLE_OK: set[str] = set()


def test_registry_budget():
    qs = entry.queries()
    assert len(qs) <= entry.DRIVER_QUERY_BUDGET, (
        f"queries() has {len(qs)} entries but the driver checks only "
        f"{entry.DRIVER_QUERY_BUDGET} — consolidate near-duplicates into "
        "one row per operator family or move variants to extended_queries()"
    )


def test_every_registered_query_has_an_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = set(qs) - set(oracles) - _NO_ORACLE_OK
    assert not missing, f"queries without an oracle_sql entry: {sorted(missing)}"


def test_no_orphan_oracles():
    qs, oracles = entry.queries(), entry.oracle_sql()
    orphans = set(oracles) - set(qs)
    assert not orphans, f"oracle_sql entries with no query: {sorted(orphans)}"


# non-SQL-expressible extended entries: rows-only check in
# tools/check_oracles.py, hard check lives in pytest (test_schemes.py pins
# the learned scheme)
_EXTENDED_NO_ORACLE_OK = {"blocking_scheme"}


def test_extended_registries_are_consistent():
    eqs, eoracles = entry.extended_queries(), entry.extended_oracle_sql()
    assert set(eqs) - set(eoracles) == _EXTENDED_NO_ORACLE_OK
    assert not set(eoracles) - set(eqs)
    # extended entries never shadow driver-facing ones
    assert not set(eqs) & set(entry.queries())
    assert not set(eoracles) & set(entry.oracle_sql())


# every way in: the driver contract, the benches, the jobs and tools
# scripts, the benchmark harness (its own tests aside), the pipeline,
# and the two review UIs
_ENTRY_GLOBS = [
    "__spark_entry__.py", "bench.py", "bench_extra.py",
    "jobs/*.py", "tools/*.py", "perfbench/*.py",
]
_ENTRY_MODULES = ["rlr_spark.pipeline", "rlr_spark.cli", "rlr_spark.webui"]

def _package_modules() -> dict[str, str]:
    """Every ``rlr_spark`` module name -> its file."""
    mods = {}
    for path in glob.glob("rlr_spark/**/*.py", root_dir=_ROOT, recursive=True):
        parts = path[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = os.path.join(_ROOT, path)
    return mods


def _imported_names(path: str) -> set[str]:
    """Dotted names a file imports anywhere in its body, imports inside
    functions included. ``from pkg import x`` yields both ``pkg`` and
    ``pkg.x``: x may be a submodule."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            # the walk reads absolute names only; so does the codebase
            assert not node.level, f"{path}: relative import"
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def test_every_module_is_reached():
    """Every rlr_spark module is imported, directly or transitively, from
    an entry point: a module nothing reaches is dead code to delete, not
    to carry. The walk parses source only; it imports nothing."""
    mods = _package_modules()
    reached: set[str] = set()
    todo = [
        os.path.join(_ROOT, p)
        for pattern in _ENTRY_GLOBS
        for p in glob.glob(pattern, root_dir=_ROOT)
        if not os.path.basename(p).startswith("test_")
    ]

    def visit(name: str) -> None:
        # importing a.b.c runs a's and a.b's __init__ too
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            dotted = ".".join(parts[:i])
            if dotted in mods and dotted not in reached:
                reached.add(dotted)
                todo.append(mods[dotted])

    for m in _ENTRY_MODULES:
        visit(m)
    while todo:
        for name in _imported_names(todo.pop()):
            visit(name)
    unreached = set(mods) - reached
    assert not unreached, f"modules no entry point reaches: {sorted(unreached)}"


# Public defs only tests name, kept on purpose. Tags: *support* = test
# support (a fixture builder or a reference oracle), *parity* = a
# reference-RLR surface, *contract* = the Iceberg or streaming/WARC
# source contract. A *parity* or *contract* name either gains a caller
# (a query row, a stage) or goes with its tests (ROADMAP direction 1).
_UNNAMED_OK = {
    # support: the numpy reference test_blocking.py checks Spark's
    # xxhash64 against
    "rlr_spark.functions.xxh64_np.xxhash64_longs",
    # support: WARC segments for the pipeline and stream e2e tests
    "rlr_spark.datagen.write_web_pages_warc",
    # parity: the comparison vector frame (backend/rlr.py)
    "rlr_spark.operators.compare.comparison_vectors",
    # parity: review progress (pages/02:185-191)
    "rlr_spark.operators.review.completion",
    # parity: the next unlabeled pair (rlr.py:615-626)
    "rlr_spark.operators.review.next_pair",
    # parity: m/u from labeled pairs
    "rlr_spark.operators.scoring.estimate_mu",
    # parity: Stata export (rlr.py:693)
    "rlr_spark.sources.writers.write_stata",
    # contract: Iceberg MERGE INTO
    "rlr_spark.sources.writers.merge_upsert",
    # contract: the WARC/WET readers
    "rlr_spark.sources.warc.read_warc_pages",
    "rlr_spark.sources.warc.read_wet_text",
    # contract: the streaming sources
    "rlr_spark.streaming.ingest.stream_pages",
    "rlr_spark.streaming.ingest.extract_and_key",
    "rlr_spark.streaming.ingest.stream_warc_pages",
    "rlr_spark.streaming.ingest.windowed_event_counts",
}


def _names_used(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names a tree refers to (``Name`` ids, ``Attribute`` attrs and the
    names ``from ... import`` brings in), leaving out the subtree ``skip``."""
    names = set()
    todo = [tree]
    while todo:
        node = todo.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
        todo.extend(ast.iter_child_nodes(node))
    return names


def test_every_public_function_is_reached():
    """Every public top-level def/class in rlr_spark is named outside
    its own definition by a non-test file, unless _UNNAMED_OK lists it:
    a function only its tests call is dead code, as a module nothing
    imports is. The walk parses source only; it imports nothing and
    starts no Spark."""
    mods = _package_modules()
    files = set(mods.values()) | {
        os.path.join(_ROOT, p)
        for pattern in _ENTRY_GLOBS
        for p in glob.glob(pattern, root_dir=_ROOT)
        if not os.path.basename(p).startswith("test_")
    }
    trees = {}
    for path in files:
        with open(path) as f:
            trees[path] = ast.parse(f.read(), path)
    used = {path: _names_used(tree) for path, tree in trees.items()}

    unnamed = set()
    for mod, path in mods.items():
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            # its own module counts only outside the definition itself
            if node.name in _names_used(trees[path], skip=node):
                continue
            if not any(node.name in names for p, names in used.items() if p != path):
                unnamed.add(f"{mod}.{node.name}")
    assert unnamed == _UNNAMED_OK, (
        f"public functions only tests name: {sorted(unnamed - _UNNAMED_OK)}; "
        f"now named, drop from _UNNAMED_OK: {sorted(_UNNAMED_OK - unnamed)}"
    )


def test_every_top_level_def_is_named():
    """Every top-level def/class in rlr_spark, private ones included, is
    named outside its own definition by some .py file in the repo, tests
    included: a def nothing names is not even tested, so it is deleted
    rather than carried. Looser than the check above (a test counts as a
    namer) but wider (private helpers too)."""
    trees = {}
    for p in glob.glob("**/*.py", root_dir=_ROOT, recursive=True):
        path = os.path.join(_ROOT, p)
        with open(path) as f:
            trees[path] = ast.parse(f.read(), path)
    used = {path: _names_used(tree) for path, tree in trees.items()}

    unnamed = []
    for mod, path in _package_modules().items():
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if node.name in _names_used(trees[path], skip=node):
                continue
            if not any(node.name in names for p, names in used.items() if p != path):
                unnamed.append(f"{mod}.{node.name}")
    assert not unnamed, f"top-level defs no file names: {sorted(unnamed)}"


def _unused_imports(path: str) -> list[str]:
    """Top-level imports of ``path`` whose bound name the file never
    reads. ``__all__`` entries count as read; ``from __future__`` and a
    ``# noqa`` on the import's lines are exempt."""
    with open(path) as f:
        src = f.read()
    tree = ast.parse(src, path)
    lines = src.splitlines()
    read = {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            read.update(ast.literal_eval(node.value))
    unused = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("# noqa" in line for line in lines[node.lineno - 1 : node.end_lineno]):
            continue
        for alias in node.names:
            # ``import a.b`` binds ``a``
            name = alias.asname or alias.name.split(".")[0]
            if name != "*" and name not in read:
                unused.append(f"{os.path.relpath(path, _ROOT)}:{node.lineno} {name}")
    return unused


def test_no_unused_top_level_imports():
    """No linter runs on this tree, so this is the check: a top-level
    import that nothing in its file reads is dead weight (and, in a
    library module, a load-time cost for every importer)."""
    unused = [
        u
        for pattern in ("rlr_spark/**/*.py", "tests/**/*.py", "tools/**/*.py")
        for p in sorted(glob.glob(pattern, root_dir=_ROOT, recursive=True))
        for u in _unused_imports(os.path.join(_ROOT, p))
    ]
    assert not unused, f"unused top-level imports: {unused}"
