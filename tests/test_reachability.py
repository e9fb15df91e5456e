"""Every top-level function and class in the package has a non-test caller.

A feature that only tests reach is dead weight: it has to be read, kept
green and reasoned about, yet no query, pipeline, CLI or benchmark ever
runs it. This guard walks the package with ``ast`` (no Spark session) and
fails with the unreferenced names, so such code is deleted or moved into
``tests/`` instead of accumulating.

A name counts as referenced when non-test code mentions it outside its own
definition: as a ``Name``, an ``Attribute``, an import alias, or a string
constant that is exactly the identifier (``getattr``/registry lookups).
Non-test code is the package, ``__spark_entry__.py``, ``perfbench/``,
``bench.py``, ``bench_extra.py`` and ``tools/``. ``perfbench/`` counts
whole, its own tests included: the benchmark is a separate consumer of the
package, and what it imports must stay. Only this suite (``tests/``) is
excluded. There is no allowlist.
"""
import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "libpostal_spark"
NON_TEST = (PACKAGE, "__spark_entry__.py", "perfbench", "bench.py",
            "bench_extra.py", "tools")


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _mentions(node):
    """Identifiers a node mentions, per the module docstring's rule."""
    if isinstance(node, ast.Name):
        yield node.id
    elif isinstance(node, ast.Attribute):
        yield node.attr
    elif isinstance(node, ast.alias):
        yield node.name.rsplit(".", 1)[-1]
    elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
          and node.value.isidentifier()):
        yield node.value


def _referenced(tree, skip=()):
    """Identifiers mentioned anywhere in ``tree`` except inside ``skip``."""
    out = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node in skip:
            continue
        out.update(_mentions(node))
        stack.extend(ast.iter_child_nodes(node))
    return out


def unreferenced():
    """``module:name`` of each top-level def/class with no non-test use."""
    trees = {p: _parse(p) for rel in NON_TEST for p in _py_files(rel)}
    # Mentions per file, with the file's own top-level definitions skipped
    # one at a time below; other files count whole.
    whole = {p: _referenced(t) for p, t in trees.items()}
    missing = []
    for path in _py_files(PACKAGE):
        tree = trees[path]
        others = set()
        for p, refs in whole.items():
            if p != path:
                others |= refs
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            if node.name in others:
                continue
            if node.name in _referenced(tree, skip={node}):
                continue
            mod = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
            missing.append(f"{mod}:{node.name}")
    return missing


def test_every_package_function_has_a_non_test_caller():
    missing = unreferenced()
    assert not missing, (
        f"{len(missing)} top-level functions/classes are reached only by "
        "tests (delete them, or move them into tests/):\n  "
        + "\n  ".join(missing))
