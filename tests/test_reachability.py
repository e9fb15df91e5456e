"""Every top-level function and class in the package has a non-test caller,
and every defaulted parameter is set by some non-test call.

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

The same holds one level down: a defaulted parameter that no non-test
call sets is an option only tests select, and the branch it guards is a
code path production never runs. A parameter counts as set when some
non-test call to a function of that name (a class name calls
``__init__``) passes it by keyword, positionally at or past its place
(``self``/``cls`` not counted), or through ``*``/``**`` unpacking. A call
through a local name bound to functions (``parse = mod.f if c else
mod.g``) counts as a call of each of them. The
only exceptions are ``SEAMS``: parameters a test must drive and that
production has no reason to, each with its reason.
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


# "module:function(param=)" -> why a test, and only a test, sets it
SEAMS = {
    "libpostal_spark.__main__:main(argv=)":
        "the CLI tests pass argv; production reads sys.argv",
    "libpostal_spark.session:_default_driver_mem(meminfo=)":
        "the tests feed /proc/meminfo text for each memory size",
    "libpostal_spark.checkpoint:CheckpointStore.partitioned_stage"
    "(pts_per_commit=)":
        "the crash-window tests need commit groups of one partition",
    "libpostal_spark.corpus:cached_corpus_parquet(cache_dir=)":
        "a path: tests write under their own tmp dir",
    "libpostal_spark.operators.softtfidf:soft_tfidf_full_pairs"
    "(affine_gap_abbreviations=)":
        "the off mode is the reference test_no_abbrev_twin_matches_off_mode"
        " checks with_no_abbrev_twin against",
    "libpostal_spark.operators.softtfidf:soft_tfidf_full_pairs"
    "(ordinal_suffixes=)":
        "off-mode reference of the ladder tests, as above",
    "libpostal_spark.functions.udfs:make_canonicalize_udf"
    "(fold_spelled_numbers=)":
        "the dedicated reference UDFs of test_routed_equals_dedicated_udfs",
    "libpostal_spark.functions.udfs:make_canonicalize_udf(fold_roman=)":
        "the dedicated reference UDFs of test_routed_equals_dedicated_udfs",
    "libpostal_spark.functions.udfs:make_canonicalize_udf(numex_lang=)":
        "the dedicated reference UDFs of test_routed_equals_dedicated_udfs",
}


def _defaulted_params():
    """(qualified name, call name, param, position or None) for each
    defaulted parameter of a package function or method."""
    out = []
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")

        def visit(body, prefix, in_class):
            for node in body:
                if isinstance(node, ast.ClassDef):
                    visit(node.body, prefix + node.name + ".", True)
                    continue
                if not isinstance(node, (ast.FunctionDef,
                                         ast.AsyncFunctionDef)):
                    continue
                a = node.args
                pos = a.posonlyargs + a.args
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in node.decorator_list)
                skip = 1 if in_class and not static else 0
                # a class name calls __init__
                call = (prefix[:-1].rsplit(".", 1)[-1]
                        if node.name == "__init__" else node.name)
                qual = f"{mod}:{prefix}{node.name}"
                for i, arg in enumerate(pos[len(pos) - len(a.defaults):],
                                        start=len(pos) - len(a.defaults)):
                    out.append((qual, call, arg.arg, i - skip))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((qual, call, arg.arg, None))

        visit(_parse(path).body, "", False)
    return out


def unset_parameters():
    """``module:function(param=)`` of each defaulted parameter that no
    non-test call sets, per the module docstring's rule."""
    def bound(v):
        if isinstance(v, ast.IfExp):
            return bound(v.body) | bound(v.orelse)
        return set(_mentions(v)) if isinstance(v, (ast.Name,
                                                   ast.Attribute)) else set()

    trees = [_parse(p) for rel in NON_TEST for p in _py_files(rel)]
    aliases = {}
    for tree in trees:
        for node in ast.walk(tree):
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                aliases.setdefault(node.targets[0].id, set()).update(
                    bound(node.value))
    keywords, n_pos, unpacked = {}, {}, set()
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            for callee in {name} | aliases.get(name, set()):
                if (any(isinstance(x, ast.Starred) for x in node.args)
                        or any(k.arg is None for k in node.keywords)):
                    unpacked.add(callee)
                n_pos[callee] = max(n_pos.get(callee, 0), len(node.args))
                keywords.setdefault(callee, set()).update(
                    k.arg for k in node.keywords if k.arg)
    return [
        f"{qual}({param}=)"
        for qual, call, param, i in _defaulted_params()
        if not (call in unpacked or param in keywords.get(call, ())
                or (i is not None and n_pos.get(call, 0) > i))
    ]


def test_every_defaulted_parameter_is_set_by_non_test_code():
    unset = unset_parameters()
    assert not [u for u in SEAMS if u not in unset], (
        "SEAMS lists parameters that non-test code now sets, or that are "
        "gone: drop them from SEAMS")
    unset = [u for u in unset if u not in SEAMS]
    assert not unset, (
        f"{len(unset)} defaulted parameters are set only by tests (make "
        "each a plain value or a module constant, and drop the branches "
        "only a non-default value selects):\n  " + "\n  ".join(unset))
