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
code path production never runs. A defaulted field of a package
``@dataclass`` is such a parameter of its class (``default_factory``
fields included). A parameter counts as set when some non-test call to a
function of that name (a class name calls ``__init__``, or builds the
dataclass) passes it by keyword, positionally at or past its place
(``self``/``cls`` not counted; a dataclass counts fields in order), or
through unpacking. ``**X`` passes the keys of X when X is a dict display,
a keyword-only ``dict(...)`` call, a module-level name bound to one of
those, or a call of a function whose every ``return`` is one of those;
any other ``*``/``**`` sets every parameter of the callee. A keyword
passed to any non-test ``replace(...)`` call counts as set for every
dataclass field of that name, since ``dataclasses.replace`` cannot be
resolved statically. A call through a local name bound to functions
(``parse = mod.f if c else mod.g``) counts as a call of each of them. The
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
    "libpostal_spark.checkpoint:CheckpointStore.partitioned_stage(n_pt=)":
        "the partition-resume and n_pt-change tests drive the pmod domain",
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


def _is_dataclass(node):
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "dataclass") or (
                isinstance(f, ast.Attribute) and f.attr == "dataclass"):
            return True
    return False


def _defaulted_params():
    """(qualified name, call name, param, position or None, is a dataclass
    field) for each defaulted parameter of a package function or method,
    and each defaulted field of a package dataclass."""
    out = []
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")

        def visit(body, prefix, in_class):
            for node in body:
                if isinstance(node, ast.ClassDef):
                    if _is_dataclass(node):
                        fields = [n for n in node.body
                                  if isinstance(n, ast.AnnAssign)
                                  and isinstance(n.target, ast.Name)]
                        for i, n in enumerate(fields):
                            if n.value is not None:
                                out.append((f"{mod}:{prefix}{node.name}",
                                            node.name, n.target.id, i, True))
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
                    out.append((qual, call, arg.arg, i - skip, False))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((qual, call, arg.arg, None, False))

        visit(_parse(path).body, "", False)
    return out


def _returns(fn):
    """The ``return`` statements of ``fn``, not of functions nested in it."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Return):
            yield node
        elif not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.Lambda, ast.ClassDef)):
            stack.extend(ast.iter_child_nodes(node))


def _dict_keys(node, names, funcs, seen=frozenset()):
    """The constant keys ``**node`` passes, per the module docstring's
    rule, or None when they cannot be resolved."""
    if isinstance(node, ast.Dict):
        if all(isinstance(k, ast.Constant) and isinstance(k.value, str)
               for k in node.keys):
            return {k.value for k in node.keys}
        return None
    if not isinstance(node, (ast.Name, ast.Call)) or node in seen:
        return None
    seen = seen | {node}
    if isinstance(node, ast.Name):
        bound = names.get(node.id, [])
        keys = [_dict_keys(v, names, funcs, seen) for v in bound]
        if not keys or None in keys:
            return None
        return set().union(*keys)
    f = node.func
    if isinstance(f, ast.Name) and f.id == "dict":
        if node.args or any(k.arg is None for k in node.keywords):
            return None
        return {k.arg for k in node.keywords}
    name = (f.id if isinstance(f, ast.Name)
            else f.attr if isinstance(f, ast.Attribute) else None)
    rets = [r.value for fn in funcs.get(name, []) for r in _returns(fn)]
    keys = [_dict_keys(v, names, funcs, seen) if v is not None else None
            for v in rets]
    if not keys or None in keys:
        return None
    return set().union(*keys)


def unset_parameters():
    """``module:function(param=)`` of each defaulted parameter that no
    non-test call sets, per the module docstring's rule."""
    def bound(v):
        if isinstance(v, ast.IfExp):
            return bound(v.body) | bound(v.orelse)
        return set(_mentions(v)) if isinstance(v, (ast.Name,
                                                   ast.Attribute)) else set()

    trees = [_parse(p) for rel in NON_TEST for p in _py_files(rel)]
    aliases, funcs = {}, {}
    for tree in trees:
        for node in ast.walk(tree):
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                aliases.setdefault(node.targets[0].id, set()).update(
                    bound(node.value))
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs.setdefault(node.name, []).append(node)
    keywords, n_pos, unpacked = {}, {}, set()
    for tree in trees:
        # module-level bindings of this file, for ``**name``
        names = {}
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    if isinstance(t, ast.Name) and node.value is not None:
                        names.setdefault(t.id, []).append(node.value)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            passed = {k.arg for k in node.keywords if k.arg}
            opaque = any(isinstance(x, ast.Starred) for x in node.args)
            for k in node.keywords:
                if k.arg is None:
                    keys = _dict_keys(k.value, names, funcs)
                    if keys is None:
                        opaque = True
                    else:
                        passed |= keys
            for callee in {name} | aliases.get(name, set()):
                if opaque:
                    unpacked.add(callee)
                n_pos[callee] = max(n_pos.get(callee, 0), len(node.args))
                keywords.setdefault(callee, set()).update(passed)

    def is_set(call, param, i, field):
        if field and ("replace" in unpacked
                      or param in keywords.get("replace", ())):
            return True
        return (call in unpacked or param in keywords.get(call, ())
                or (i is not None and n_pos.get(call, 0) > i))

    return [
        f"{qual}({param}=)"
        for qual, call, param, i, field in _defaulted_params()
        if not is_set(call, param, i, field)
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
