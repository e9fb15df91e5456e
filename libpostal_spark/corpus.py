"""Deterministic synthetic source-code corpus with planted duplicates.

Implements FIXTURES.md §1-2: a ``files(repo, path, commit, lang, content)``
table plus planted ground truth (``cluster_id``, ``xform``). Everything is
derived from a single seeded ``np.random.default_rng`` — same seed, same
corpus, independent of partitioning or wall clock.

The transformation classes mirror the reference's expansion equivalences
(/root/reference/test/test_expand.c:126-333 — abbreviation ↔ canonical,
hyphen/whitespace variants, case, accents) transposed to code (see
FIXTURES.md §2 for the mapping).

Ground truth for recall measurement is NOT the planted cluster id alone:
"reference clusters" are defined as the exhaustive-pairwise result at the
same shingle/signature config (see ``reference_pairs`` in tests) — planted
clusters just make the corpus realistic and give the exhaustive check a
tractable candidate universe.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["python", "java", "js", "c", "go"]
_EXT = {"python": "py", "java": "java", "js": "js", "c": "c", "go": "go"}
_LINE_COMMENT = {"python": "#", "java": "//", "js": "//", "c": "//", "go": "//"}

_SYLLABLES = [
    "foo", "bar", "baz", "qux", "load", "save", "parse", "emit", "node", "item",
    "user", "data", "hash", "sign", "pack", "read", "write", "sync", "conf", "meta",
    "byte", "char", "line", "word", "page", "list", "tree", "map", "set", "queue",
]
_OPS = ["+", "-", "*", "/", "%", "&", "|", "^"]
_BOILERPLATE = [
    # the skew adversary (FIXTURES.md §2.9): identical tiny files everywhere
    "# Licensed under the Apache License, Version 2.0\n"
    "# you may not use this file except in compliance with the License.\n",
    "",  # empty __init__.py
    "# This file is part of the project distribution.\n# All rights reserved.\n",
]

_FULLWIDTH = str.maketrans(
    {c: chr(ord(c) - ord("a") + 0xFF41) for c in "abcdefghijklmnopqrstuvwxyz"}
)


def _ident(rng: np.random.Generator, n_syll: int = 2) -> str:
    parts = [str(_SYLLABLES[i]) for i in rng.integers(0, len(_SYLLABLES), n_syll)]
    return "_".join(parts)


def _stmt(rng: np.random.Generator, idents: list[str]) -> str:
    a, b, c = (idents[i] for i in rng.integers(0, len(idents), 3))
    op = _OPS[int(rng.integers(0, len(_OPS)))]
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return f"{a} = {b} {op} {c}"
    if kind == 1:
        return f"{a} = {b}({c}, {int(rng.integers(0, 100))})"
    if kind == 2:
        return f"if {a} {op} {b}: {c} = {int(rng.integers(0, 100))}"
    return f"return {a} {op} {b}"


def _base_file(rng: np.random.Generator, lang: str, n_funcs: int, lines_per_func: int) -> str:
    cm = _LINE_COMMENT[lang]
    idents = [_ident(rng) for _ in range(8)]
    out = [f"{cm} module {_ident(rng)}", ""]
    for _ in range(n_funcs):
        fname = _ident(rng, 3)
        args = ", ".join(idents[i] for i in rng.integers(0, len(idents), 2))
        out.append(f"def {fname}({args}):")
        for _ in range(lines_per_func):
            if rng.random() < 0.15:
                out.append(f"    {cm} {_ident(rng)} {_ident(rng)}")
            else:
                out.append(f"    {_stmt(rng, idents)}")
        out.append("")
    return "\n".join(out)


# ---------------------------------------------------------------- transforms

def _xf_exact(rng, content, lang):
    return content


def _xf_ws(rng, content, lang):
    lines = content.split("\n")
    out = []
    for ln in lines:
        stripped = ln.lstrip()
        indent = len(ln) - len(stripped)
        out.append("\t" * (indent // 4) + stripped.replace(" = ", "=").replace(", ", ","))
        if rng.random() < 0.2:
            out.append("")
    return "\n".join(out)


def _xf_comment(rng, content, lang):
    cm = _LINE_COMMENT[lang]
    lines = [ln for ln in content.split("\n") if not ln.lstrip().startswith(cm)]
    out = []
    for ln in lines:
        out.append(ln)
        if rng.random() < 0.15:
            out.append(f"{cm} {_ident(rng)} {_ident(rng)} {_ident(rng)}")
    return "\n".join(out)


def _xf_case(rng, content, lang):
    import re

    def camel(m):
        parts = m.group(0).split("_")
        return parts[0] + "".join(p.title() for p in parts[1:])

    return re.sub(r"[a-z]+(?:_[a-z]+)+", camel, content)


def _xf_unicode(rng, content, lang):
    lines = content.split("\n")
    idx = rng.integers(0, len(lines), max(1, len(lines) // 10))
    for i in idx:
        lines[i] = lines[i].translate(_FULLWIDTH)
    return "\n".join(lines)


def _xf_rename(rng, content, lang):
    import re

    toks = re.findall(r"[a-z_]{4,}", content)
    if not toks:
        return content
    freq = pd.Series(toks).value_counts()
    mid = freq[(freq >= 2) & (freq <= 4)]
    target = str(mid.index[0]) if len(mid) else str(freq.index[-1])
    return re.sub(rf"\b{re.escape(target)}\b", "zz_" + _ident(rng), content)


def _xf_edit_small(rng, content, lang):
    lines = content.split("\n")
    n_edit = max(1, int(len(lines) * float(rng.uniform(0.01, 0.05))))
    idents = [_ident(rng) for _ in range(6)]
    for i in rng.integers(0, len(lines), n_edit):
        if lines[i].startswith("    "):
            lines[i] = "    " + _stmt(rng, idents)
    return "\n".join(lines)


_XFORMS = {
    "exact": _xf_exact,
    "ws": _xf_ws,
    "comment": _xf_comment,
    "case": _xf_case,
    "unicode": _xf_unicode,
    "rename": _xf_rename,
    "edit_small": _xf_edit_small,
}
_XFORM_NAMES = list(_XFORMS)


def fid_of(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(("\x00".join([repo, path, commit])).encode()).hexdigest()


def generate_corpus(
    n_base: int = 1000,
    dup_fraction: float = 0.5,
    n_boilerplate_copies: int = 50,
    n_clone_embed: int = 10,
    seed: int = 42,
) -> pd.DataFrame:
    """Returns a pandas DataFrame: repo, path, commit, lang, content,
    cluster_id, xform.  cluster_id groups planted duplicates; 'negative'
    and plain base files get their own singleton cluster ids.
    """
    rng = np.random.default_rng(seed)
    rows: list[dict] = []
    cluster = 0

    def emit(content: str, lang: str, cluster_id: int, xform: str) -> None:
        i = len(rows)
        repo = f"org{int(rng.integers(0, 20))}/repo{int(rng.integers(0, 50))}"
        path = f"src/pkg{int(rng.integers(0, 30))}/mod_{i}.{_EXT[lang]}"
        commit = "".join(f"{b:02x}" for b in rng.integers(0, 256, 20))
        rows.append(
            dict(repo=repo, path=path, commit=commit, lang=lang, content=content,
                 cluster_id=cluster_id, xform=xform)
        )

    for _ in range(n_base):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        n_funcs = int(rng.integers(1, 5))
        lpf = int(rng.integers(5, 30))
        base = _base_file(rng, lang, n_funcs, lpf)
        emit(base, lang, cluster, "base")
        if rng.random() < dup_fraction:
            for _ in range(int(rng.integers(1, 4))):
                xf = _XFORM_NAMES[int(rng.integers(0, len(_XFORM_NAMES)))]
                emit(_XFORMS[xf](rng, base, lang), lang, cluster, xf)
        cluster += 1

    # clone_embed: a long exact block inside otherwise-different files
    for _ in range(n_clone_embed):
        lang = "python"
        host_a = _base_file(rng, lang, 2, 10)
        host_b = _base_file(rng, lang, 2, 10)
        block = _base_file(rng, lang, 3, 25)  # >= ~250 tokens
        emit(host_a + "\n" + block, lang, cluster, "clone_embed")
        emit(block + "\n" + host_b, lang, cluster, "clone_embed")
        cluster += 1

    # boilerplate skew adversary
    for bp in _BOILERPLATE:
        for _ in range(n_boilerplate_copies):
            emit(bp, "python", cluster, "boilerplate")
        cluster += 1

    # negatives: same lang, similar length, unrelated
    for _ in range(max(4, n_base // 20)):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        emit(_base_file(rng, lang, 2, 12), lang, cluster, "negative")
        cluster += 1
        emit(_base_file(rng, lang, 2, 12), lang, cluster, "negative")
        cluster += 1

    pdf = pd.DataFrame(rows)
    pdf["fid"] = [
        fid_of(r, p, c) for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])
    ]
    return pdf


def cached_corpus_parquet(
    n_base: int = 1000,
    dup_fraction: float = 0.5,
    n_boilerplate_copies: int = 50,
    n_clone_embed: int = 10,
    seed: int = 42,
    cache_dir: str = "/tmp/libpostal_spark_bench",
) -> str:
    """Materialize the deterministic synthetic corpus to parquet once and
    return the path. Generation is driver-side pandas; benchmark and harness
    queries must READ a table, not generate one inside the timed region."""
    import os

    key = f"corpus_{n_base}_{dup_fraction}_{n_boilerplate_copies}_{n_clone_embed}_{seed}"
    path = os.path.join(cache_dir, f"{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        pdf = generate_corpus(
            n_base=n_base,
            dup_fraction=dup_fraction,
            n_boilerplate_copies=n_boilerplate_copies,
            n_clone_embed=n_clone_embed,
            seed=seed,
        )
        tmp = path + ".tmp"
        pdf[["repo", "path", "commit", "lang", "content"]].to_parquet(tmp)
        os.rename(tmp, path)
    return path
