"""Expansion-dictionary goldens, in the style of the reference's
test_expand.c (/root/reference/test/test_expand.c:126-333): surface variants
of the same identifier must canonicalize to the same form once the shipped
code dictionary is applied."""

import pytest

from libpostal_spark.core.canonicalize import phrase_priority_order
from libpostal_spark.dictionaries import DEFAULT_CODE_EXPANSIONS
from tests.helpers import canonicalize_one, expand_alternatives

EXP = dict(DEFAULT_CODE_EXPANSIONS)


def canon(s: str) -> str:
    return canonicalize_one(s, expansions=EXP)


# --- goldens: (input, expected canonical form) ---------------------------
GOLDENS = [
    ("initCfg", "initialize configuration"),
    ("init_cfg", "initialize configuration"),
    ("INIT CFG", "initialize configuration"),
    ("callBack", "callback"),
    ("call_back", "callback"),
    ("callback", "callback"),
    ("cb", "callback"),
    ("setUp", "setup"),
    ("fileName", "filename"),
    ("file name", "filename"),
    ("errMsg", "error message"),
    ("numArgs", "number arguments"),
    ("def init", "def initialize"),      # keywords never expanded
    ("cfg cfg", "configuration configuration"),  # consecutive occurrences
    ("conf config cfg", "configuration configuration configuration"),
    ("whiteList", "allowlist"),
    ("allowList", "allowlist"),
]


@pytest.mark.parametrize("src,want", GOLDENS)
def test_expansion_goldens(src, want):
    assert canon(src) == want


def test_variant_equivalence():
    """The reference's sets-intersect property, specialized to one canonical
    form: every surface variant of an identifier folds to the same string."""
    groups = [
        ["callBack", "call_back", "callback", "CALL_BACK", "cb"],
        ["initCfg", "init_config", "initialize_configuration", "init conf"],
        ["tmpFileName", "tmp_file_name", "temporary filename"],
    ]
    for g in groups:
        forms = {canon(v) for v in g}
        assert len(forms) == 1, (g, forms)


def test_pattern_priority_is_deterministic():
    """'data set up': 'data set' (lexicographically earlier phrase) wins the
    overlap against 'set up' — pinned so the SQL twin stays equivalent."""
    assert canon("data set up") == "dataset up"
    order = phrase_priority_order(EXP)
    keys = [k for k, _ in order]
    assert keys.index("data set") < keys.index("set up")
    # phrases (multi-token) always sort before single tokens
    first_single = next(i for i, k in enumerate(keys) if " " not in k)
    assert all(" " in k for k in keys[:first_single])


def test_no_cascading():
    """A replacement output is never re-matched: 'cb'->'callback' must not
    then be touched by any other rule; phrase outputs are terminal."""
    assert canon("cb cb") == "callback callback"
    # 'database' (output of 'data base') is not a key anywhere
    keys = set(EXP)
    for v in EXP.values():
        for tok in v.split(" "):
            assert tok not in keys, f"cascade: replacement token {tok!r} is a key"


def test_phrases_at_boundaries():
    assert canon("set up") == "setup"
    assert canon("x set up") == "x setup"
    assert canon("set up x") == "setup x"
    assert canon("set") == "set"          # partial phrase alone: untouched
    assert canon("up") == "up"


def test_fold_numbers_composes_with_expansions():
    got = canonicalize_one("cfg 123 v2", expansions=EXP, fold_numbers=True)
    # 123 is a number literal (folded); v2 is one identifier token (kept)
    assert got == "configuration 0 v2"


def test_expand_alternatives_goldens():
    forms, m = expand_alternatives("initCfg", EXP)
    assert m == 2
    assert forms[0] == "initialize configuration"      # root first
    assert forms[-1] == "init cfg"                     # full (all-original) kept
    assert len(forms) == 4                             # 2^2 cross product

    # ambiguity class (the reference's "st" -> street|saint):
    forms, m = expand_alternatives("tmpDir", {"tmp": "temporary|temp", "dir": "directory"})
    assert m == 2 and len(forms) == 6                  # (2 alts + orig) x (1 + orig)
    assert forms[0] == "temporary directory"
    assert "tmp dir" in forms

    # permutation cap mirrors EXCESSIVE_PERMUTATIONS: full form survives the cut
    many = " ".join(["cfg"] * 10)                      # 2^10 = 1024 forms uncapped
    forms, m = expand_alternatives(many, EXP, max_expansions=64)
    assert m == 10 and len(forms) == 64
    assert forms[0] == " ".join(["configuration"] * 10)
    assert many in forms                               # full+root union preserved


def test_expansion_counts_sql_twin_on_adversarial_strings():
    """The chained-CTE oracle and the pandas expander must agree on inputs
    that actually exercise phrases, overlaps, repeats, and caps — the sf
    documents contain none of these (all n_matches=0 there)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from libpostal_spark.core.canonicalize import (
        canonicalize_batch,
        expand_alternatives_tokens,
    )

    texts = [
        "initCfg",
        "data set up",                      # phrase overlap: data-set wins
        "cfg cfg cfg",                      # consecutive singles
        "set up set up",                    # consecutive phrases
        "callBack errMsg tmpDir",           # camel-split feeding phrases
        "white list allow list",            # two phrases, same replacement
        "plain words with no matches",
        " ".join(["cfg"] * 10),             # cap: 2^10 -> 64
        "no op noop NO_OP",
        "",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    con = duckdb.connect()
    con.register("documents", pdf)
    odf = con.sql(entry._expansion_counts_sql()).df().sort_values("doc_id")

    base = canonicalize_batch(pdf["text"])
    for i, row in odf.reset_index(drop=True).iterrows():
        toks = base.iloc[i].split(" ") if base.iloc[i] else []
        forms, m = expand_alternatives_tokens(toks, EXP, 64)
        assert row["canon_full"] == base.iloc[i], texts[i]
        assert row["canon_root"] == forms[0], texts[i]
        assert int(row["n_matches"]) == m, texts[i]
        assert int(row["n_alternatives"]) == len(forms), texts[i]


def test_expansion_path_is_vectorized():
    """North rule: no per-row Python on the expansion path. The rewriter must
    be the chained .str.replace pass (C loops, one per dictionary PATTERN),
    and the expand UDF must take its vectorized branch for every shipped
    (single-alternative) dictionary."""
    import inspect

    from libpostal_spark.core import canonicalize as C
    from libpostal_spark.functions.udfs import make_expand_udf

    src = inspect.getsource(C.canonicalize_batch) + inspect.getsource(
        C.rewrite_joined_batch
    )
    assert ".map(" not in src  # the old toks.map(rewrite) row loop
    assert make_expand_udf(dict(DEFAULT_CODE_EXPANSIONS)).vectorized
    # '|' multi-alternative values need per-segment option counts -> exact path
    assert not make_expand_udf({"tmp": "temporary|temp"}).vectorized


def test_cascading_dictionary_falls_back_to_exact_path():
    """Code-review r3: when a key token appears among value tokens, the
    REPLACE chain would cascade (later patterns re-match replaced text)
    while enumeration never re-matches — such dictionaries must take the
    exact path, keeping forms[0] == canon_root."""
    from libpostal_spark.functions.udfs import make_expand_udf

    cascading = {"ab": "z", "z": "q"}
    assert not make_expand_udf(cascading).vectorized
    # disjoint dictionaries stay vectorized (incl. the shipped one)
    assert make_expand_udf({"cfg": "configuration"}).vectorized
