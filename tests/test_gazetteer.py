"""Class-tagged gazetteer: component masks, stopword deletion, ambiguous
alternatives, per-pattern match counts, and the DuckDB twin lockstep."""

import duckdb
import pandas as pd
import pytest

from libpostal_spark.core.canonicalize import (
    canonicalize_batch,
    phrase_match_count_matrix,
    phrase_priority_order,
    rewrite_joined_batch,
)
from libpostal_spark.dictionaries import (
    ALL_COMPONENTS,
    CLASSED_ENTRIES,
    DEFAULT_CODE_EXPANSIONS,
    DEFAULT_COMPONENTS,
    DICTIONARY_AMBIGUOUS,
    DICTIONARY_STOPWORD,
    classed_entries_for,
    entries_for_components,
)
from tests.helpers import expand_alternatives


def test_default_mask_reproduces_legacy_dictionary():
    # qualifier+concatenated is byte-for-byte the historical flat dictionary,
    # so the default pipeline behavior is unchanged by the classed surface
    assert entries_for_components(None) == dict(DEFAULT_CODE_EXPANSIONS)
    assert entries_for_components(DEFAULT_COMPONENTS) == dict(
        DEFAULT_CODE_EXPANSIONS
    )


def test_patterns_unique_across_classes():
    pats = [p for p, _, _ in CLASSED_ENTRIES]
    assert len(pats) == len(set(pats))


def test_unknown_class_rejected():
    with pytest.raises(ValueError, match="unknown dictionary classes"):
        classed_entries_for(("no_such_class",))


def test_cascade_free_across_all_classes():
    # invariant the sequential-replace twin depends on: no replacement's
    # token run re-matches any key of any enabled class
    full = entries_for_components(ALL_COMPONENTS, root=True)
    keys = set(full)
    for v in full.values():
        toks = v.split(" ") if v else []
        for i in range(len(toks)):
            for j in range(i + 1, len(toks) + 1):
                assert " ".join(toks[i : j]) not in keys


def test_stopword_deletion_root_only():
    full = entries_for_components(ALL_COMPONENTS, root=True)
    canon = canonicalize_batch(
        pd.Series(["the quick a fox of doom"]), expansions=full
    ).iloc[0]
    assert canon == "quick fox doom"
    # non-root form drops the deletions entirely (libpostal removes
    # stopwords only in the root expansion)
    alt = entries_for_components(ALL_COMPONENTS, root=False)
    assert "the" not in alt and "a" not in alt


def test_ambiguous_first_alternative_in_root():
    full = entries_for_components(ALL_COMPONENTS, root=True)
    assert full["sec"] == "second"
    canon = canonicalize_batch(
        pd.Series(["sec temp exp min"]), expansions=full
    ).iloc[0]
    assert canon == "second temporary expression minimum"


def test_ambiguous_full_alternation():
    # expand_alternatives receives the '|' lists and emits every combination
    alt = entries_for_components((DICTIONARY_AMBIGUOUS,), root=False)
    forms, n = expand_alternatives("sec handler", alt)
    assert n == 1
    assert set(forms) == {"second handler", "security handler", "sec handler"}
    assert forms[0] == "second handler"  # root form first


def test_synonyms_and_classes_compose():
    full = entries_for_components(ALL_COMPONENTS, root=True)
    canon = canonicalize_batch(
        pd.Series(["whitelist the cfg folder via callBack"]), expansions=full
    ).iloc[0]
    assert canon == "allowlist configuration directory callback"


def test_per_pattern_counts_match_total():
    full = entries_for_components(ALL_COMPONENTS, root=True)
    ordered = phrase_priority_order(full)
    s = canonicalize_batch(
        pd.Series(["the sec sec a dataBase setUp", "folder the folder"])
    )
    counts = phrase_match_count_matrix(s, ordered).T
    byname = {k: c.tolist() for (k, _), c in zip(ordered, counts)}
    assert byname["sec"] == [2, 0]
    assert byname["the"] == [1, 1]
    assert byname["data base"] == [1, 0]
    assert byname["set up"] == [1, 0]
    assert byname["folder"] == [0, 2]
    _, total = rewrite_joined_batch(s, full, count_matches=True)
    assert (sum(counts) == total).all()


def test_evolving_order_phrase_shadows_tokens():
    # "set up" matches as a phrase FIRST; the later "up"-free singles see the
    # rewritten stream — same evolving-sequence rule as the SQL twin
    full = entries_for_components(ALL_COMPONENTS, root=True)
    ordered = phrase_priority_order(full)
    s = canonicalize_batch(pd.Series(["no op a"]))
    counts = phrase_match_count_matrix(s, ordered).T
    byname = {k: c.tolist() for (k, _), c in zip(ordered, counts)}
    assert byname["no op"] == [1]
    assert byname["a"] == [1]


def test_language_gazetteer_merge_precedence():
    from libpostal_spark.dictionaries import entries_for_language

    fr = entries_for_language("fr", ALL_COMPONENTS)
    assert fr["num"] == "numero"            # language overrides shared key
    assert fr["cfg"] == "configuration"     # shared layer retained
    assert fr["le"] == ""                   # language stopword deletes
    en = entries_for_language("en", ALL_COMPONENTS)
    assert en["colour"] == "color" and en["num"] == "number"
    # no gazetteer for zh → shared layer alone (same for unknown/None)
    assert entries_for_language("zh", ALL_COMPONENTS) == entries_for_components(
        ALL_COMPONENTS
    )
    assert entries_for_language(None, ALL_COMPONENTS) == entries_for_components(
        ALL_COMPONENTS
    )
    # the component mask filters the language layer too
    assert "colour" not in entries_for_language("en")       # synonym masked out
    assert entries_for_language("de")["nr"] == "nummer"     # qualifier passes


def test_language_gazetteers_cascade_free():
    from libpostal_spark.dictionaries import (
        LANGUAGE_GAZETTEERS,
        entries_for_language,
    )

    for lv in list(LANGUAGE_GAZETTEERS) + [None]:
        full = entries_for_language(lv, ALL_COMPONENTS, root=True)
        keys = set(full)
        for v in full.values():
            toks = v.split(" ") if v else []
            for i in range(len(toks)):
                for j in range(i + 1, len(toks) + 1):
                    assert " ".join(toks[i : j]) not in keys, (lv, v)


def test_canonicalize_by_language_routing(spark):
    from libpostal_spark.operators.gazetteer import canonicalize_by_language

    rows = [
        (0, "en", "the colour num"),
        (1, "fr", "le num config"),
        (2, "zh", "la num the"),
        (3, None, "num cfg"),
        (4, "xx", "colour der num"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r.doc_id: r.canon
        for r in canonicalize_by_language(
            df, components=ALL_COMPONENTS
        ).collect()
    }
    assert out[0] == "color number"
    assert out[1] == "numero configuration"
    # zh: shared layer fires ("the" deleted, num folded), fr's "la" does NOT
    assert out[2] == "la number"
    assert out[3] == "number configuration"
    # unknown language == shared-layer fallback: en's "colour"/de's "der" kept
    assert out[4] == "colour der number"


def test_rewrite_fixpoint_fuzz():
    """Cascade-freedom as a measured property: one rewrite pass is a
    fixpoint for EVERY dictionary layer (shared + each language), on random
    streams mixing dictionary keys, phrase fragments, and fillers."""
    import random

    from libpostal_spark.dictionaries import (
        LANGUAGE_GAZETTEERS,
        entries_for_language,
    )

    rng = random.Random(20260817)
    dicts = {lv: entries_for_language(lv, ALL_COMPONENTS)
             for lv in list(LANGUAGE_GAZETTEERS) + [None]}
    vocab = sorted({t for d in dicts.values() for k in d for t in k.split()})
    fillers = ["alpha", "beta", "gamma", "x1", "handler", "worker"]
    docs = pd.Series([
        " ".join(rng.choice(vocab + fillers) for _ in range(rng.randint(0, 30)))
        for _ in range(300)
    ])
    for lv, exp in dicts.items():
        once, n1 = rewrite_joined_batch(docs, exp, count_matches=True)
        twice, n2 = rewrite_joined_batch(once, exp, count_matches=True)
        assert (once == twice).all(), lv
        assert (n2 == 0).all(), lv
        # per-pattern counts decompose the total exactly
        ordered = phrase_priority_order(exp)
        counts = phrase_match_count_matrix(docs, ordered).T
        assert (sum(counts) == n1).all(), lv


def test_classed_canon_has_no_stopwords_fuzz():
    import random

    from libpostal_spark.dictionaries import STOPWORD_TOKENS

    rng = random.Random(7)
    full = entries_for_components(ALL_COMPONENTS, root=True)
    words = list(STOPWORD_TOKENS) + ["cfg", "sec", "folder", "plain", "x"]
    docs = pd.Series([
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 25)))
        for _ in range(200)
    ])
    canon = canonicalize_batch(docs, expansions=full)
    banned = set(STOPWORD_TOKENS)
    for c in canon:
        assert not (set(c.split(" ")) & banned) or c == "", c


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (0, "the cfg of callBack handlers"),
        (1, "sec whitelist dataBase temp"),
        (2, "plain tokens only here"),
        (3, "folder begin halt via a an"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _duck_twin(rows, sql):
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    return con.execute(sql).fetchdf()


def test_phrase_class_matches_spark_vs_duckdb(spark, tiny_docs):
    # lockstep: the Spark operator and a chained-CTE twin built from the
    # same classed entries agree row-for-row on a hand-made corpus
    import __spark_entry__ as E
    from libpostal_spark.operators.gazetteer import phrase_class_matches

    out = (
        phrase_class_matches(tiny_docs, components=ALL_COMPONENTS)
        .orderBy("doc_id", "pattern")
        .collect()
    )
    got = [(r.doc_id, r.dict_class, r.pattern, r.n_matches) for r in out]

    # reuse the entry twin minus the suffix decoration: run it with the
    # decoration CASE collapsed by making every suffix empty
    sql = E._gazetteer_sql().replace(E._gaz_composed_sql(), "text")
    rows = [(r.doc_id, r.text) for r in tiny_docs.collect()]
    exp_df = _duck_twin(rows, sql).sort_values(["doc_id", "pattern"])
    exp = [tuple(t) for t in exp_df.itertuples(index=False)]
    assert got == exp
    # spot goldens
    assert (0, "stopword", "the", 1) in got
    assert (0, "concatenated_suffix_separable", "call back", 1) in got
    assert (1, "ambiguous_expansion", "sec", 1) in got
    assert (3, "synonym", "folder", 1) in got
    assert all(r[0] != 2 for r in got)


def test_canonicalize_classed_spark(spark, tiny_docs):
    from libpostal_spark.operators.gazetteer import canonicalize_classed

    out = {
        r.doc_id: r.canon
        for r in canonicalize_classed(
            tiny_docs, components=ALL_COMPONENTS
        ).collect()
    }
    assert out[0] == "configuration callback handlers"
    assert out[1] == "second allowlist database temporary"
    assert out[2] == "plain tokens only here"
    assert out[3] == "directory start stop"
