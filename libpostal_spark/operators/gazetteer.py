"""Class-tagged gazetteer operators: typed dictionary matching + classed
root canonicalization.

Reference analog: libpostal's typed dictionary system — every entry carries
a ``dictionary_type`` (/root/reference/src/gazetteers.h:15-67), phrase search
returns each match WITH its dictionary ids
(``search_address_dictionaries_tokens``,
/root/reference/src/address_dictionary.c:286-311), and the normalize options
select which classes fire (class-conditional expansion in
/root/reference/src/expand.c:724-1424 — stopwords removable only in the root
form). The code-domain gazetteer lives in ``libpostal_spark.dictionaries``
(five classes: qualifier / concatenated / stopword / synonym / ambiguous).

Spark shape: ONE Arrow-batched pandas UDF per operator does the
per-pattern work (the dictionary ships to executors inside the UDF closure —
the broadcast pattern; the gazetteer is tiny); everything after the UDF is
JVM-side (``posexplode`` over the fixed-width count vector, ``element_at``
against literal pattern/class arrays, a codegen'd filter). No shuffle at all:
both operators are narrow maps over the input.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.canonicalize import (
    canonicalize_batch,
    phrase_match_count_matrix,
    phrase_priority_order,
)
from ..dictionaries import entries_for_components


def _ordered_classed(components) -> list[tuple[str, str, str]]:
    """(pattern, root_replacement, dict_class) in the shared priority order
    (phrases longest-first then lexicographic, singles after) — the order
    every rewriter, counter, and SQL twin applies."""
    from ..dictionaries import classed_entries_for

    cls_of = {pat: cls for pat, _, cls in classed_entries_for(components)}
    rewr = entries_for_components(components, root=True)
    return [(k, v, cls_of[k]) for k, v in phrase_priority_order(rewr)]


def canonicalize_classed(df: DataFrame, components=None) -> DataFrame:
    """Root canonical form under the selected dictionary classes — the
    ``expand_address_root`` analog with the options' component mask applied
    (stopwords deleted, ambiguous folded to the first alternative)."""
    from ..functions.udfs import make_canonicalize_udf

    udf = make_canonicalize_udf(
        expansions=entries_for_components(components, root=True)
    )
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        udf(F.col("text")).alias("canon"),
    )


def canonicalize_by_language(
    df: DataFrame, components=None, lang_col: str = "lang"
) -> DataFrame:
    """Language-routed root canonicalization: each row is expanded with ITS
    language's merged gazetteer (shared layer + per-language entries, the
    "<lang>|<key>" trie-namespace precedence of
    /root/reference/src/address_dictionary.c; language selection =
    ``libpostal_expand_address`` options.languages,
    /root/reference/src/expand.c:1452-1536 — here the corpus's lang column
    plays the role of the language classifier's output).

    One Arrow UDF; inside each batch the rows are grouped by language and
    each group is rewritten vectorized with that language's dictionary —
    per-GROUP pandas work, never per-row. Unknown languages fall back to
    the shared layer.
    """
    from ..dictionaries import KNOWN_LANGUAGES, entries_for_language

    by_lang = {
        lv: entries_for_language(lv, components, root=True)
        for lv in KNOWN_LANGUAGES
    }
    base = entries_for_language(None, components, root=True)

    @F.pandas_udf(T.StringType())
    def routed_udf(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for content, lang in it:
            out = pd.Series("", index=content.index, dtype=object)
            for lv in lang.fillna("").unique():
                m = (lang.fillna("") == lv).to_numpy()
                out[m] = canonicalize_batch(
                    content[m], expansions=by_lang.get(lv, base)
                )
            yield out

    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(lang_col).alias("lang"),
        routed_udf(F.col("text"), F.col(lang_col)).alias("canon"),
    )


def phrase_class_matches(df: DataFrame, components=None) -> DataFrame:
    """Per-document dictionary matches tagged with their class:
    (id, dict_class, pattern, n_matches), n_matches > 0.

    The count semantics are the evolving-sequence ones shared with
    ``expand_alternatives_tokens`` / the chained-CTE twin: each pattern, in priority
    order, counts its non-overlapping matches on the stream as rewritten by
    every earlier pattern, then applies its own root replacement.

    The UDF emits one fixed-width int vector per row; the explode, the
    (class, pattern) lookup, and the n>0 filter are all JVM-side.
    """
    ordered = _ordered_classed(components)
    if not ordered:
        # fail at plan time, not as an opaque executor-side pd.concat error
        raise ValueError(
            "phrase_class_matches: the component mask selects no entries"
        )
    pairs = [(k, v) for k, v, _ in ordered]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def count_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for content in it:
            if len(content) == 0:
                yield pd.Series([], dtype=object)
                continue
            canon = canonicalize_batch(content)
            mat = phrase_match_count_matrix(canon, pairs).astype("int32")
            yield pd.Series(list(mat))

    pat_arr = F.array(*[F.lit(k) for k, _, _ in ordered])
    cls_arr = F.array(*[F.lit(c) for _, _, c in ordered])
    counted = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        count_udf(F.col("text")).alias("counts"),
    )
    # posexplode_OUTER: the non-outer form triggers InferFiltersFromGenerate
    # (an inferred size(counts) > 0 filter), whose extracted Python UDF gets
    # its own ArrowEvalPython — evaluating the count UDF TWICE. The outer
    # generate skips the inferred filter; its extra null rows die in the
    # n_matches > 0 predicate anyway (plan-pinned in tests/test_plans.py).
    return (
        counted.select(
            "doc_id", F.posexplode_outer("counts").alias("pos", "n_matches")
        )
        .where(F.col("n_matches") > 0)
        .select(
            "doc_id",
            F.element_at(cls_arr, F.col("pos") + 1).alias("dict_class"),
            F.element_at(pat_arr, F.col("pos") + 1).alias("pattern"),
            F.col("n_matches").cast("int").alias("n_matches"),
        )
    )
