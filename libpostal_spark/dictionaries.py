"""Default token-expansion dictionary for source code.

The code analog of the reference's shipped per-language address dictionaries
(``resources/dictionaries/<lang>/*.txt``, matched multi-token-phrase-first by
``search_address_dictionaries_tokens`` via a trie,
/root/reference/src/address_dictionary.c:286-311, /root/reference/src/trie_search.c:240).
Where libpostal folds "St" ≡ "Street" and "Ave" ≡ "Avenue", a source-code
canonicalizer folds the abbreviation conventions programmers actually vary
on: ``cfg`` ≡ ``config`` ≡ ``configuration``, ``init`` ≡ ``initialize``,
camel-split compounds like ``call back`` ≡ ``callback``.

Keys may be multi-token phrases (space-separated) — matched greedily,
longest-first, exactly like the reference's phrase search. The dictionary is
deliberately cascade-free: no replacement output re-matches another key, so
one left-to-right pass is a fixpoint (and the sequential string-replace SQL
twin in __spark_entry__ is exactly equivalent).

Keywords of common languages (def, int, for, if…) are deliberately absent —
expanding those would fold genuinely different code. Like every libpostal
dictionary, this list is curative, not exhaustive: pass your own pairs via
``PipelineConfig.token_expansions``.
"""

from __future__ import annotations

# single-token abbreviations → canonical full form
SINGLE_TOKEN_EXPANSIONS: tuple[tuple[str, str], ...] = (
    ("addr", "address"),
    ("arg", "argument"),
    ("args", "arguments"),
    ("attr", "attribute"),
    ("attrs", "attributes"),
    ("auth", "authentication"),
    ("buf", "buffer"),
    ("cb", "callback"),
    ("cfg", "configuration"),
    ("cmd", "command"),
    ("conf", "configuration"),
    ("config", "configuration"),
    ("conn", "connection"),
    ("ctx", "context"),
    ("db", "database"),
    ("dest", "destination"),
    ("dir", "directory"),
    ("doc", "document"),
    ("docs", "documents"),
    ("env", "environment"),
    ("err", "error"),
    ("fn", "function"),
    ("func", "function"),
    ("idx", "index"),
    ("impl", "implementation"),
    ("init", "initialize"),
    ("len", "length"),
    ("lib", "library"),
    ("msg", "message"),
    ("num", "number"),
    ("obj", "object"),
    ("param", "parameter"),
    ("params", "parameters"),
    ("pkg", "package"),
    ("prev", "previous"),
    ("proc", "process"),
    ("prop", "property"),
    ("props", "properties"),
    ("ptr", "pointer"),
    ("req", "request"),
    ("res", "response"),
    ("resp", "response"),
    ("src", "source"),
    ("stmt", "statement"),
    ("str", "string"),
    ("tmp", "temporary"),
    ("util", "utility"),
    ("utils", "utility"),
    ("val", "value"),
    ("var", "variable"),
)

# multi-token phrases (as produced by the camel/underscore splitter) folded
# to one compound token — "callBack"/"call_back"/"callback" all canonicalize
# to "callback"
PHRASE_EXPANSIONS: tuple[tuple[str, str], ...] = (
    ("call back", "callback"),
    ("data base", "database"),
    ("data set", "dataset"),
    ("end point", "endpoint"),
    ("file name", "filename"),
    ("no op", "noop"),
    ("set up", "setup"),
    ("time out", "timeout"),
    ("time stamp", "timestamp"),
    ("white list", "allowlist"),
    ("allow list", "allowlist"),
)

DEFAULT_CODE_EXPANSIONS: tuple[tuple[str, str], ...] = (
    PHRASE_EXPANSIONS + SINGLE_TOKEN_EXPANSIONS
)


# --------------------------------------------------------------------------
# Class-tagged gazetteer (the reference's typed dictionary system).
#
# libpostal tags every dictionary entry with a ``dictionary_type`` from the
# enum at /root/reference/src/gazetteers.h:15-67 (DICTIONARY_SYNONYM=2,
# DICTIONARY_STOPWORD=3, DICTIONARY_AMBIGUOUS_EXPANSION=5,
# DICTIONARY_CONCATENATED_SUFFIX_SEPARABLE=13, DICTIONARY_QUALIFIER=16, …)
# loaded from per-class gazetteer files
# (resources/dictionaries/<lang>/{qualifiers,stopwords,synonyms,
# ambiguous_expansions,…}.txt) and lets ``libpostal_normalize_options_t``
# select which classes fire via its component/flag surface
# (/root/reference/src/libpostal.h:110-136; class-conditional expansion in
# src/expand.c:724-1424 — e.g. stopwords are removable only in root form).
#
# The code-domain transplant keeps the same five-class shape:
#
#   qualifier      — abbreviation → one canonical full form ("cfg"≡"configuration",
#                    the "St"≡"Street" analog)
#   concatenated_suffix_separable
#                  — split compound → concatenated canonical ("call back"≡
#                    "callback", the "Haupt Strasse"≡"Hauptstrasse" analog)
#   stopword       — tokens DELETED in the root canonical form (libpostal's
#                    stopwords.txt; removable-only-in-root semantics)
#   synonym        — full word → preferred full word ("folder"≡"directory",
#                    the synonyms.txt analog)
#   ambiguous_expansion
#                  — one abbreviation, several expansions ('|'-separated like
#                    the "st"→street|saint ambiguity class; the root form
#                    takes the FIRST alternative, expand_alternatives_tokens
#                    emits them all)
#
# DEFAULT_COMPONENTS reproduces the historical DEFAULT_CODE_EXPANSIONS
# behavior exactly (qualifier + concatenated only), so enabling the new
# classes is strictly opt-in — the reference's address_components default
# likewise excludes the aggressive classes.

DICTIONARY_QUALIFIER = "qualifier"                              # gazetteers.h:28 (=16)
DICTIONARY_CONCATENATED = "concatenated_suffix_separable"       # gazetteers.h:25 (=13)
DICTIONARY_STOPWORD = "stopword"                                # gazetteers.h:18 (=3)
DICTIONARY_SYNONYM = "synonym"                                  # gazetteers.h:17 (=2)
DICTIONARY_AMBIGUOUS = "ambiguous_expansion"                    # gazetteers.h:20 (=5)

# comment/doc-prose stopwords, deletable in the root canonical form. Tokens
# that are language keywords (for/if/in/is/and/or/not/with/as) are
# deliberately absent — deleting those would fold genuinely different code.
STOPWORD_TOKENS: tuple[str, ...] = (
    "a", "an", "the", "of", "this", "that", "these", "those",
    "into", "onto", "upon", "via",
)

# full word → preferred full word. Cascade-free like every other class: no
# replacement below is itself a key of any class.
SYNONYM_EXPANSIONS: tuple[tuple[str, str], ...] = (
    ("begin", "start"),
    ("blacklist", "denylist"),
    ("fetch", "retrieve"),
    ("folder", "directory"),
    ("halt", "stop"),
    ("whitelist", "allowlist"),
)

# abbreviation → '|'-separated alternatives (the "st" → street|saint class,
# /root/reference/src/expand.c gazetteer ambiguity handling). Root form =
# first alternative.
AMBIGUOUS_EXPANSIONS: tuple[tuple[str, str], ...] = (
    ("exp", "expression|exponent"),
    ("min", "minimum|minute"),
    ("sec", "second|security"),
    ("temp", "temporary|template"),
)

# (pattern, replacement, dictionary_class) — the full classed gazetteer.
CLASSED_ENTRIES: tuple[tuple[str, str, str], ...] = (
    tuple((k, v, DICTIONARY_CONCATENATED) for k, v in PHRASE_EXPANSIONS)
    + tuple((k, v, DICTIONARY_QUALIFIER) for k, v in SINGLE_TOKEN_EXPANSIONS)
    + tuple((t, "", DICTIONARY_STOPWORD) for t in STOPWORD_TOKENS)
    + tuple((k, v, DICTIONARY_SYNONYM) for k, v in SYNONYM_EXPANSIONS)
    + tuple((k, v, DICTIONARY_AMBIGUOUS) for k, v in AMBIGUOUS_EXPANSIONS)
)

DEFAULT_COMPONENTS: tuple[str, ...] = (
    DICTIONARY_CONCATENATED,
    DICTIONARY_QUALIFIER,
)
ALL_COMPONENTS: tuple[str, ...] = (
    DICTIONARY_CONCATENATED,
    DICTIONARY_QUALIFIER,
    DICTIONARY_STOPWORD,
    DICTIONARY_SYNONYM,
    DICTIONARY_AMBIGUOUS,
)


def classed_entries_for(components=None) -> tuple[tuple[str, str, str], ...]:
    """The classed entries whose dictionary class is in ``components``
    (None → DEFAULT_COMPONENTS), in CLASSED_ENTRIES order."""
    sel = frozenset(DEFAULT_COMPONENTS if components is None else components)
    unknown = sel - frozenset(ALL_COMPONENTS)
    if unknown:
        raise ValueError(f"unknown dictionary classes: {sorted(unknown)}")
    return tuple(e for e in CLASSED_ENTRIES if e[2] in sel)


# --------------------------------------------------------------------------
# Per-language gazetteers (the reference's language dimension).
#
# libpostal ships one dictionary DIRECTORY per language
# (resources/dictionaries/{en,de,fr,es,…}/*.txt) plus a shared "all"
# dictionary, namespaced in one trie as "<lang>|<key>"
# (/root/reference/src/address_dictionary.c search by language;
# ``libpostal_expand_address``'s options.languages selects which are
# consulted, src/expand.c:1452-1536 — when empty, the language classifier
# decides). The language-specific entry takes precedence over the shared
# one for the same key.
#
# Code-domain transplant: the shared gazetteer above is the "all" layer;
# each document language adds (a) its own stopwords and (b) spelling /
# abbreviation folds specific to that language's identifier conventions
# (en: British→American identifier spellings; fr/es/de: native
# abbreviations, which may OVERRIDE a shared key — e.g. "num" folds to
# "numero" for French rows, "number" otherwise, exactly the namespaced-trie
# precedence). Languages without a gazetteer (zh) fall back to the shared
# layer alone.

LANGUAGE_GAZETTEERS: dict[str, tuple[tuple[str, str, str], ...]] = {
    "en": (
        ("to", "", DICTIONARY_STOPWORD),
        ("behaviour", "behavior", DICTIONARY_SYNONYM),
        ("colour", "color", DICTIONARY_SYNONYM),
        ("optimise", "optimize", DICTIONARY_SYNONYM),
        ("initialise", "initialize", DICTIONARY_SYNONYM),
    ),
    "de": (
        ("der", "", DICTIONARY_STOPWORD),
        ("die", "", DICTIONARY_STOPWORD),
        ("das", "", DICTIONARY_STOPWORD),
        ("und", "", DICTIONARY_STOPWORD),
        ("konfig", "konfiguration", DICTIONARY_QUALIFIER),
        ("nr", "nummer", DICTIONARY_QUALIFIER),
    ),
    "fr": (
        ("le", "", DICTIONARY_STOPWORD),
        ("la", "", DICTIONARY_STOPWORD),
        ("les", "", DICTIONARY_STOPWORD),
        ("des", "", DICTIONARY_STOPWORD),
        # overrides the shared qualifier "num" → "number"
        ("num", "numero", DICTIONARY_QUALIFIER),
    ),
    "es": (
        ("el", "", DICTIONARY_STOPWORD),
        ("los", "", DICTIONARY_STOPWORD),
        ("las", "", DICTIONARY_STOPWORD),
        ("una", "", DICTIONARY_STOPWORD),
        # overrides the shared qualifier "config" → "configuration"
        ("config", "configuracion", DICTIONARY_QUALIFIER),
    ),
    # zh: no per-language gazetteer — shared layer only (the fallback path)
}

KNOWN_LANGUAGES: tuple[str, ...] = tuple(sorted(LANGUAGE_GAZETTEERS))


def entries_for_language(
    lang: str | None, components=None, root: bool = True
) -> dict[str, str]:
    """Merged pattern → replacement dict for one document language: the
    shared gazetteer plus the language's own entries, language winning on a
    shared key (the "<lang>|<key>" trie-namespace precedence). Unknown or
    missing languages get the shared layer alone. The component mask
    filters BOTH layers (dictionary_type filtering is language-agnostic in
    the reference)."""
    out = entries_for_components(components, root=root)
    sel = frozenset(DEFAULT_COMPONENTS if components is None else components)
    for pat, rep, cls in LANGUAGE_GAZETTEERS.get(lang or "", ()):
        if cls in sel:
            _add_entry(out, pat, rep, cls, root)
    return out


def _add_entry(
    out: dict[str, str], pat: str, rep: str, cls: str, root: bool
) -> None:
    """Shared per-class root-collapse rule (stopwords delete only in root
    form; ambiguous folds to its first alternative in root form) — one
    definition so the shared layer, the language layers, and therefore the
    generated SQL twins can never desync."""
    if cls == DICTIONARY_STOPWORD:
        if root:
            out[pat] = ""
        return
    out[pat] = rep.split("|")[0] if root else rep


def entries_for_components(components=None, root: bool = True) -> dict[str, str]:
    """pattern → replacement dict for the selected dictionary classes.

    ``root=True`` is the rewriter form (the ``expand_address_root`` analog):
    ambiguous values collapse to their FIRST alternative and stopwords map
    to "" (token deletion — libpostal's removable-only-in-root rule).
    ``root=False`` keeps the '|'-joined alternative lists for
    ``expand_alternatives_tokens`` and DROPS stopword deletions (the reference does
    not delete stopwords in full expansions).
    """
    out: dict[str, str] = {}
    for pat, rep, cls in classed_entries_for(components):
        _add_entry(out, pat, rep, cls, root)
    return out
