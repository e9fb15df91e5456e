"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: MinHash-LSH near-dup clustering of the documents
               table at sf0.001 (the full normalize → hash → confirm →
               cluster pipeline of SURVEY.md §7.1).
queries()    — one entry per implemented operator family (SURVEY.md §2 +
               the training-data ops); each callable (spark, sf_dir) → DF.
oracle_sql() — exact ANSI-SQL twins runnable by DuckDB on the same parquet.
               Omitted for ops SQL cannot express (MinHash/LSH/CC) — the
               driver records rows-only checks for those.
"""

from __future__ import annotations

import atexit
import functools
import os
import sys
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from libpostal_spark.config import (  # noqa: E402
    LIKELY_THRESHOLD,
    WINNOW_GUARANTEE,
    PipelineConfig,
)
from libpostal_spark.corpus import cached_corpus_parquet  # noqa: E402
from libpostal_spark.functions import textstats as TS  # noqa: E402
from libpostal_spark.functions.udfs import make_canonicalize_udf  # noqa: E402
from libpostal_spark.operators import dedup, multimodal, similarity  # noqa: E402
from libpostal_spark.pipeline import DedupPipeline  # noqa: E402

_CFG = PipelineConfig()

# per-session reuse: one pipeline run, one sha-mode signature pass and one
# ANN index each serve several queries of a harness session. Every shared
# build goes through _memo, keyed by (applicationId, sf_dir, name) —
# applicationId is unique per SparkContext lifetime, so it cannot collide
# after a restart.
# Entries of a dead session are dropped without a release (their JVM, and
# with it every cached block, is already gone). Each name keeps at most
# _CACHE_LIMIT sf_dirs per session and releases the oldest (insertion
# order), so a long session sweeping several sf_dirs does not pin one
# persisted frame per sf_dir forever.
_MEMO: dict = {}
_CACHE_LIMIT = 2


def _unpersist(value) -> None:
    value.unpersist()


def _release(value, release) -> None:
    try:
        release(value)
    except Exception:
        pass  # JVM may already be gone at interpreter exit


def _memo(
    spark: SparkSession, sf_dir: str, name: str, build, release=_unpersist
):
    """``build()`` once per (session, sf_dir, name); ``release(value)`` frees
    it on eviction or at session end."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    if key not in _MEMO:
        for k in [k for k in _MEMO if k[0] != app]:
            del _MEMO[k]
        _MEMO[key] = (build(), release)
        same = [k for k in _MEMO if k[0] == app and k[2] == name]
        for old in same[:-_CACHE_LIMIT]:
            _release(*_MEMO.pop(old))
    return _MEMO[key][0]


def _persisted(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def release_caches() -> None:
    """Release every memoized build and drop it.

    ``_memo``'s per-name bound handles steady-state churn; this hook is the
    session-END sweep — registered via atexit so a one-sweep harness run
    exits with zero persisted frames still pinned in the executor block
    manager, and callable directly by long-lived hosts between sweeps."""
    for key in list(_MEMO):
        _release(*_MEMO.pop(key))
    _ivf_centroids.cache_clear()
    try:
        from libpostal_spark.operators.similarity import (
            release_exact_broadcasts,
        )

        release_exact_broadcasts()
    except Exception:
        pass  # JVM may already be gone at interpreter exit


atexit.register(release_caches)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _pipe_res(spark: SparkSession, sf_dir: str):
    """Per-session pipeline result over one sf_dir's documents: the
    shingle_stats, doc_near_dup_clusters and dup_status_pairs queries all
    read the SAME DedupPipeline run (one featurize pass over one
    representative per distinct text, one confirm, one clustering)."""
    return _memo(
        spark, sf_dir, "pipe_res",
        lambda: DedupPipeline(spark, _CFG).run(
            _spread(dedup.docs_as_files(_docs(spark, sf_dir)))
        ),
        release=lambda res: res.release(),
    )


def _ann_qvec(spark: SparkSession, sf_dir: str) -> list:
    """The ANN probe vector (vec_id = 0), fetched once per session per
    sf_dir — three ANN queries each collected it with their own filter job."""

    def build():
        row = _embs(spark, sf_dir).filter(F.col("vec_id") == 0).collect()[0]
        return [float(x) for x in row["embedding"]]

    return _memo(spark, sf_dir, "qvec", build, release=lambda v: None)


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out before an Arrow-UDF-heavy EAGER stage.

    The sf tables are single-row-group parquet files, so every scan is ONE
    partition and an Arrow UDF over it runs single-task on a 32-core session
    (guide §2.5 input skew: "one huge unsplittable file … repartition
    immediately after the read"). Scale-adaptive: when the scan already has
    >= defaultParallelism partitions (any real-scale table) this is a no-op
    — no shuffle is ever added at scale. The fan-out is capped at 16 tasks:
    Arrow kernels need a few hundred rows per batch to stay vectorized, and
    this substrate's DRAM bandwidth saturates near 8-16 concurrent Python
    workers (BASELINE.md); A/B at sf0.1: featurize 1.7 s single-task,
    0.78 s at 8, 0.65 s at 16, 1.47 s at 32. That A/B predates
    ``get_spark``'s worker daemon (``libpostal_spark/daemon.py``): every
    Python task then also paid 0.13–0.28 s re-reading Spark's zip
    directories, a per-task cost that penalized 32 tasks most, so the cap
    wants re-measuring. Applied ONLY on paths whose
    UDF is actually executed by the harness action — a projection-pruned
    path would pay the exchange and gain nothing."""
    spark = df.sparkSession
    n = min(spark.sparkContext.defaultParallelism, 16)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline over sf0.001 documents."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    return dedup.minhash_clusters(
        DedupPipeline(spark, _CFG).run(dedup.docs_as_files(docs))
    )


# --------------------------------------------------------------- queries

def _q_canonicalize(spark, sf_dir):
    canon_udf = make_canonicalize_udf()
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canon_udf(F.col("text")).alias("canon"),
    )


def _q_canonicalize_expanded(spark, sf_dir):
    """Canonicalization with the shipped code-abbreviation dictionary
    (single tokens + multi-token phrases) — the expand_address analog."""
    from libpostal_spark.dictionaries import DEFAULT_CODE_EXPANSIONS

    canon_udf = make_canonicalize_udf(expansions=dict(DEFAULT_CODE_EXPANSIONS))
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canon_udf(F.col("text")).alias("canon"),
    )


# deterministic non-ASCII decoration for the transliteration query: the sf
# corpora are all-ASCII, so exercising the Latin-ASCII fold requires
# injecting accented/fold-table text. Each doc gets a suffix chosen by
# doc_id % N; both the Spark query and the DuckDB twin append the same
# suffix, so the fold itself (NFD+strip-marks+_LATIN_FOLD vs the
# hand-derived SQL replace/translate map) is what the hash compares.
_TRANSLIT_SUFFIXES = [
    "Über straße",
    "naïve café déjà vu",
    "søren Ørsted øre",
    "Þorvaldur þing ðelta",
    "łódź ŁUKASZ",
    "ÆtherCœur æon",
    "señor niño mañana",
    "ħello ŋame ıstanbul",
]
# hand-derived ASCII folds (NFD decomposition + combining-mark strip for
# accents; _LATIN_FOLD for the non-decomposables). Multi-char folds need
# replace(); 1:1 folds ride one translate().
_TRANSLIT_MULTI = [("ß", "ss"), ("Æ", "AE"), ("æ", "ae"), ("œ", "oe"),
                   ("Þ", "TH"), ("þ", "th")]
_TRANSLIT_ONE = [
    ("Ü", "U"), ("ü", "u"), ("é", "e"), ("à", "a"), ("ï", "i"),
    ("ø", "o"), ("Ø", "O"), ("ð", "d"), ("ł", "l"), ("Ł", "L"),
    ("ó", "o"), ("ź", "z"), ("ñ", "n"), ("ħ", "h"), ("ŋ", "n"), ("ı", "i"),
]


def _translit_suffix_col():
    arr = F.array(*[F.lit(s) for s in _TRANSLIT_SUFFIXES])
    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_TRANSLIT_SUFFIXES)))
        + 1
    ).cast("int")
    return F.element_at(arr, idx)


def _q_canonicalize_translit(spark, sf_dir):
    """Canonicalization with Latin-ASCII transliteration ON (the CLDR
    Latin-ASCII analog, core/canonicalize.py latin_ascii_fold_one), over
    text decorated with deterministic non-ASCII suffixes."""
    canon_udf = make_canonicalize_udf(transliterate=True)
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canon_udf(
            F.concat(F.col("text"), F.lit(" "), _translit_suffix_col())
        ).alias("canon"),
    )


def _translit_sql() -> str:
    """DuckDB twin: same suffix decoration, then the hand-derived fold map
    (replace chain for multi-char folds + one translate for 1:1 accents)
    feeding the shared canon expression. The fold map is hand-maintained
    against the suffix alphabet — a fold-table or NFD-strip bug in the
    Spark path breaks the hash."""
    n = len(_TRANSLIT_SUFFIXES)
    suffix = _case_by_doc_id([_sql_quote(x) for x in _TRANSLIT_SUFFIXES], n)
    composed = f"(text || ' ' || {suffix})"
    folded = composed
    for a, b in _TRANSLIT_MULTI:
        folded = f"replace({folded}, {_sql_quote(a)}, {_sql_quote(b)})"
    frm = "".join(a for a, _ in _TRANSLIT_ONE)
    to = "".join(b for _, b in _TRANSLIT_ONE)
    folded = f"translate({folded}, {_sql_quote(frm)}, {_sql_quote(to)})"
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {_canon_expr(folded)} AS canon
        FROM documents
    """


# Non-European-script decoration for the extended transliteration query
# (round-5 verdict item 3): Arabic + Hebrew + Kana suffixes, including
# combining marks (fatha U+064E, dagesh U+05BC) that must ride the
# NFD+strip pass, Arabic-Indic digits that must fold to ASCII digits, the
# ع/ע → '' deletion folds, and the katakana long-vowel-mark drop. Both
# engines append the same suffix by doc_id % len(_TRANSLIT_EXT_SUFFIXES).
_TRANSLIT_EXT_SUFFIXES = [
    "مرحبا بالعالم",
    "خبز وشاي",
    "صفر ١٢٣ ظل",
    "قاموس عربي",
    "שלום עולם",
    "ספר תורה",
    "בּגד כּף",
    "كَتَبَ غضب",
    "にほんご すし",
    "カタカナ ラーメン",
    "서울 호텔",
    "부산 김치",
    "北京 上海",
    "中国 人民",
    # round 7: Devanagari + Thai (scripts 9-10)
    "नमस्ते भारत",
    "नई दिल्ली १२३",
    "กรุงเทพ ไทย",
    "สวัสดี ครับ",
]
# hand-derived fold map for the suffix alphabet (core/canonicalize.py
# _ARABIC_FOLD/_HEBREW_FOLD/_KANA_FOLD entries actually exercised above).
# Multi-char folds and deletions ride replace(); 1:1 folds ride one
# translate().
_TRANSLIT_EXT_MULTI = [
    ("خ", "kh"), ("ش", "sh"), ("غ", "gh"), ("ש", "sh"),
    ("ع", ""), ("ע", ""), ("َ", ""), ("ּ", ""),
    ("に", "ni"), ("ほ", "ho"), ("ご", "go"), ("す", "su"), ("し", "shi"),
    ("カ", "ka"), ("タ", "ta"), ("ナ", "na"), ("ラ", "ra"), ("メ", "me"),
    ("ー", ""),
    # Hangul syllables of the injected suffixes, each hand-decomposed by
    # the jamo arithmetic (syllable = 0xAC00 + (i*21 + m)*28 + f) — an
    # independent derivation of core/canonicalize._hangul_fold
    ("서", "seo"), ("울", "ul"), ("호", "ho"), ("텔", "tel"),
    ("부", "bu"), ("산", "san"), ("김", "gim"), ("치", "chi"),
    # Han pinyin for the injected hanzi
    ("北", "bei"), ("京", "jing"), ("上", "shang"), ("海", "hai"),
    ("中", "zhong"), ("国", "guo"), ("人", "ren"), ("民", "min"),
    # Devanagari consonants carry the inherent 'a'; the virama deletes
    # (context-free: क्रम folds karama — the documented trade)
    ("न", "na"), ("म", "ma"), ("स", "sa"), ("्", ""), ("त", "ta"),
    ("भ", "bha"), ("र", "ra"), ("द", "da"), ("ल", "la"),
    # Thai aspirates/digraph folds + preposed vowels in code-point order
    ("ข", "kh"), ("ค", "kh"), ("ท", "th"), ("พ", "ph"), ("ง", "ng"),
    ("ไ", "ai"),
]
_TRANSLIT_EXT_ONE = [
    ("م", "m"), ("ر", "r"), ("ح", "h"), ("ب", "b"), ("ا", "a"), ("ل", "l"),
    ("ز", "z"), ("و", "w"), ("ي", "y"), ("ص", "s"), ("ف", "f"), ("ظ", "z"),
    ("ق", "q"), ("س", "s"), ("ك", "k"), ("ت", "t"), ("ض", "d"),
    ("١", "1"), ("٢", "2"), ("٣", "3"),
    ("ל", "l"), ("ו", "v"), ("ם", "m"), ("ס", "s"), ("פ", "p"), ("ר", "r"),
    ("ת", "t"), ("ה", "h"), ("ב", "b"), ("י", "y"), ("כ", "k"), ("ף", "p"),
    ("ג", "g"), ("ד", "d"),
    ("ん", "n"), ("ン", "n"),
    # Devanagari 1:1 (vowel signs map BEFORE the NFD strip both sides)
    ("ई", "i"), ("ि", "i"), ("ी", "i"), ("े", "e"), ("ा", "a"),
    ("१", "1"), ("२", "2"), ("३", "3"),
    # Thai 1:1
    ("ก", "k"), ("ร", "r"), ("ุ", "u"), ("เ", "e"), ("ย", "y"),
    ("ส", "s"), ("ว", "w"), ("ั", "a"), ("ด", "d"), ("ี", "i"),
    ("บ", "b"),
]
# CONTEXT-SENSITIVE rows (round 7): German-routed suffixes where the de
# convention (ü→ue / ö→oe / ä→ae / ß→ss, reference: language-specific
# transliterators run before Latin-ASCII, src/transliterate.c:669) must
# beat the generic trema-strip (München→muenchen, NOT munchen). The camel
# case row proves the title-case digraph mapping preserves camel
# boundaries (GrößeÜberFünf → groesse ueber fuenf).
_TRANSLIT_DE_SUFFIXES = [
    "München Straße",
    "GrößeÜberFünf",
    "schön für Übermut",
    "Köln Düsseldorf Straßenbahn",
    "MÜNCHEN HBF ÜBERFÜHRUNG",        # all-caps: UE form, runs stay intact
]
# (uppercase source, Title digraph before a lowercase char, CAPS digraph
# otherwise) — the CLDR-style case-context rule (Über→Ueber, ÜBER→UEBER)
_TRANSLIT_DE_CTX = [("Ä", "Ae", "AE"), ("Ö", "Oe", "OE"), ("Ü", "Ue", "UE")]
_TRANSLIT_DE_LOWER = [("ä", "ae"), ("ö", "oe"), ("ü", "ue"), ("ß", "ss")]
# Danish/Norwegian arm (late round 7): the æ/ø/å digraph convention must
# beat the generic strip (København→koebenhavn, NOT kobenhavn; blåbær→
# blaabaer). Swedish stays on the generic arm BY CONVENTION (å→a ä→a
# ö→o is the Swedish romanization), so the routed-vs-generic contrast is
# itself the tested semantic.
_TRANSLIT_DA_SUFFIXES = [
    "København Ærø",
    "SMØRREBRØD på blåbær",           # all-caps word: OE form, no fragmenting
    "Århus smørrebrød",
]
_TRANSLIT_DA_CTX = [("Æ", "Ae", "AE"), ("Ø", "Oe", "OE"), ("Å", "Aa", "AA")]
_TRANSLIT_DA_LOWER = [("æ", "ae"), ("ø", "oe"), ("å", "aa")]
# the "following char is lowercase" context class, over the injected
# suffix alphabet (an independent re-derivation of str.islower for it)
_TRANSLIT_CTX_LOWER_CLASS = "a-zäöüßæøå"


def _digraph_arm_sql(expr: str, ctx, lower) -> str:
    """SQL re-derivation of the case-context digraph layer: each uppercase
    source folds to its Title digraph when captured before a lowercase
    char, to the CAPS digraph otherwise; lowercase sources fold flat."""
    for u, title, caps in ctx:
        expr = (f"regexp_replace({expr}, '{u}([{_TRANSLIT_CTX_LOWER_CLASS}])'"
                f", '{title}\\1', 'g')")
        expr = f"replace({expr}, '{u}', '{caps}')"
    for a, b in lower:
        expr = f"replace({expr}, {_sql_quote(a)}, {_sql_quote(b)})"
    return expr


def _q_canonicalize_translit_ext(spark, sf_dir):
    """Canonicalization with transliteration over NON-EUROPEAN scripts:
    Arabic + Hebrew + Kana + Hangul + Han romanization
    (core/canonicalize.py _ARABIC_FOLD/_HEBREW_FOLD/_KANA_FOLD,
    _hangul_fold — ALL 11,172 syllables generated from the jamo
    arithmetic — and the frequent-hanzi _HAN_FOLD; the per-script
    increment toward the reference's CLDR transliterator coverage,
    /root/reference/src/transliterate.c:669)."""
    canon_udf = make_canonicalize_udf(transliterate=True)
    de_udf = make_canonicalize_udf(transliterate=True, translit_lang="de")
    da_udf = make_canonicalize_udf(transliterate=True, translit_lang="da")
    suffixes = (_TRANSLIT_EXT_SUFFIXES + _TRANSLIT_DE_SUFFIXES
                + _TRANSLIT_DA_SUFFIXES)
    n_generic = len(_TRANSLIT_EXT_SUFFIXES)
    n_de_end = n_generic + len(_TRANSLIT_DE_SUFFIXES)
    arr = F.array(*[F.lit(s) for s in suffixes])
    idx0 = F.pmod(F.col("doc_id").cast("long"), F.lit(len(suffixes)))
    decorated = F.concat(
        F.col("text"), F.lit(" "), F.element_at(arr, (idx0 + 1).cast("int"))
    )
    # de-/da-tagged rows run their context-sensitive transliterator (the
    # reference's per-language rule precedence); the rest run generic
    canon = (
        F.when(idx0 >= n_de_end, da_udf(decorated))
        .when(idx0 >= n_generic, de_udf(decorated))
        .otherwise(canon_udf(decorated))
    )
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canon.alias("canon"),
    )


def _translit_ext_sql() -> str:
    """DuckDB twin: same suffix decoration, hand-derived Arabic/Hebrew fold
    map (replace chain for multi-char folds, deletions, and combining-mark
    strips + one translate for the 1:1 letters) feeding the shared canon
    expression. A fold-table or NFD-strip bug in the new scripts breaks
    the hash."""
    suffixes = (_TRANSLIT_EXT_SUFFIXES + _TRANSLIT_DE_SUFFIXES
                + _TRANSLIT_DA_SUFFIXES)
    n = len(suffixes)
    n_generic = len(_TRANSLIT_EXT_SUFFIXES)
    n_de_end = n_generic + len(_TRANSLIT_DE_SUFFIXES)
    suffix = _case_by_doc_id([_sql_quote(x) for x in suffixes], n)
    folded = f"(text || ' ' || {suffix})"
    for a, b in _TRANSLIT_EXT_MULTI:
        folded = f"replace({folded}, {_sql_quote(a)}, {_sql_quote(b)})"
    frm = "".join(a for a, _ in _TRANSLIT_EXT_ONE)
    to = "".join(b for _, b in _TRANSLIT_EXT_ONE)
    folded = f"translate({folded}, {_sql_quote(frm)}, {_sql_quote(to)})"
    # de/da arms: each language's case-context digraph convention replaces
    # BEFORE the shared canon expression (independent re-derivations of
    # _LANG_PRE_FOLD's _digraph_pre_fold rule)
    de_folded = _digraph_arm_sql(
        f"(text || ' ' || {suffix})", _TRANSLIT_DE_CTX, _TRANSLIT_DE_LOWER
    )
    da_folded = _digraph_arm_sql(
        f"(text || ' ' || {suffix})", _TRANSLIT_DA_CTX, _TRANSLIT_DA_LOWER
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {_canon_expr(folded)} AS canon
        FROM documents
        WHERE CAST(doc_id AS BIGINT) % {n} < {n_generic}
        UNION ALL
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {_canon_expr(de_folded)} AS canon
        FROM documents
        WHERE CAST(doc_id AS BIGINT) % {n} >= {n_generic}
          AND CAST(doc_id AS BIGINT) % {n} < {n_de_end}
        UNION ALL
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {_canon_expr(da_folded)} AS canon
        FROM documents
        WHERE CAST(doc_id AS BIGINT) % {n} >= {n_de_end}
    """


# classed-gazetteer fixtures: the sf corpora carry natural stopwords but no
# code abbreviations, so each doc appends a deterministic suffix (doc_id % 8)
# exercising every dictionary class — qualifier, concatenated phrase (incl.
# camelCase forms the tokenizer must split first), stopword, synonym, and
# ambiguous. Both the Spark query and the DuckDB twin decorate identically.
_GAZ_SUFFIXES = [
    "cfg err dataBase init",
    "sec folder timeOut",
    "temp whitelist ptr",
    "exp min blacklist attr",
    "callBack fetch req",
    "begin halt tmp upon",
    "setUp noOp env via",
    "whiteList src params onto",
]


def _gaz_decorated(spark, sf_dir):
    arr = F.array(*[F.lit(s) for s in _GAZ_SUFFIXES])
    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_GAZ_SUFFIXES))) + 1
    ).cast("int")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.element_at(arr, idx)).alias(
            "text"
        ),
    )


def _gaz_composed_sql() -> str:
    suffix = _case_by_doc_id(
        [_sql_quote(x) for x in _GAZ_SUFFIXES], len(_GAZ_SUFFIXES)
    )
    return f"(text || ' ' || {suffix})"


def _q_gazetteer_matches(spark, sf_dir):
    """Class-tagged dictionary matching (gazetteers.h typed dictionaries;
    search_address_dictionaries_tokens returns matches WITH dictionary ids):
    (doc_id, dict_class, pattern, n_matches) over all five classes."""
    from libpostal_spark.dictionaries import ALL_COMPONENTS
    from libpostal_spark.operators.gazetteer import phrase_class_matches

    return phrase_class_matches(
        _spread(_gaz_decorated(spark, sf_dir)), components=ALL_COMPONENTS
    )


def _gazetteer_sql() -> str:
    """Chained-CTE twin: one step per classed pattern in the shared priority
    order, each counting its non-overlapping matches on the evolving
    doubled-space stream BEFORE applying its root replacement (stopwords
    delete, ambiguous folds to the first alternative), then an unpivot of
    the per-pattern counts."""
    from libpostal_spark.operators.gazetteer import _ordered_classed
    from libpostal_spark.dictionaries import ALL_COMPONENTS

    ordered = _ordered_classed(ALL_COMPONENTS)
    steps, prev = [], "s0"
    for i, (k, v, _) in enumerate(ordered, start=1):
        pat = _sql_quote(" " + k.replace(" ", "  ") + " ")
        rep = _sql_quote(" " + v.replace(" ", "  ") + " ")
        steps.append(
            f"s{i} AS (SELECT * EXCLUDE (s), replace(s, {pat}, {rep}) AS s, "
            f"(length(s) - length(replace(s, {pat}, ''))) // length({pat})"
            f" AS m{i} FROM {prev})"
        )
        prev = f"s{i}"
    chain = ",\n            ".join(steps)
    unpivot = "\n        UNION ALL ".join(
        f"SELECT doc_id, '{cls}' AS dict_class, {_sql_quote(k)} AS pattern, "
        f"CAST(m{i} AS INT) AS n_matches FROM {prev} WHERE m{i} > 0"
        for i, (k, _, cls) in enumerate(ordered, start=1)
    )
    return f"""
        WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                          {_canon_expr(_gaz_composed_sql())} AS canon
                   FROM documents),
            s0 AS (SELECT doc_id,
                          ' ' || replace(canon, ' ', '  ') || ' ' AS s
                   FROM c),
            {chain}
        {unpivot}
    """


def _q_canonicalize_classed(spark, sf_dir):
    """Root canonicalization with ALL dictionary classes active — the
    normalize-options component mask at its widest (stopwords deleted,
    synonyms folded, ambiguous abbreviations to their first alternative;
    expand.c's class-conditional root expansion)."""
    from libpostal_spark.dictionaries import ALL_COMPONENTS
    from libpostal_spark.operators.gazetteer import canonicalize_classed

    return canonicalize_classed(
        _gaz_decorated(spark, sf_dir), components=ALL_COMPONENTS
    )


def _classed_canon_sql() -> str:
    from libpostal_spark.core.canonicalize import phrase_priority_order
    from libpostal_spark.dictionaries import (
        ALL_COMPONENTS,
        entries_for_components,
    )

    expr = (
        f"' ' || replace({_canon_expr(_gaz_composed_sql())}, ' ', '  ') || ' '"
    )
    for k, v in phrase_priority_order(
        entries_for_components(ALL_COMPONENTS, root=True)
    ):
        pat = " " + k.replace(" ", "  ") + " "
        rep = " " + v.replace(" ", "  ") + " "
        expr = f"replace({expr}, {_sql_quote(pat)}, {_sql_quote(rep)})"
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               trim(regexp_replace({expr}, ' +', ' ', 'g')) AS canon
        FROM documents
    """


# per-language routing fixtures: suffixes chosen by (lang, doc_id % 4).
# Each language's suffixes exercise its own gazetteer entries (incl. the
# fr/es overrides of shared keys), and the zh suffixes deliberately carry
# OTHER languages' words (la/der/el/und) to prove the fallback path leaves
# them untouched while shared-layer entries still fire.
_ML_SUFFIXES = {
    "en": ["the colour of behaviour", "optimise to initialise",
           "colour cfg the", "to behaviour num"],
    "de": ["der konfig und nr", "die das nr config",
           "und der konfig num", "das die nr cfg"],
    "fr": ["le num la config", "les des num cfg",
           "la le num attr", "des num les init"],
    "es": ["el config los num", "las config una cfg",
           "una los config init", "el las config attr"],
    "zh": ["config num the cfg", "num cfg la der",
           "config el und init", "the config num attr"],
}


def _q_canonicalize_multilang(spark, sf_dir):
    """Language-routed expansion (expand_address_languages: per-language
    dictionary directories + shared layer, language entry winning on a
    shared key) — each row rewritten with its lang column's merged
    gazetteer, all dictionary classes active."""
    from libpostal_spark.dictionaries import ALL_COMPONENTS
    from libpostal_spark.operators.gazetteer import canonicalize_by_language

    langs = sorted(_ML_SUFFIXES)
    suffix = F.lit(None).cast("string")
    for lv in langs:
        arr = F.array(*[F.lit(s) for s in _ML_SUFFIXES[lv]])
        idx = (
            F.pmod(F.col("doc_id").cast("long"), F.lit(4)) + 1
        ).cast("int")
        suffix = F.when(F.col("lang") == lv, F.element_at(arr, idx)).otherwise(
            suffix
        )
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.concat(
            F.col("text"), F.lit(" "), F.coalesce(suffix, F.lit(""))
        ).alias("text"),
    )
    return canonicalize_by_language(base, components=ALL_COMPONENTS)


def _multilang_sql() -> str:
    """UNION-ALL twin: one arm per language, each a replace chain generated
    from that language's MERGED gazetteer (shared + per-language, language
    precedence) in the shared priority order, plus a shared-layer-only arm
    for languages without a gazetteer."""
    from libpostal_spark.core.canonicalize import phrase_priority_order
    from libpostal_spark.dictionaries import (
        ALL_COMPONENTS,
        KNOWN_LANGUAGES,
        entries_for_language,
    )

    langs = sorted(_ML_SUFFIXES)

    def suffix_case(lv: str) -> str:
        return _case_by_doc_id(
            [_sql_quote(x) for x in _ML_SUFFIXES[lv]], len(_ML_SUFFIXES[lv])
        )

    def chain(lv) -> str:
        exp = entries_for_language(lv, ALL_COMPONENTS, root=True)
        e = "' ' || replace(canon0, ' ', '  ') || ' '"
        for k, v in phrase_priority_order(exp):
            pat = " " + k.replace(" ", "  ") + " "
            rep = " " + v.replace(" ", "  ") + " "
            e = f"replace({e}, {_sql_quote(pat)}, {_sql_quote(rep)})"
        return f"trim(regexp_replace({e}, ' +', ' ', 'g'))"

    arms = []
    known = set(KNOWN_LANGUAGES)
    for lv in langs:
        composed = f"(text || ' ' || {suffix_case(lv)})"
        body = chain(lv if lv in known else None)
        arms.append(f"""
        SELECT doc_id, lang, {body} AS canon FROM (
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                   {_canon_expr(composed)} AS canon0
            FROM documents WHERE lang = {_sql_quote(lv)})""")
    in_list = ", ".join(_sql_quote(lv) for lv in langs)
    arms.append(f"""
        SELECT doc_id, lang, {chain(None)} AS canon FROM (
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                   {_canon_expr("(text || ' ')")} AS canon0
            FROM documents WHERE lang IS NULL OR lang NOT IN ({in_list}))""")
    return " UNION ALL ".join(arms)


# classifier-routed fixtures: suffixes carrying each language's MARKER
# words (so the lang_id argmax picks that language) plus words its
# gazetteer folds — doc_id % 6. Index 0 leaves the text natural (en or und
# prediction); index 5 mixes two languages' markers so the strictly-greater
# dict-order argmax tiebreak is exercised end-to-end.
_LR_SUFFIXES = [
    "",
    "der die und das konfig nr",
    "le la et les num config",
    "el la de los config num",
    "the and of colour behaviour",
    "der die und le la et",
]


def _q_canonicalize_langid_routed(spark, sf_dir):
    """The reference's DEFAULT expand path: with options.languages empty,
    the language classifier decides which dictionaries apply
    (src/expand.c language selection via src/language_classifier.c). Here
    the marker lang_id plays the classifier and feeds
    canonicalize_by_language — prediction and routing in one plan, no
    intermediate materialization."""
    from libpostal_spark.dictionaries import ALL_COMPONENTS
    from libpostal_spark.functions.textstats import lang_id
    from libpostal_spark.operators.gazetteer import canonicalize_by_language

    arr = F.array(*[F.lit(s) for s in _LR_SUFFIXES])
    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_LR_SUFFIXES))) + 1
    ).cast("int")
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.rtrim(
            F.concat(F.col("text"), F.lit(" "), F.element_at(arr, idx))
        ).alias("text"),
    )
    routed = base.select(
        "doc_id", F.col("text"), lang_id(F.col("text")).alias("lang_pred")
    )
    out = canonicalize_by_language(
        routed, components=ALL_COMPONENTS, lang_col="lang_pred"
    )
    return out.select(
        "doc_id", F.col("lang").alias("lang_pred"), "canon"
    )


def _langid_routed_sql() -> str:
    """Twin: the marker-argmax expression predicts the language of the SAME
    decorated text, then a UNION-ALL arm per predicted language applies that
    language's merged replace chain (shared fallback arm for everything
    else, incl. 'und')."""
    from libpostal_spark.core.canonicalize import phrase_priority_order
    from libpostal_spark.dictionaries import (
        ALL_COMPONENTS,
        KNOWN_LANGUAGES,
        entries_for_language,
    )

    suffix = _case_by_doc_id(
        [_sql_quote(x) for x in _LR_SUFFIXES], len(_LR_SUFFIXES)
    )

    def chain(lv) -> str:
        exp = entries_for_language(lv, ALL_COMPONENTS, root=True)
        e = "' ' || replace(canon0, ' ', '  ') || ' '"
        for k, v in phrase_priority_order(exp):
            pat = " " + k.replace(" ", "  ") + " "
            rep = " " + v.replace(" ", "  ") + " "
            e = f"replace({e}, {_sql_quote(pat)}, {_sql_quote(rep)})"
        return f"trim(regexp_replace({e}, ' +', ' ', 'g'))"

    arms = [
        f"""
        SELECT doc_id, lang_pred, {chain(lv)} AS canon FROM p
        WHERE lang_pred = {_sql_quote(lv)}"""
        for lv in KNOWN_LANGUAGES
    ]
    in_list = ", ".join(_sql_quote(lv) for lv in KNOWN_LANGUAGES)
    arms.append(f"""
        SELECT doc_id, lang_pred, {chain(None)} AS canon FROM p
        WHERE lang_pred NOT IN ({in_list})""")
    union = " UNION ALL ".join(arms)
    return f"""
        WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                          rtrim(text || ' ' || {suffix}) AS text
                   FROM documents),
             p AS (SELECT doc_id, {_langid_sql()} AS lang_pred,
                          {_canon_expr('text')} AS canon0
                   FROM d)
        {union}
    """


# numex goldens: (phrase, hand-derived fold through the canonicalizer with
# fold_spelled_numbers=True, fold_roman=True). The expected strings were
# derived BY HAND from the reference's composition rules (multiplier
# groups, terminal ordinals, swallowed "and", 19|84 tens-split, strict
# subtractive Roman) — not by running the implementation — so the oracle
# CASE is an independent check of core/numex.py end-to-end through the UDF.
_NUMEX_PHRASES = [
    ("three hundred twenty one items", "321 items"),
    ("nineteen eighty four", "19 84"),
    ("one hundred and two", "102"),
    ("seven thousand five hundred", "7500"),
    ("twenty first street", "21 street"),
    ("zero warnings found", "0 warnings found"),
    ("no numbers in this phrase", "no numbers in this phrase"),
    ("two million three", "2000003"),
    ("one two three", "1 2 3"),
    ("sixty six degrees north", "66 degrees north"),
    ("the fifth element", "the 5 element"),
    ("four score and seven years", "4 score and 7 years"),
    ("thirty thousandth time", "30000 time"),
    ("chapter xiv section iv", "chapter 14 section 4"),
    # 'and' is swallowed ONLY when the next word extends the run
    ("two and three apples", "2 and 3 apples"),
    # ordinal unit after a closed multiplier composes like the cardinal
    ("two thousand and first prize", "2001 prize"),
]

# Multi-language numex goldens (reference: per-language rule tables in
# src/numex_data.c:1-8871, loader/composer src/numex.c:1260; SURVEY §2.3's
# own example "quatre vingt douze"→92 is French). Expected folds derived BY
# HAND from each language's grammar — French vigesimal pairs and the 'et'
# connective, German compound-token morphemes, Spanish fused hundreds and
# the 'y' connective — not by running the implementation. Non-English rows
# run with transliterate=True (the tokenizer is ASCII/code-oriented;
# accents fold upstream exactly as the reference transliterates before
# numex).
_NUMEX_PHRASES_ML = [("en", p, o) for p, o in _NUMEX_PHRASES] + [
    ("fr", "quatre vingt douze rue de la Paix", "92 rue de la paix"),
    ("fr", "soixante et onze", "71"),
    ("fr", "mille neuf cent quatre vingt quatorze", "1994"),
    ("fr", "le premier étage", "le 1 etage"),
    ("fr", "vingt et unième siècle", "21 siecle"),
    ("fr", "deux cents mètres", "200 metres"),
    ("fr", "zéro défaut", "0 defaut"),
    ("fr", "soixante dix sept ans", "77 ans"),
    ("fr", "aucun nombre ici", "aucun nombre ici"),
    ("fr", "trois millions de personnes", "3000000 de personnes"),
    ("fr", "chapitre xiv", "chapitre 14"),
    ("de", "einundzwanzig Fenster", "21 fenster"),
    ("de", "zweitausendfünfhundertdreiundvierzig", "2543"),
    ("de", "dreißig Grad", "30 grad"),
    ("de", "die erste Straße links", "die 1 strasse links"),
    ("de", "fünfundzwanzig", "25"),
    ("de", "zwei Millionen Einwohner", "2000000 einwohner"),
    ("de", "hundert Jahre", "100 jahre"),
    ("de", "kein Wert hier", "kein wert hier"),
    ("de", "einundzwanzigste Etage", "21 etage"),
    ("de", "siebzehn", "17"),
    ("es", "treinta y dos casas", "32 casas"),
    ("es", "dieciséis velas", "16 velas"),
    ("es", "vigésimo segundo piso", "22 piso"),
    ("es", "quinientos cuarenta y tres", "543"),
    ("es", "dos mil veinte", "2020"),
    ("es", "el primer piso", "el 1 piso"),
    ("es", "mil novecientos noventa y nueve", "1999"),
    ("es", "cero errores", "0 errores"),
    ("es", "sin numeros aqui", "sin numeros aqui"),
    ("es", "un millón de habitantes", "1000000 de habitantes"),
    # second table set (core/numex_ml2.py): Italian compound tokens with
    # vowel elision, Portuguese 'e'-connective chains, Dutch 'en'-compounds,
    # Russian additive runs — the Russian rows enter in CYRILLIC and the
    # expected folds are the ROMANIZED digits+words because the non-en
    # rows run with transliterate=True (Cyrillic folds to Latin upstream,
    # then the dual-keyed ru tables parse the romanization)
    ("it", "ventuno finestre sul mare", "21 finestre sul mare"),
    ("it", "millenovecentonovantaquattro", "1994"),
    ("it", "il ventesimo secolo", "il 20 secolo"),
    ("it", "duemilacinquecento metri", "2500 metri"),
    ("it", "centottanta gradi", "180 gradi"),
    ("it", "ventitré gradi", "23 gradi"),
    ("it", "due milioni trecento", "2000300"),
    ("it", "nessun numero qui", "nessun numero qui"),
    ("pt", "vinte e dois carros", "22 carros"),
    ("pt", "cento e vinte e três", "123"),
    ("pt", "mil novecentos e noventa e nove", "1999"),
    ("pt", "quinhentos e quarenta e três", "543"),
    ("pt", "o primeiro andar", "o 1 andar"),
    ("pt", "um milhão de habitantes", "1000000 de habitantes"),
    ("pt", "sem números aqui", "sem numeros aqui"),
    ("nl", "eenentwintig ramen", "21 ramen"),
    ("nl", "tweeduizendtien", "2010"),
    ("nl", "driehonderdvijfentwintig huizen", "325 huizen"),
    ("nl", "tweeëntwintig stoelen", "22 stoelen"),
    ("nl", "de eerste straat links", "de 1 straat links"),
    ("nl", "twee miljoen inwoners", "2000000 inwoners"),
    ("nl", "geen nummer hier", "geen nummer hier"),
    ("ru", "сто двадцать три дома", "123 doma"),
    ("ru", "две тысячи десять", "2010"),
    ("ru", "первый этаж", "1 etazh"),
    ("ru", "двадцать первый век", "21 vek"),
    ("ru", "тысяча девятьсот восемьдесят четыре", "1984"),
    ("ru", "два миллиона жителей", "2000000 zhiteley"),
    ("ru", "нет чисел здесь", "net chisel zdes"),
    # third table set (core/numex_cjk.py): Han positional-multiplicative
    # numerals — zh/ja run with transliterate=False (the pinyin fold
    # would consume the numerals first), so the expected folds keep every
    # non-numeral Han char as its own token (the per-char tokenizer)
    ("zh", "二十三 度", "23 度"),
    ("zh", "二千十年 竣工", "2010 年 竣 工"),
    ("zh", "第三 号 楼", "3 号 楼"),
    ("zh", "共 三万五千 件", "共 35000 件"),
    ("zh", "两千 人", "2000 人"),
    ("zh", "一九八四 年", "1984 年"),
    ("zh", "没有 数字", "没 有 数 字"),
    ("ja", "三番目 の 建物", "3 の 建 物"),
    ("ja", "二十三 円", "23 円"),
    ("ja", "二千十年", "2010 年"),
    ("ja", "三億 人", "300000000 人"),
    ("ja", "百五 号室", "105 号 室"),
    ("ja", "一九八四 年", "1984 年"),
    ("ja", "数字 なし", "数 字 な し"),
]
_NUMEX_LANGS = ("en", "fr", "de", "es", "it", "pt", "nl", "ru", "zh", "ja")


def _q_numex_fold(spark, sf_dir):
    """numex spelled-number + Roman folding through the canonicalize UDF in
    all TEN rule-table languages (en/fr/de/es + it/pt/nl/ru + zh/ja): each
    doc folds a deterministic golden phrase (doc_id % K) with the folder
    routed by the phrase's language — the analog of the reference applying
    the numex table of the language in effect (src/numex.c:1260,
    per-language data src/numex_data.c; the zh/ja Han-numeral tables are
    the set's first non-alphabetic grammars and run without the
    transliterate stage)."""
    from libpostal_spark.functions.udfs import (
        make_canonicalize_routed_numex_udf,
    )

    n = len(_NUMEX_PHRASES_ML)
    arr = F.array(*[F.lit(p) for _, p, _ in _NUMEX_PHRASES_ML])
    larr = F.array(*[F.lit(l) for l, _, _ in _NUMEX_PHRASES_ML])
    idx = (F.pmod(F.col("doc_id").cast("long"), F.lit(n)) + 1).cast("int")
    phrase = F.element_at(arr, idx)
    lang = F.element_at(larr, idx)
    # ONE language-routed UDF (groups by lang inside each Arrow batch) —
    # a CASE chain of ten per-language UDFs would evaluate every branch's
    # UDF on every batch (Spark does not short-circuit UDF branches)
    routed = make_canonicalize_routed_numex_udf()
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang.alias("lang"),
        routed(phrase, lang).alias("folded"),
    )


def _numex_sql() -> str:
    n = len(_NUMEX_PHRASES_ML)
    case = _case_by_doc_id(
        [_sql_quote(out) for _, _, out in _NUMEX_PHRASES_ML], n
    )
    lcase = _case_by_doc_id(
        [_sql_quote(l) for l, _, _ in _NUMEX_PHRASES_ML], n
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, {lcase} AS lang,
               {case} AS folded
        FROM documents
    """


def _q_expansion_counts(spark, sf_dir):
    """expand_address alternation summary: full+root forms and the capped
    cross-product size per document."""
    from libpostal_spark.dictionaries import DEFAULT_CODE_EXPANSIONS
    from libpostal_spark.functions.udfs import make_expand_udf

    udf = make_expand_udf(dict(DEFAULT_CODE_EXPANSIONS), max_expansions=64)
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), udf(F.col("text")).alias("e")
    ).select(
        "doc_id",
        F.col("e.canon_full").alias("canon_full"),
        F.col("e.canon_root").alias("canon_root"),
        F.col("e.n_matches").alias("n_matches"),
        F.col("e.n_alternatives").alias("n_alternatives"),
    )


def _q_exact_dup_groups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("group_sha", F.sha2(F.col("text").cast("binary"), 256))
        .groupBy("group_sha")
        .agg(
            F.count("*").cast("long").alias("dup_count"),
            F.min("doc_id").cast("long").alias("canonical_doc_id"),
        )
    )


def _q_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.norm_fingerprint(F.col("text")).alias("fp"),
    )


def _q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish token counts in one projection (merged from the
    former token_count / bpe_token_count queries so every operator-bearing
    registry entry fits inside the driver's 50-query correctness window)."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.token_count(F.col("text")).alias("n_tokens"),
        TS.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def _cos_pairs(spark, sf_dir):
    """Per-session cosine near-dup pair frame (threshold 0.4): the pairs
    query and the clusters query score the same corpus — one persisted
    scoring pass serves both."""
    return _memo(
        spark, sf_dir, "cos_pairs",
        lambda: _persisted(
            similarity.cosine_pairs(_spread(_embs(spark, sf_dir)), threshold=0.4)
        ),
    )


def _q_embedding_near_dup(spark, sf_dir):
    return _cos_pairs(spark, sf_dir)


def _q_embedding_clusters(spark, sf_dir):
    """Embedding-cosine near-dup clustering (CC over the exact pair graph
    at sf scale) — the embedding analog of doc_near_dup_clusters."""
    return similarity.embedding_clusters(
        _spread(_embs(spark, sf_dir)), _cos_pairs(spark, sf_dir)
    )


def _q_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.n_chars(F.col("text")).alias("n_chars_actual"),
        TS.alpha_ratio(F.col("text")).alias("alpha_ratio"),
        TS.punct_ratio(F.col("text")).alias("punct_ratio"),
        TS.stopword_ratio(F.col("text")).alias("stopword_ratio"),
        TS.quality_score(F.col("text")).alias("quality"),
    )


def _q_langid(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.lang_id(F.col("text")).alias("lang_pred"),
    )


def _q_langid_trigram(spark, sf_dir):
    """Statistical language ID: character-trigram profile classifier fit
    and applied in one distributed pass (integer-exact; see
    textstats.lang_id_trigram)."""
    out = TS.lang_id_trigram(_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang_pred"
    )


def _langid_trigram_sql() -> str:
    """DuckDB twin: PURE SQL at any compare scale — counts, totals, the
    exact per-trigram argmax of cnt_L/total_L, and the majority vote are
    all computed from the registered ``documents`` view with the same
    deterministic tie-breaks as the Spark side.

    The model fit (totals AND counts CTEs) is restricted to the same
    deterministic sample the Spark side uses (first ``fit_max_docs`` = 1000
    doc_ids in sort order). The argmax of cnt_L/total_L is decided by
    PAIRWISE integer cross-multiplication (cnt_M·tot_L vs cnt_L·tot_M in
    HUGEINT — exactly the ordering the Spark driver's Π-total-product
    scores induce), so no scale-dependent literal is embedded anywhere and
    the twin runs unmodified at any sf_dir (round-5 verdict item 4)."""
    fit_max_docs = 1000
    return f"""
        WITH low AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                            lower(text) AS t
                     FROM documents WHERE length(lower(text)) >= 3),
        poss AS (SELECT doc_id, lang, t,
                        unnest(generate_series(1, length(t) - 2)) AS pos
                 FROM low),
        tris AS (SELECT doc_id, lang,
                        substr(t, CAST(pos AS INT), 3) AS tri
                 FROM poss),
        fit_ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
                    FROM documents ORDER BY 1 LIMIT {fit_max_docs}),
        totals AS (SELECT lang, CAST(sum(length(t) - 2) AS HUGEINT) AS tot
                   FROM low JOIN fit_ids USING (doc_id)
                   WHERE lang IS NOT NULL
                   GROUP BY lang),
        counts AS (SELECT lang, tri, CAST(count(*) AS HUGEINT) AS cnt
                   FROM tris JOIN fit_ids USING (doc_id)
                   WHERE lang IS NOT NULL
                   GROUP BY lang, tri),
        scored AS (SELECT c.tri, c.lang, c.cnt, t.tot
                   FROM counts c JOIN totals t USING (lang)),
        model AS (SELECT tri, lang AS profile_lang FROM scored s
                  WHERE NOT EXISTS (
                    SELECT 1 FROM scored s2
                    WHERE s2.tri = s.tri AND (
                      s2.cnt * s.tot > s.cnt * s2.tot
                      OR (s2.cnt * s.tot = s.cnt * s2.tot
                          AND s2.lang < s.lang)))),
        votes AS (SELECT d.doc_id, m.profile_lang, count(*) AS v
                  FROM tris d JOIN model m USING (tri)
                  GROUP BY d.doc_id, m.profile_lang),
        top AS (SELECT doc_id, profile_lang FROM (
                  SELECT doc_id, profile_lang,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY v DESC, profile_lang ASC) AS rk
                  FROM votes) WHERE rk = 1)
        SELECT d.doc_id, coalesce(t.profile_lang, 'und') AS lang_pred
        FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
        LEFT JOIN top t USING (doc_id)
    """


# Deterministic language decoration for the TRAINED-classifier query: the
# sf corpora's native lang labels carry no text signal (measured: every
# label's text is the same English-ish word salad — the es/de/fr/zh rows
# contain zero own-language markers, so NO classifier can beat the 0.436
# majority-class prior on them). Following the harness's injection pattern
# (translit/gazetteer suffixes), each doc gets a per-language marker suffix
# chosen by doc_id % 5 and THAT language as its training label — a genuinely
# learnable task (measured: the logreg reaches 1.00 accuracy; the trigram
# voter is the comparison point, BASELINE.md). ×2 repetition lifts the
# suffix trigrams into the top-256 count-ranked vocab.
_LANGID_SUFFIXES = {
    "de": "der die und das ist nicht mit ein",
    "en": "the and of to is that with for",
    "es": "el la de que los las una por",
    "fr": "le et les des une est dans je",
    "zh": "de shi bu le zhe ge wo men",
}
_LANGID_REPS = 2
_LANGID_ORDER = sorted(_LANGID_SUFFIXES)


def _langid_decorate_pdf(pdf):
    """pandas-side decoration (twin builder + tests): identical rule to the
    Spark/SQL sides."""
    langs = [_LANGID_ORDER[int(i) % len(_LANGID_ORDER)] for i in pdf["doc_id"]]
    suff = [" ".join([_LANGID_SUFFIXES[la]] * _LANGID_REPS) for la in langs]
    out = pdf.copy()
    out["text"] = out["text"] + " " + pd.Series(suff, index=pdf.index)
    out["lang"] = langs
    return out


def _langid_decorated(spark, sf_dir):
    n = len(_LANGID_ORDER)
    sarr = F.array(
        *[
            F.lit(" ".join([_LANGID_SUFFIXES[la]] * _LANGID_REPS))
            for la in _LANGID_ORDER
        ]
    )
    larr = F.array(*[F.lit(la) for la in _LANGID_ORDER])
    idx = (F.pmod(F.col("doc_id").cast("long"), F.lit(n)) + 1).cast("int")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.element_at(sarr, idx)).alias(
            "text"
        ),
        F.element_at(larr, idx).alias("lang"),
    )


def _q_langid_logreg(spark, sf_dir):
    """TRAINED language classifier: deterministic multinomial logistic
    regression over normalized trigram-count features (the reference's
    model family — logistic regression over sparse text
    features, /root/reference/src/language_classifier.c, src/ftrl.c —
    re-expressed as an integer-exact fit over one collected, ordered
    1000-row sample + one distributed JVM prediction pass;
    functions/logreg.py), over the marker-decorated corpus (see
    _LANGID_SUFFIXES: the native labels are text-unlearnable). Measured
    accuracy on the injected labels at sf0.01: logreg 1.00 vs trigram
    voter — see BASELINE.md."""
    from libpostal_spark.functions import logreg as LGR

    # spread: the prediction pass's trigram explode otherwise runs
    # single-task over the one-row-group scan; the fit sample is ordered
    # by doc_id, so the weights do not depend on partitioning
    docs = _spread(_langid_decorated(spark, sf_dir))
    model = LGR.fit_spark(docs)
    return LGR.predict_spark(docs, model).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang_pred"
    )


def _langid_logreg_sql() -> str:
    """DuckDB twin: the twin builder re-runs the fit with the SAME shared
    kernel (logreg.fit_local — the function the query's fit_spark runs on
    its collected sample, so the weights are bit-identical) against the compare-scale table
    (SPARK_GRAFT_ORACLE_SF_DIR, default the driver's sf0.01), then embeds
    the integer weight/bias tables as VALUES; scoring replays in pure
    integer SQL (capped counts → fixed-point L1 normalize via `//` →
    weighted sum → shifted bias → argmax with the (z desc, lang asc)
    tie-break, bias-only fallback for docs with no vocab trigram)."""
    import pyarrow.parquet as pq

    from libpostal_spark.functions import logreg as LGR

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    pdf = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text", "lang"],
    ).to_pandas()
    m = LGR.fit_local(_langid_decorate_pdf(pdf))
    k, c = m.W_int.shape
    w_vals = ",\n".join(
        f"({_sql_quote(m.vocab[f])},{_sql_quote(m.classes[j])},"
        f"{int(m.W_int[f, j])})"
        for f in range(k)
        for j in range(c)
    ) or "('','und',0)"
    b_vals = ",".join(
        f"({_sql_quote(cl)},{int(b) << LGR.XNORM_BITS})"
        for cl, b in zip(m.classes, m.b_int)
    ) or "('und',0)"
    xs = 1 << LGR.XNORM_BITS
    n = len(_LANGID_ORDER)
    suffix = _case_by_doc_id(
        [
            _sql_quote(" ".join([_LANGID_SUFFIXES[la]] * _LANGID_REPS))
            for la in _LANGID_ORDER
        ],
        n,
    )
    deco = f"(text || ' ' || {suffix})"
    return f"""
        WITH low AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                            lower({deco}) AS t
                     FROM documents WHERE length(lower({deco})) >= 3),
        poss AS (SELECT doc_id, t,
                        unnest(generate_series(1, length(t) - 2)) AS pos
                 FROM low),
        tris AS (SELECT doc_id, substr(t, CAST(pos AS INT), 3) AS tri
                 FROM poss),
        w(tri, lang, w) AS (VALUES {w_vals}),
        b(lang, bz) AS (VALUES {b_vals}),
        vocab AS (SELECT DISTINCT tri FROM w),
        xf AS (SELECT doc_id, tri,
                      CAST(LEAST(count(*), {LGR.X_CAP}) AS BIGINT) AS xf
               FROM tris JOIN vocab USING (tri)
               GROUP BY doc_id, tri),
        s AS (SELECT doc_id, sum(xf) AS s FROM xf GROUP BY doc_id),
        xn AS (SELECT xf.doc_id, xf.tri, (xf.xf * {xs}) // s.s AS xn
               FROM xf JOIN s USING (doc_id)),
        zs AS (SELECT xn.doc_id, w.lang,
                      CAST(sum(xn.xn * w.w) AS BIGINT) AS zw
               FROM xn JOIN w USING (tri)
               GROUP BY xn.doc_id, w.lang),
        z AS (SELECT zs.doc_id, zs.lang, zs.zw + b.bz AS z
              FROM zs JOIN b USING (lang)),
        top AS (SELECT doc_id, lang FROM (
                  SELECT doc_id, lang,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY z DESC, lang ASC) AS rk
                  FROM z) WHERE rk = 1)
        SELECT d.doc_id, coalesce(t.lang, {_sql_quote(m.bias_pred)}) AS lang_pred
        FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
        LEFT JOIN top t USING (doc_id)
    """


def _q_token_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir))


_STRSIM_MAXLEN = 32


def _q_string_similarity(spark, sf_dir):
    """Classic string-similarity trio over adjacent doc pairs' 32-char
    prefixes: Levenshtein, unrestricted Damerau-Levenshtein, Jaro-Winkler
    (reference analogs src/damerau_levenshtein.c, src/jaro.c). jw is
    emitted as floor(jw*10000) — bit-deterministic against DuckDB's
    built-in (kernels verified bit-equal on 5k fuzz pairs)."""
    from libpostal_spark.functions.udfs import make_strsim_udf

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.substring("text", 1, _STRSIM_MAXLEN).alias("s"),
    )
    a = docs.select(F.col("doc_id").alias("doc_id1"), F.col("s").alias("s1"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id1"),
                    F.col("doc_id").alias("doc_id2"), F.col("s").alias("s2"))
    udf = make_strsim_udf(_STRSIM_MAXLEN)
    return (
        a.join(b, "doc_id1")
        .withColumn("m", udf(F.col("s1"), F.col("s2")))
        .select(
            "doc_id1", "doc_id2",
            F.col("m.lev").alias("lev"),
            F.col("m.dl").alias("dl"),
            F.floor(F.col("m.jw") * 10000).cast("long").alias("jw_e4"),
        )
    )


# deterministic acronym/expansion decoration: the sf corpus is random word
# salad with no natural acronym-phrase structure, so each doc is PREFIXED
# (prefix — the token stream is capped at the first 12 tokens) with either
# acronym tokens or their expansion phrases by doc_id parity; adjacent
# pairs then exercise the alignment rule in both engines identically.
_ACR_PREFIXES = [
    "nyu gpu tcp",
    "new york university graphics processing unit",
    "abc rpc",
    "alpha beta charlie remote procedure call",
]


def _q_acronym_pairs(spark, sf_dir):
    """Acronym-phrase alignments between adjacent docs (reference
    src/acronyms.c rule re-expressed as JVM higher-order functions)."""
    arr = F.array(*[F.lit(p) for p in _ACR_PREFIXES])
    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_ACR_PREFIXES))) + 1
    ).cast("int")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.element_at(arr, idx), F.lit(" "), F.col("text")).alias("text"),
    )
    return dedup.acronym_pairs(docs)


def _acr_prefix_sql() -> str:
    case = _case_by_doc_id(
        [_sql_quote(p) for p in _ACR_PREFIXES], len(_ACR_PREFIXES)
    )
    return f"{case} || ' ' || text"


def _acronym_sql() -> str:
    return f"""
    WITH toks AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             list_filter(string_split_regex(lower(trim({_acr_prefix_sql()})), '\\s+'),
                         t -> length(t) > 0)[1:12] AS bt
      FROM documents
    ),
    prs AS (
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
             a.bt AS ats, b.bt AS bt
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    ),
    m AS (
      SELECT doc_id1, doc_id2,
             list_sort(list_filter(
               list_filter(list_distinct(ats),
                           a -> length(a) >= 2 AND length(a) <= 6
                                AND regexp_matches(a, '^[a-z]+$')),
               a -> len(bt) >= length(a) AND len(list_filter(
                      range(1, len(bt) - length(a) + 2),
                      i -> array_to_string(
                             list_transform(bt[i:i + length(a) - 1],
                                            t -> t[1:1]), '') = a)) > 0
             )) AS matched
      FROM prs
    )
    SELECT doc_id1, doc_id2,
           CAST(len(matched) AS BIGINT) AS n_acronyms,
           coalesce(array_to_string(matched, ','), '') AS acronyms
    FROM m
    """


# affine-gap goldens: (s1, s2, hand-derived Gotoh distance with
# match=0 / mismatch=2 / gap_open=2 / gap_extend=1, hand-derived
# abbreviation flag). Derived BY HAND from the alignment definition (e.g.
# intl→international = 3 matches + one 9-char gap = 2 + 9 = 11), so the
# oracle CASE independently checks the batch dp end-to-end.
_AFFINE_GOLDENS = [
    ("abc", "abc", 0, False),
    ("abc", "abdc", 3, True),
    ("abc", "xbc", 2, False),
    ("", "abc", 5, False),
    ("intl", "international", 11, True),
    ("ab", "ba", 4, False),
    ("kitten", "sitting", 7, False),
    ("fn", "function", 8, True),
]


def _q_affine_gap(spark, sf_dir):
    """Affine-gap alignment distance + abbreviation check through the
    Arrow batch kernel (core/strsim.py; reference src/affine_gap.c)."""
    from libpostal_spark.functions.udfs import make_affine_gap_udf

    a1 = F.array(*[F.lit(a) for a, _, _, _ in _AFFINE_GOLDENS])
    a2 = F.array(*[F.lit(b) for _, b, _, _ in _AFFINE_GOLDENS])
    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_AFFINE_GOLDENS))) + 1
    ).cast("int")
    udf = make_affine_gap_udf()
    return (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.element_at(a1, idx).alias("s1"),
            F.element_at(a2, idx).alias("s2"),
        )
        .withColumn("g", udf(F.col("s1"), F.col("s2")))
        .select(
            "doc_id", "s1", "s2",
            F.col("g.gap_cost").alias("gap_cost"),
            F.col("g.is_abbrev").alias("is_abbrev"),
        )
    )


def _case_by_doc_id(vals, n: int) -> str:
    """CASE over ``CAST(doc_id AS BIGINT) % n`` selecting per-fixture SQL
    literal expressions — the one shared builder behind every
    fixture-table oracle twin (affine gap, metaphone, multiword, toponym),
    so the modulus/tie rule can never drift between them."""
    return (
        f"CASE CAST(doc_id AS BIGINT) % {n} "
        + " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(vals))
        + " END"
    )


def _affine_gap_sql() -> str:
    n = len(_AFFINE_GOLDENS)

    def case(vals) -> str:
        return _case_by_doc_id(vals, n)

    s1 = case([_sql_quote(a) for a, _, _, _ in _AFFINE_GOLDENS])
    s2 = case([_sql_quote(b) for _, b, _, _ in _AFFINE_GOLDENS])
    gc = case([f"CAST({c} AS BIGINT)" for _, _, c, _ in _AFFINE_GOLDENS])
    ab = case([str(f).upper() for _, _, _, f in _AFFINE_GOLDENS])
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {s1} AS s1, {s2} AS s2,
               {gc} AS gap_cost, {ab} AS is_abbrev
        FROM documents
    """


# Double Metaphone goldens: (name, primary, secondary), each HAND-TRACED
# through the reference rule cascade (/root/reference/src/double_metaphone.c)
# — not replayed from the implementation — covering initial-cluster skips,
# silent GH (Parker's rule), germanic CH/ACH, Spanish LL/J, Polish -WICZ,
# French silent finals, the Smith/Schmidt S→S/X split, and the reference's
# dead-SC-branch quirk ("SCIENCE" → SSNS, not the classic SNS).
_DM_GOLDENS = [
    ("SMITH", "SM0", "XMT"), ("SCHMIDT", "XMT", "SMT"),
    ("SMYTH", "SM0", "XMT"), ("JOHNSON", "JNSN", "ANSN"),
    ("WILLIAMS", "ALMS", "FLMS"), ("THOMPSON", "TMPSN", "TMPSN"),
    ("WRIGHT", "RT", "RT"), ("XAVIER", "SF", "SFR"),
    ("CAMPBELL", "KMPL", "KMPL"), ("MICHAEL", "MKL", "MXL"),
    ("THOMAS", "TMS", "TMS"), ("CATHERINE", "K0RN", "KTRN"),
    ("KNIGHT", "NT", "NT"), ("PHILIP", "FLP", "FLP"),
    ("GNOME", "NM", "NM"), ("PNEUMONIA", "NMN", "NMN"),
    ("WASSERMAN", "ASRMN", "FSRMN"), ("UOMO", "AM", "AM"),
    ("WOMO", "AM", "FM"), ("ARNOW", "ARN", "ARNF"),
    ("ARNOFF", "ARNF", "ARNF"), ("FILIPOWICZ", "FLPTS", "FLPFX"),
    ("JANKELOWICZ", "JNKLTS", "ANKLFX"), ("YANKELOVICH", "ANKLFX", "ANKLFK"),
    ("DUMB", "TM", "TM"), ("PLUMBER", "PLMR", "PLMR"),
    ("EDGE", "AJ", "AJ"), ("EDGAR", "ATKR", "ATKR"),
    ("GHISLANE", "JLN", "JLN"), ("GHIRADELLI", "JRTL", "JRTL"),
    ("HUGH", "H", "H"), ("BOUGH", "P", "P"),
    ("BROUGHTON", "PRTN", "PRTN"), ("LAUGH", "LF", "LF"),
    ("COUGH", "KF", "KF"), ("MCLAUGHLIN", "MKLFLN", "MKLFLN"),
    ("CAGNEY", "KKN", "KKN"), ("AGNES", "AKNS", "ANS"),
    ("TAGLIARO", "TKLR", "TLR"), ("GERMAN", "KRMN", "JRMN"),
    ("DANGER", "TNJR", "TNKR"), ("RANGER", "RNJR", "RNKR"),
    ("MANAGER", "MNKR", "MNJR"), ("VIAGGI", "FJ", "FK"),
    ("HOCHMEIER", "HKMR", "HKMR"), ("ROGIER", "RJ", "RKR"),
    ("BIAGGI", "PJ", "PK"), ("SAN JACINTO", "SNHSNT", "SNHSNT"),
    ("JOSE", "JS", "HS"), ("SAN JOSE", "SNHS", "SNHS"),
    ("ISLAND", "ALNT", "ALNT"), ("SUGAR", "XKR", "SKR"),
    ("CZERNY", "SRN", "XRN"), ("ZHAO", "J", "J"),
    ("PIZZA", "PS", "PTS"), ("ACCIDENT", "AKSTNT", "AKSTNT"),
    ("MCCLELLAN", "MKLLN", "MKLLN"), ("BELLOCCHIO", "PLK", "PLX"),
    ("BACCHUS", "PKS", "PKS"), ("CAESAR", "SSR", "KSR"),
    ("CHIANTI", "KNT", "KNT"), ("CHEMISTRY", "KMSTR", "KMSTR"),
    ("ORCHESTRA", "ARKSTR", "ARKSTR"), ("ARCHITECT", "ARKTKT", "ARKTKT"),
    ("ARCH", "ARX", "ARK"), ("WACHTLER", "AKTLR", "FKTLR"),
    ("MACHER", "MKR", "MKR"), ("STEVEN", "STFN", "STFN"),
    ("NIGHT", "NT", "NT"), ("GOUGH", "KF", "KF"),
    ("ROUGH", "RF", "RF"), ("TOUGH", "TF", "TF"),
    ("CABRILLO", "KPRL", "KPR"), ("GALLEGOS", "KLKS", "KKS"),
    ("DAVIDSON", "TFTSN", "TFTSN"), ("HOROWITZ", "HRTS", "HRFX"),
    ("ZUKOWSKI", "SKSK", "SKFSK"), ("RESNAIS", "RSN", "RSNS"),
    ("ARTOIS", "ART", "ARTS"), ("THAMES", "TMS", "TMS"),
    ("VAN GOGH", "FNKK", "FNKK"), ("SCHNEIDER", "XNTR", "SNTR"),
    ("SCHOOL", "SKL", "SKL"), ("SCHERMERHORN", "XRMRRN", "SKRMRRN"),
    ("SCHENKER", "XNKR", "SKNKR"), ("SNIDER", "SNTR", "XNTR"),
    ("HALLELUJAH", "HLLJ", "HLLH"), ("THUMB", "0M", "TM"),
    ("RASPBERRY", "RSPR", "RSPR"), ("BREAUX", "PR", "PR"),
    ("ALEXANDER", "ALKSNTR", "ALKSNTR"), ("KNUTH", "N0", "NT"),
    ("PSYCHO", "SX", "SK"), ("MCHUGH", "MK", "MK"),
    ("CHURCH", "XRX", "XRK"), ("TICHNER", "TXNR", "TKNR"),
    ("WHALE", "AL", "AL"), ("SCIENCE", "SSNS", "SXNS"),
    ("SCOTT", "SKT", "SKT"), ("RAJ", "RJ", "R"),
    ("JAMES", "JMS", "AMS"), ("MAJOR", "MJR", "MHR"),
    ("BAJADOR", "PJTR", "PHTR"),
]


def _q_double_metaphone(spark, sf_dir):
    """Full-length Double Metaphone primary+secondary codes through the
    Arrow batch kernel (core/metaphone.py; reference
    src/double_metaphone.c:1-980)."""
    from libpostal_spark.functions.udfs import make_double_metaphone_udf

    names = F.array(*[F.lit(n) for n, _, _ in _DM_GOLDENS])
    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_DM_GOLDENS))) + 1
    ).cast("int")
    udf = make_double_metaphone_udf()
    return (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.element_at(names, idx).alias("name"),
        )
        .withColumn("m", udf(F.col("name")))
        .select(
            "doc_id", "name",
            F.col("m.primary").alias("dm_primary"),
            F.col("m.secondary").alias("dm_secondary"),
        )
    )


def _dm_sql() -> str:
    n = len(_DM_GOLDENS)

    def case(vals) -> str:
        return _case_by_doc_id(vals, n)

    nm = case([_sql_quote(a) for a, _, _ in _DM_GOLDENS])
    pr = case([_sql_quote(p) for _, p, _ in _DM_GOLDENS])
    sc = case([_sql_quote(s) for _, _, s in _DM_GOLDENS])
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {nm} AS name, {pr} AS dm_primary, {sc} AS dm_secondary
        FROM documents
    """


# Multi-word alignment goldens: (s1, s2, n_alignments, "start:len:idx" CSV),
# hand-derived from the reference scan semantics
# (/root/reference/src/string_similarity.c:590-680) including the
# no-backtracking quirk (case 'abc' vs 'ab ab c' finds nothing) and the
# single-token-equality exclusion.
_MW_GOLDENS = [
    ("seaworld", "sea world", 1, "0:2:0"),
    ("sea world", "seaworld", 1, "0:2:0"),
    ("newyork city", "new york city", 1, "0:2:0"),
    ("a b c", "x y z", 0, ""),
    ("sanfrancisco", "san francisco bay", 1, "0:2:0"),
    ("foo barbaz qux", "foo bar baz qux", 1, "1:2:1"),
    ("ab cd", "a b c d", 2, "0:2:0,2:2:1"),
    ("abc", "ab ab c", 0, ""),
    ("xyz abc", "xy z abc", 1, "0:2:0"),
    ("inter national business", "international business", 1, "0:2:0"),
    ("a bc d", "ab cd", 0, ""),
    ("threetwo one", "three two one", 1, "0:2:0"),
    ("seaworldpark fun", "sea world park fun", 1, "0:3:0"),
    ("SeaWorld", "sea world", 1, "0:2:0"),
]


def _q_multiword(spark, sf_dir):
    """Multi-word token alignments ("sea world" ~ "seaworld") as pure JVM
    higher-order functions (operators/dedup.py multiword_alignment_expr;
    reference src/string_similarity.c:590-680)."""
    a1 = F.array(*[F.lit(a) for a, _, _, _ in _MW_GOLDENS])
    a2 = F.array(*[F.lit(b) for _, b, _, _ in _MW_GOLDENS])
    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_MW_GOLDENS))) + 1
    ).cast("int")
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.element_at(a1, idx).alias("s1"),
        F.element_at(a2, idx).alias("s2"),
    ).withColumn(
        "ta", F.expr(dedup._mw_tokens_expr("s1"))
    ).withColumn("tb", F.expr(dedup._mw_tokens_expr("s2")))
    out = dedup.multiword_alignments(base, "ta", "tb")
    return out.select(
        "doc_id", "s1", "s2",
        F.size("mw_alignments").cast("long").alias("n_alignments"),
        F.array_join(
            F.expr(
                "transform(mw_alignments, o -> concat(o.long_start, ':',"
                " o.long_len, ':', o.short_idx))"
            ),
            ",",
        ).alias("alignments"),
    )


def _mw_sql() -> str:
    n = len(_MW_GOLDENS)

    def case(vals) -> str:
        return _case_by_doc_id(vals, n)

    s1 = case([_sql_quote(a) for a, _, _, _ in _MW_GOLDENS])
    s2 = case([_sql_quote(b) for _, b, _, _ in _MW_GOLDENS])
    na = case([f"CAST({c} AS BIGINT)" for _, _, c, _ in _MW_GOLDENS])
    al = case([_sql_quote(s) for _, _, _, s in _MW_GOLDENS])
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {s1} AS s1, {s2} AS s2,
               {na} AS n_alignments, {al} AS alignments
        FROM documents
    """


# Toponym place-pair fixtures: 12 components per row =
# (city1, city_district1, suburb1, state_district1, state1, country1,
#  city2, city_district2, suburb2, state_district2, state2, country2).
# Exercise every branch of the reference lattice (dedupe.c:158-229): exact
# city, district/suburb downgrade rungs, the city1-vs-district2 and
# suburb1-vs-suburb2 branches (quirks preserved), containing-region vetoes,
# and dictionary-expansion equality ("st louis" = "saint louis"). The twin
# RECOMPUTES the status from the same fixtures (replace-chain expansion +
# the lattice in SQL) — a replay oracle, not a golden table.
_TOPO_DICT = {"st": "saint", "mt": "mount", "ft": "fort", "pt": "port",
              "n": "north"}
_TOPO_FIXTURES = [
    ("springfield", None, None, None, None, None,
     "springfield", None, None, None, None, None),
    ("st louis", None, None, None, None, None,
     "saint louis", None, None, None, None, None),
    (None, "brooklyn", None, None, None, None,
     "brooklyn", None, None, None, None, None),
    (None, None, "astoria", None, None, None,
     "astoria", None, None, None, None, None),
    ("queens", None, None, None, None, None,
     None, "queens", None, None, None, None),
    ("metropolis", None, "riverdale", None, None, None,
     None, None, "riverdale", None, None, None),
    ("springfield", None, None, None, "ny", None,
     "springfield", None, None, None, "ca", None),
    ("springfield", None, None, "x dist", None, None,
     "springfield", None, None, "y dist", None, None),
    ("springfield", None, None, None, None, "usa",
     "springfield", None, None, None, None, "usa"),
    ("springfield", None, None, None, None, "usa",
     "springfield", None, None, None, None, "canada"),
    ("albany", None, None, None, None, None,
     "troy", None, None, None, None, None),
    ("albany", "troy", None, None, None, None,
     "troy", None, None, None, None, None),
    ("mt vernon", None, None, None, "n carolina", None,
     "mount vernon", None, None, None, "north carolina", None),
    (None, None, None, None, None, None,
     "springfield", None, None, None, None, None),
    ("ft wayne", None, None, "n dist", None, None,
     "fort wayne", None, None, "north dist", None, None),
    ("pt chester", None, None, None, None, None,
     None, None, "pt chester", None, None, None),
]
_TOPO_COLS = [
    f"{f}{s}"
    for s in ("1", "2")
    for f in ("city", "city_district", "suburb", "state_district", "state",
              "country")
]


def _q_toponym_status(spark, sf_dir):
    """is_toponym_duplicate parity (operators/verify.toponym_status_pairs;
    reference src/dedupe.c:158-229) over deterministic place-pair
    fixtures."""
    from libpostal_spark.operators import verify as V

    idx = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(len(_TOPO_FIXTURES))) + 1
    ).cast("int")
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[
            F.element_at(
                F.array(*[F.lit(row[i]).cast("string")
                          for row in _TOPO_FIXTURES]),
                idx,
            ).alias(col)
            for i, col in enumerate(_TOPO_COLS)
        ],
    )
    out = V.toponym_status_pairs(base, expansions=_TOPO_DICT)
    return out.select("doc_id", "city1", "city2", "topo_status")


def _topo_sql() -> str:
    from libpostal_spark.core.canonicalize import phrase_priority_order

    n = len(_TOPO_FIXTURES)

    def case(i) -> str:
        return _case_by_doc_id(
            [
                "NULL" if row[i] is None else _sql_quote(row[i])
                for row in _TOPO_FIXTURES
            ],
            n,
        )

    def exp(col: str) -> str:
        e = f"' ' || replace({_canon_expr(col)}, ' ', '  ') || ' '"
        for k, v in phrase_priority_order(dict(_TOPO_DICT)):
            pat = " " + k.replace(" ", "  ") + " "
            rep = " " + v.replace(" ", "  ") + " "
            e = f"replace({e}, {_sql_quote(pat)}, {_sql_quote(rep)})"
        return f"trim(regexp_replace({e}, ' +', ' ', 'g'))"

    raw = ", ".join(
        f"{case(i)} AS {col}" for i, col in enumerate(_TOPO_COLS)
    )
    exps = ", ".join(
        f"{exp(c)} AS e_{c}"
        for c in _TOPO_COLS
    )
    m1 = "city1 IS NOT NULL AND city2 IS NOT NULL AND e_city1 = e_city2"
    m2 = ("city1 IS NULL AND city_district1 IS NOT NULL AND city2 IS NOT "
          "NULL AND e_city_district1 = e_city2")
    m3 = ("city1 IS NULL AND suburb1 IS NOT NULL AND city2 IS NOT NULL "
          "AND e_suburb1 = e_city2")
    m4 = ("city2 IS NULL AND city_district2 IS NOT NULL AND city1 IS NOT "
          "NULL AND e_city1 = e_city_district2")
    m5 = ("city2 IS NULL AND suburb2 IS NOT NULL AND city1 IS NOT NULL "
          "AND suburb1 IS NOT NULL AND e_suburb1 = e_suburb2")
    veto = (
        "(state_district1 IS NOT NULL AND state_district2 IS NOT NULL AND "
        "e_state_district1 <> e_state_district2) OR "
        "(state1 IS NOT NULL AND state2 IS NOT NULL AND e_state1 <> e_state2)"
        " OR (country1 IS NOT NULL AND country2 IS NOT NULL AND "
        "e_country1 <> e_country2)"
    )
    return f"""
WITH p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {raw} FROM documents),
e AS (SELECT *, {exps} FROM p),
s AS (SELECT *,
        CASE WHEN {m1} THEN 'exact_duplicate'
             WHEN {m2} THEN 'likely_duplicate'
             WHEN {m3} THEN 'needs_review'
             WHEN {m4} THEN 'likely_duplicate'
             WHEN {m5} THEN 'needs_review'
             ELSE 'non_duplicate' END AS s0
      FROM e)
SELECT doc_id, city1, city2,
       CASE WHEN s0 = 'non_duplicate' THEN s0
            WHEN {veto} THEN 'non_duplicate'
            ELSE s0 END AS topo_status
FROM s
"""


def _q_soft_tfidf(spark, sf_dir):
    """Soft-TFIDF fuzzy pair scoring (the reference's soft_tfidf.c scorer)
    over adjacent doc pairs — integer-exact accumulation, see
    operators/softtfidf.py."""
    from libpostal_spark.operators import softtfidf

    return softtfidf.soft_tfidf_pairs(_docs(spark, sf_dir)).select(
        "doc_id1", "doc_id2", "n_matched", "soft_e4", "soft_tfidf", "status"
    )


# Fuzzy-duplicate fixtures: (s1, s2) name/street pairs exercising the full
# is_fuzzy_duplicate lattice (dedupe.c:340-484) — subset rule (street mode
# grades it likely, name mode is a documented no-op), threshold grades, the
# single-letter symmetric-difference demotion ("a ..." vs "b ..." at high
# sim), and the 0-token subset quirk. The twin RECOMPUTES every status from
# the same fixtures (Soft-TFIDF replay + the lattice in SQL).
_FUZZY_FIXTURES = [
    ("main st", "main st south annex extra"),
    ("a alpha bravo charlie delta echo foxtrot golf hotel india",
     "b alpha bravo charlie delta echo foxtrot golf hotel india"),
    ("a b common tokens here", "a b common tokens here"),
    ("a b x y z", "q r s t u"),
    ("database config parser", "database config parser module extra words"),
    ("", "anything at all"),
    ("alpha bravo charlie delta echo", "alpha bravo charlie delta foxtrot"),
    ("zulu yankee xray whiskey victor uniform tango sierra",
     "zulu yankee xray whiskey victor uniform tango sierra"),
]



def _soft_scaffold_sql(src: str) -> str:
    """The Soft-TFIDF weighting scaffold every twin shares — capped
    sorted-distinct token sets, floor(1e6/df) weights, integer weight
    norms — mirroring softtfidf._capped_token_sets/_weighted_cand. ONE
    definition so a cap or weight-rule change can never reach some twins
    and not others. ``src`` supplies (doc_id BIGINT, text)."""
    return f"""toks AS (SELECT doc_id,
                unnest(list_sort(list_distinct(list_filter(
                         string_split_regex(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0)))[1:10]) AS token
         FROM {src}),
wtab AS (SELECT token,
                CAST(floor(1000000 / count(DISTINCT doc_id)) AS BIGINT) AS w
         FROM toks GROUP BY token),
wt AS (SELECT t.doc_id, t.token, w.w FROM toks t JOIN wtab w USING (token)),
norms AS (SELECT doc_id, sum(w * w) AS n2 FROM wt GROUP BY doc_id)"""


def _q_fuzzy_dup_status(spark, sf_dir):
    """is_fuzzy_duplicate parity (operators/softtfidf.fuzzy_dup_status_pairs;
    reference src/dedupe.c:340-513): Soft-TFIDF + subset rule +
    single-letter demotion, graded in BOTH wrapper modes (street: subset →
    likely; name: subset is a no-op)."""
    from libpostal_spark.operators import softtfidf

    docs2, prs = _fixture_pair_docs(spark, sf_dir, _FUZZY_FIXTURES)
    street = softtfidf.fuzzy_dup_status_pairs(
        docs2, prs, subset_status="likely_duplicate"
    )
    # name mode = thresholds only (subset no-op) — derivable from the same
    # row's soft_e4 + single-letter flag via the operator module's OWN
    # lattice, so the thresholds/demotion rule can never drift from it
    name_status = softtfidf.fuzzy_lattice_status(
        F.col("soft_e4"), F.lit(False), F.col("single_letter_mismatch"),
        "non_duplicate",
    )
    return street.select(
        F.expr("doc_id1 div 2").alias("doc_id"),
        "n_matched", "n_tokens1", "n_tokens2", "soft_e4",
        "single_letter_mismatch",
        F.col("fuzzy_status").alias("status_street"),
        name_status.alias("status_name"),
    )


def _fuzzy_sql() -> str:
    n = len(_FUZZY_FIXTURES)
    s1 = _case_by_doc_id([_sql_quote(a) for a, _ in _FUZZY_FIXTURES], n)
    s2 = _case_by_doc_id([_sql_quote(b) for _, b in _FUZZY_FIXTURES], n)
    soft_e4 = """
        CASE WHEN coalesce(na.n2, 0) > 0 AND coalesce(nb.n2, 0) > 0
                  AND g.score_int IS NOT NULL
             THEN CAST(floor(CAST(g.score_int AS DOUBLE)
                        / (sqrt(CAST(na.n2 AS DOUBLE))
                           * sqrt(CAST(nb.n2 AS DOUBLE)))) AS BIGINT)
             ELSE 0 END
    """
    symdiff = (
        "len(list_filter(l1, x -> NOT list_contains(l2, x))) > 0 AND "
        "len(list_filter(l2, x -> NOT list_contains(l1, x))) > 0"
    )
    thresholds = f"""
        CASE WHEN soft_e4 >= 9000
             THEN (CASE WHEN {symdiff} THEN 'needs_review'
                        ELSE 'likely_duplicate' END)
             WHEN soft_e4 >= 7000 THEN 'needs_review'
             ELSE 'non_duplicate' END
    """
    return f"""
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     {s1} AS s1, {s2} AS s2 FROM documents),
docs2 AS (SELECT 2 * doc_id AS doc_id, s1 AS text FROM base
          UNION ALL
          SELECT 2 * doc_id + 1 AS doc_id, s2 AS text FROM base),
prs AS (SELECT 2 * doc_id AS doc_id1, 2 * doc_id + 1 AS doc_id2 FROM base),
{_soft_scaffold_sql('docs2')},
cand AS (SELECT p.doc_id1, p.doc_id2, a.token AS tok_a, a.w AS w_a,
                b.token AS tok_b, b.w AS w_b,
                CAST(floor(jaro_winkler_similarity(substr(a.token, 1, 16),
                                                   substr(b.token, 1, 16))
                           * 10000) AS BIGINT) AS jw_e4,
                damerau_levenshtein(substr(a.token, 1, 16),
                                    substr(b.token, 1, 16)) AS dl
         FROM prs p
         JOIN wt a ON a.doc_id = p.doc_id1
         JOIN wt b ON b.doc_id = p.doc_id2),
best AS (SELECT * FROM (
           SELECT *, row_number() OVER (
                    PARTITION BY doc_id1, doc_id2, tok_a
                    ORDER BY jw_e4 DESC, tok_b ASC) AS rk
           FROM cand
           WHERE jw_e4 >= 9000
              OR (dl <= 1 AND length(tok_a) >= 4 AND length(tok_b) >= 4)
         ) WHERE rk = 1),
agg AS (SELECT doc_id1, doc_id2, CAST(count(*) AS BIGINT) AS n_matched,
               sum(w_a * w_b * jw_e4) AS score_int
        FROM best GROUP BY doc_id1, doc_id2),
ntok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
         FROM toks GROUP BY doc_id),
lets AS (SELECT doc_id, list_sort(list_distinct(list(token))) AS ls
         FROM toks
         WHERE length(token) = 1 AND regexp_matches(token, '^\\p{{L}}$')
         GROUP BY doc_id),
fin AS (SELECT p.doc_id1,
               coalesce(g.n_matched, 0) AS n_matched,
               coalesce(n1.nt, 0) AS nt1, coalesce(n2.nt, 0) AS nt2,
               {soft_e4} AS soft_e4,
               coalesce(a1.ls, []::VARCHAR[]) AS l1,
               coalesce(a2.ls, []::VARCHAR[]) AS l2
        FROM prs p
        LEFT JOIN agg g ON g.doc_id1 = p.doc_id1 AND g.doc_id2 = p.doc_id2
        LEFT JOIN norms na ON na.doc_id = p.doc_id1
        LEFT JOIN norms nb ON nb.doc_id = p.doc_id2
        LEFT JOIN ntok n1 ON n1.doc_id = p.doc_id1
        LEFT JOIN ntok n2 ON n2.doc_id = p.doc_id2
        LEFT JOIN lets a1 ON a1.doc_id = p.doc_id1
        LEFT JOIN lets a2 ON a2.doc_id = p.doc_id2)
SELECT doc_id1 // 2 AS doc_id, n_matched,
       nt1 AS n_tokens1, nt2 AS n_tokens2, soft_e4,
       ({symdiff}) AS single_letter_mismatch,
       CASE WHEN n_matched = least(nt1, nt2) THEN 'likely_duplicate'
            ELSE ({thresholds}) END AS status_street,
       ({thresholds}) AS status_name
FROM fin
"""


# Full-ladder fixtures: every rung of soft_tfidf.c:240-465 with the
# default options — equal, JW+abbrev boost (strict, norm offsets), DL-only,
# standalone abbreviation (strict and non-strict), ordinal-vs-abbreviation
# mode split, last-vs-first abbreviation discrimination, and a no-match
# pair. Vocabulary constraint for the SQL twin: tokens are [a-z0-9]+ and
# ≤ 15 chars (inside the jw_max_len=16 cap; regex-safe for the
# subsequence pattern).
_LADDER_FIXTURES = [
    ("central station", "central station"),
    ("international house", "internatl house"),
    ("abcd nine", "abxd nine"),
    ("blvd crossing", "boulevard crossing"),
    ("21st street", "21 street"),
    ("1st ave", "1 ave"),
    ("zzz one", "qqq two"),
    ("main st", "main st annex extra"),
    ("plaza district", "plz district"),
    ("stone gate", "stn son gate"),
    ("international zone", "worldwide zone"),
]


def _fixture_pair_docs(spark, sf_dir, fixtures):
    """(docs2, prs): each document doc_id picks fixture ``doc_id % n`` and
    splits into two docs (2·id ← s1, 2·id+1 ← s2) plus the (2i, 2i+1)
    candidate pair — the shared scaffolding of every pairwise fixture
    query (fuzzy_dup_status, soft_tfidf_full)."""
    n = len(fixtures)
    a1 = F.array(*[F.lit(a) for a, _ in fixtures])
    a2 = F.array(*[F.lit(b) for _, b in fixtures])
    idx = (F.pmod(F.col("doc_id").cast("long"), F.lit(n)) + 1).cast("int")
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.element_at(a1, idx).alias("s1"),
        F.element_at(a2, idx).alias("s2"),
    )
    docs2 = base.select(
        (F.col("doc_id") * 2).alias("doc_id"), F.col("s1").alias("text")
    ).unionByName(
        base.select(
            (F.col("doc_id") * 2 + 1).alias("doc_id"),
            F.col("s2").alias("text"),
        )
    )
    prs = base.select(
        (F.col("doc_id") * 2).alias("doc_id1"),
        (F.col("doc_id") * 2 + 1).alias("doc_id2"),
    )
    return docs2, prs


def _q_soft_tfidf_full(spark, sf_dir):
    """Full-ladder Soft-TFIDF parity (operators/softtfidf.
    soft_tfidf_full_pairs; reference src/soft_tfidf.c:240-465 with the
    :9-17 defaults): equal / JW±abbreviation-boost with norm offsets / DL /
    standalone abbreviation / ordinal suffix — run in BOTH option modes
    (abbreviations on = reference default; off = the mode where the
    ordinal rung is reachable)."""
    from libpostal_spark.operators import softtfidf

    docs2, prs = _fixture_pair_docs(spark, sf_dir, _LADDER_FIXTURES)
    # ONE plan for both option modes: the operator derives the
    # abbreviations-off result from the same per-token aggregates
    # (with_no_abbrev_twin); the oracle recomputes the off mode
    # independently via its modes cross join, keeping the derivation
    # honest
    on = softtfidf.soft_tfidf_full_pairs(
        docs2, prs, with_no_abbrev_twin=True
    )
    return on.select(
        F.expr("doc_id1 div 2").alias("doc_id"),
        F.col("n_matched").alias("n_matched_full"),
        F.col("soft_e4").alias("soft_e4_full"),
        F.col("status").alias("status_full"),
        F.col("n_matched_noab"),
        F.col("soft_e4_noab"),
    )


def _soft_tfidf_full_sql() -> str:
    n = len(_LADDER_FIXTURES)
    s1 = _case_by_doc_id([_sql_quote(a) for a, _ in _LADDER_FIXTURES], n)
    s2 = _case_by_doc_id([_sql_quote(b) for _, b in _LADDER_FIXTURES], n)
    longer = ("CASE WHEN length(tok_a) > length(tok_b)"
              " THEN tok_a ELSE tok_b END")
    shorter = ("CASE WHEN length(tok_a) < length(tok_b)"
               " THEN tok_a ELSE tok_b END")
    ord_re = "'^[0-9]+(st|nd|rd|th)$'"
    return f"""
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     {s1} AS s1, {s2} AS s2 FROM documents),
docs2 AS (SELECT 2 * doc_id AS doc_id, s1 AS text FROM base
          UNION ALL
          SELECT 2 * doc_id + 1 AS doc_id, s2 AS text FROM base),
prs AS (SELECT 2 * doc_id AS doc_id1, 2 * doc_id + 1 AS doc_id2 FROM base),
{_soft_scaffold_sql('docs2')},
flags AS (SELECT p.doc_id1, p.doc_id2, a.token AS tok_a, a.w AS w_a,
                 b.token AS tok_b, b.w AS w_b,
   CAST(floor(jaro_winkler_similarity(substr(a.token, 1, 16),
                                      substr(b.token, 1, 16))
              * 10000) AS BIGINT) AS jw_e4,
   damerau_levenshtein(substr(a.token, 1, 16),
                       substr(b.token, 1, 16)) AS dl,
   (length(a.token) <> length(b.token)
    AND substr(a.token, 1, 1) = substr(b.token, 1, 1)
    AND regexp_matches(
          CASE WHEN length(a.token) > length(b.token)
               THEN a.token ELSE b.token END,
          list_aggregate(string_split(
            CASE WHEN length(a.token) < length(b.token)
                 THEN a.token ELSE b.token END, ''),
            'string_agg', '.*'))) AS abrv0,
   (starts_with(CASE WHEN length(a.token) > length(b.token)
                     THEN a.token ELSE b.token END,
                CASE WHEN length(a.token) < length(b.token)
                     THEN a.token ELSE b.token END)
    OR right(a.token, 1) = right(b.token, 1)) AS strict0,
   ((regexp_matches(a.token, {ord_re})
     AND starts_with(a.token, b.token))
    OR (regexp_matches(b.token, {ord_re})
        AND starts_with(b.token, a.token))) AS ordm
  FROM prs p
  JOIN wt a ON a.doc_id = p.doc_id1
  JOIN wt b ON b.doc_id = p.doc_id2),
modes AS (SELECT true AS ab_on UNION ALL SELECT false),
cand AS (SELECT f.*, m.ab_on, f.abrv0 AND m.ab_on AS abrv
         FROM flags f CROSS JOIN modes m),
rk AS (SELECT *,
   row_number() OVER (PARTITION BY ab_on, doc_id1, doc_id2, tok_a
       ORDER BY jw_e4 DESC, tok_b ASC) AS rk_j,
   row_number() OVER (PARTITION BY ab_on, doc_id1, doc_id2, tok_a
       ORDER BY (CASE WHEN abrv THEN 0 ELSE 1 END) ASC, tok_b DESC) AS rk_a,
   row_number() OVER (PARTITION BY ab_on, doc_id1, doc_id2, tok_a
       ORDER BY (CASE WHEN dl < length(tok_a) THEN 0 ELSE 1 END) ASC,
                dl ASC, tok_b ASC) AS rk_d,
   row_number() OVER (PARTITION BY ab_on, doc_id1, doc_id2, tok_a
       ORDER BY (CASE WHEN ordm THEN 0 ELSE 1 END) ASC, tok_b DESC) AS rk_o
  FROM cand),
ptok AS (SELECT ab_on, doc_id1, doc_id2, tok_a, w_a,
   bool_or(tok_b = tok_a) AS have_eq,
   max(jw_e4) AS max_jw,
   max(CASE WHEN rk_j = 1 THEN tok_b END) AS jb_tok,
   max(CASE WHEN rk_j = 1 THEN w_b END) AS jb_w,
   bool_or(abrv) AS have_ab,
   max(CASE WHEN rk_a = 1 AND abrv THEN jw_e4 END) AS ab_jw,
   bool_or(rk_a = 1 AND abrv AND strict0) AS ab_strict,
   max(CASE WHEN rk_a = 1 AND abrv THEN w_b END) AS ab_w,
   max(CASE WHEN rk_a = 1 AND abrv THEN tok_b END) AS ab_tok,
   min(CASE WHEN dl < length(tok_a) THEN dl END) AS min_dl,
   max(CASE WHEN rk_d = 1 AND dl < length(tok_a) THEN jw_e4 END) AS db_jw,
   max(CASE WHEN rk_d = 1 AND dl < length(tok_a) THEN w_b END) AS db_w,
   max(CASE WHEN rk_d = 1 AND dl < length(tok_a) THEN tok_b END) AS db_tok,
   bool_or(ordm) AS have_ord,
   max(CASE WHEN rk_o = 1 AND ordm THEN w_b END) AS ob_w
  FROM rk GROUP BY ab_on, doc_id1, doc_id2, tok_a, w_a),
sel AS (SELECT *,
   CASE WHEN ab_strict AND length(tok_a) >= 4
        THEN greatest(ab_jw, 9900) ELSE ab_jw END AS ab_sim,
   (have_eq OR (length(tok_a) >= 4 AND max_jw >= 9000)) AS r1,
   (have_ab AND NOT have_eq AND jb_tok = ab_tok) AS boost,
   (length(tok_a) >= 4 AND coalesce(min_dl, 99) <= 1) AS r2
  FROM ptok),
contrib AS (SELECT ab_on, doc_id1, doc_id2,
   (r1 OR r2 OR have_ab OR have_ord) AS matched,
   CASE
     WHEN r1 AND boost THEN greatest(ab_sim, max_jw)
                            * greatest(w_a, ab_w) * greatest(w_a, ab_w)
     WHEN r1 THEN max_jw * w_a * jb_w
     WHEN r2 AND have_ab AND db_tok = ab_tok
          THEN greatest(ab_sim, db_jw) * w_a * db_w
     WHEN r2 THEN db_jw * w_a * db_w
     WHEN have_ab THEN ab_sim * w_a * ab_w
     WHEN have_ord THEN 10000 * w_a * ob_w
     ELSE 0 END AS c,
   CASE WHEN r1 AND boost AND ab_w > w_a
        THEN ab_w * ab_w - w_a * w_a ELSE 0 END AS off1,
   CASE WHEN r1 AND boost AND w_a >= ab_w
        THEN w_a * w_a - ab_w * ab_w ELSE 0 END AS off2
  FROM sel),
agg AS (SELECT ab_on, doc_id1, doc_id2,
   CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
   sum(CASE WHEN matched THEN c ELSE 0 END) AS score_int,
   sum(off1) AS off1, sum(off2) AS off2
  FROM contrib GROUP BY ab_on, doc_id1, doc_id2),
fin AS (SELECT m.ab_on, p.doc_id1,
   coalesce(g.n_matched, 0) AS n_matched,
   CASE WHEN coalesce(na.n2, 0) + coalesce(g.off1, 0) > 0
         AND coalesce(nb.n2, 0) + coalesce(g.off2, 0) > 0
         AND g.score_int IS NOT NULL
        THEN CAST(floor(CAST(g.score_int AS DOUBLE)
             / (sqrt(CAST(na.n2 + g.off1 AS DOUBLE))
                * sqrt(CAST(nb.n2 + g.off2 AS DOUBLE)))) AS BIGINT)
        ELSE 0 END AS soft_e4
  FROM prs p CROSS JOIN modes m
  LEFT JOIN agg g ON g.ab_on = m.ab_on
                 AND g.doc_id1 = p.doc_id1 AND g.doc_id2 = p.doc_id2
  LEFT JOIN norms na ON na.doc_id = p.doc_id1
  LEFT JOIN norms nb ON nb.doc_id = p.doc_id2)
SELECT doc_id1 // 2 AS doc_id,
  max(CASE WHEN ab_on THEN n_matched END) AS n_matched_full,
  max(CASE WHEN ab_on THEN soft_e4 END) AS soft_e4_full,
  max(CASE WHEN ab_on THEN
      (CASE WHEN soft_e4 >= 9000 THEN 'likely_duplicate'
            WHEN soft_e4 >= 7000 THEN 'needs_review'
            ELSE 'non_duplicate' END) END) AS status_full,
  max(CASE WHEN NOT ab_on THEN n_matched END) AS n_matched_noab,
  max(CASE WHEN NOT ab_on THEN soft_e4 END) AS soft_e4_noab
FROM fin GROUP BY doc_id1 // 2
"""


# Integrated-scorer goldens: (s1, s2, sim_e4, n_matched) — each pair
# HAND-TRACED through the reference scan
# (/root/reference/src/soft_tfidf.c:128-588) with UNIT token weights.
# Exercised arms, in order: phrase-canonical via abbreviation entries
# (cfg↔config, NEITHER_CANONICAL); swap + single↔multi-token phrase
# (FIRST_CANONICAL) + a phrase√2 contribution; acronym arm with norm
# offset (bam ↔ brooklyn academy music: off1 = 3−1 ⇒ sim 1.0); multi-word
# arm with norm offset (seaworld ↔ sea world ⇒ 1.0); JW rung with
# strict-abbreviation boost (0.99+1)/2 = 0.9950; short-token abbreviation
# rung jw("21","21st") = 13/15 ⇒ (1+13/15)/2 = 0.9333; no-match zero;
# lone phrase vs 2-token side 1/√2 = 0.7071; concatenation-vs-phrase
# swap case (√2/√2 = 1); multi-token phrase skip (`i > p1.start`):
# √2/(√4·√4) ⇒ 0.3536 with matched = p1.len = 2.
# Columns per golden: (s1, s2, sim_e4, n_matched, street_status,
# name_status) — statuses from the dedupe.c:415-441 lattice: street =
# subset rule (n_matched == min token count ⇒ likely) else thresholds +
# single-letter demotion; name = thresholds + demotion only. Fixture 11
# ("a c1…c9" vs "b c1…c9") lands EXACTLY on the 0.9 boundary (9 matches
# of 10 unit tokens, sim_e4 = 9000 → threshold-likely) and demotes to
# needs_review in both modes via the {a}/{b} single-letter symmetric
# difference.
_ALIGNED_GOLDENS = [
    ("cfg parser", "config parser", 10000, 2,
     "likely_duplicate", "likely_duplicate"),
    ("data base conn", "database connection", 9856, 2,
     "likely_duplicate", "likely_duplicate"),
    ("bam show", "brooklyn academy music show", 10000, 2,
     "likely_duplicate", "likely_duplicate"),
    ("seaworld tickets", "sea world tickets", 10000, 2,
     "likely_duplicate", "likely_duplicate"),
    ("international house", "internatl house", 9950, 2,
     "likely_duplicate", "likely_duplicate"),
    ("21st main", "21 main", 9333, 2,
     "likely_duplicate", "likely_duplicate"),
    ("zzz qqq", "rrr www", 0, 0,
     "non_duplicate", "non_duplicate"),
    ("fn", "function impl", 7071, 1,
     "likely_duplicate", "needs_review"),
    ("data base", "database", 10000, 1,
     "likely_duplicate", "likely_duplicate"),
    ("time out x y", "timeout a b c", 3536, 2,
     "non_duplicate", "non_duplicate"),
    ("a c1 c2 c3 c4 c5 c6 c7 c8 c9", "b c1 c2 c3 c4 c5 c6 c7 c8 c9",
     9000, 9, "needs_review", "needs_review"),
]


def _q_soft_tfidf_aligned(spark, sf_dir):
    """Integrated Soft-TFIDF parity (operators/softtfidf_aligned; reference
    soft_tfidf.c:128-588 via dedupe.c:340-484): the positional scorer with
    phrase-canonical, acronym, and multi-word arms plus the full
    fallthrough ladder, graded through the is_fuzzy_duplicate lattice in
    BOTH wrapper modes (street: subset rule ⇒ likely; name: thresholds +
    single-letter demotion only), in unit-weight mode against hand-traced
    goldens."""
    from libpostal_spark.operators import softtfidf_aligned
    from libpostal_spark.operators.softtfidf import fuzzy_lattice_status

    docs2, prs = _fixture_pair_docs(
        spark, sf_dir, [(a, b) for a, b, *_ in _ALIGNED_GOLDENS]
    )
    out = softtfidf_aligned.fuzzy_dup_status_aligned_pairs(
        docs2, prs, subset_status="likely_duplicate", weight_mode="unit"
    )
    subset = F.col("n_matched") == F.least("n_tokens1", "n_tokens2")
    name_status = fuzzy_lattice_status(
        F.col("sim_e4"),
        subset,
        F.col("single_letter_mismatch"),
        "non_duplicate",
    )
    return out.select(
        F.expr("doc_id1 div 2").alias("doc_id"),
        "n_matched",
        "sim_e4",
        F.col("fuzzy_status").alias("street_status"),
        name_status.alias("name_status"),
    )


def _aligned_sql() -> str:
    n = len(_ALIGNED_GOLDENS)
    e4 = _case_by_doc_id([str(g[2]) for g in _ALIGNED_GOLDENS], n)
    nm = _case_by_doc_id([str(g[3]) for g in _ALIGNED_GOLDENS], n)
    st = _case_by_doc_id([_sql_quote(g[4]) for g in _ALIGNED_GOLDENS], n)
    nm_st = _case_by_doc_id([_sql_quote(g[5]) for g in _ALIGNED_GOLDENS], n)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST({nm} AS BIGINT) AS n_matched,
               CAST({e4} AS BIGINT) AS sim_e4,
               {st} AS street_status,
               {nm_st} AS name_status
        FROM documents
    """


_SOFT_TFIDF_SQL = f"""
    WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
    prs AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
            FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1),
    {_soft_scaffold_sql(
        "(SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents) dsrc"
    )},
    cand AS (
      -- similarity runs on the 16-char token prefixes, mirroring the
      -- Spark kernel's jw_max_len=16 truncation exactly (df/weights stay
      -- full-token on both sides)
      SELECT p.doc_id1, p.doc_id2, a.token AS tok_a, a.w AS w_a,
             b.token AS tok_b, b.w AS w_b,
             CAST(floor(jaro_winkler_similarity(substr(a.token, 1, 16),
                                                substr(b.token, 1, 16)) * 10000)
                  AS BIGINT) AS jw_e4,
             damerau_levenshtein(substr(a.token, 1, 16),
                                 substr(b.token, 1, 16)) AS dl
      FROM prs p
      JOIN wt a ON a.doc_id = p.doc_id1
      JOIN wt b ON b.doc_id = p.doc_id2
    ),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY doc_id1, doc_id2, tok_a
                 ORDER BY jw_e4 DESC, tok_b ASC) AS rk
        FROM cand
        WHERE jw_e4 >= 9000
           OR (dl <= 1 AND length(tok_a) >= 4 AND length(tok_b) >= 4)
      ) WHERE rk = 1
    ),
    agg AS (SELECT doc_id1, doc_id2,
                   CAST(count(*) AS BIGINT) AS n_matched,
                   sum(w_a * w_b * jw_e4) AS score_int
            FROM best GROUP BY doc_id1, doc_id2),
    fin AS (
      -- soft_e4 computed ONCE; every downstream expression reads the column
      SELECT p.doc_id1, p.doc_id2,
             coalesce(g.n_matched, 0) AS n_matched,
             CASE WHEN coalesce(na.n2, 0) > 0 AND coalesce(nb.n2, 0) > 0
                       AND g.score_int IS NOT NULL
                  THEN CAST(floor(CAST(g.score_int AS DOUBLE)
                             / (sqrt(CAST(na.n2 AS DOUBLE))
                                * sqrt(CAST(nb.n2 AS DOUBLE))))
                       AS BIGINT)
                  ELSE 0 END AS soft_e4
      FROM prs p
      LEFT JOIN agg g USING (doc_id1, doc_id2)
      LEFT JOIN norms na ON na.doc_id = p.doc_id1
      LEFT JOIN norms nb ON nb.doc_id = p.doc_id2
    )
    SELECT doc_id1, doc_id2, n_matched, soft_e4,
           soft_e4 / 10000.0 AS soft_tfidf,
           CASE WHEN soft_e4 >= 9000 THEN 'likely_duplicate'
                WHEN soft_e4 >= 7000 THEN 'needs_review'
                ELSE 'non_duplicate' END AS status
    FROM fin
"""


_STRSIM_SQL = f"""
    WITH s AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                      substr(text, 1, {_STRSIM_MAXLEN}) AS s
               FROM documents)
    SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS lev,
           CAST(damerau_levenshtein(a.s, b.s) AS BIGINT) AS dl,
           CAST(floor(jaro_winkler_similarity(a.s, b.s) * 10000) AS BIGINT) AS jw_e4
    FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
"""


def _q_ann_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    return similarity.brute_force_topk(embs, _ann_qvec(spark, sf_dir), k=10)


_ANN = dict(n_tables=8, n_bits=4, multiprobe=1, seed=42)


def _ann_sigs(spark, sf_dir, dim: int):
    """Persisted ANN signature index, computed once per session per sf_dir —
    the scale contract: probes are key lookups against a stored index, never
    per-query signature recomputation."""
    return _memo(
        spark, sf_dir, "ann_sigs",
        lambda: _persisted(similarity.ann_signatures(
            _spread(_embs(spark, sf_dir)), dim,
            n_tables=_ANN["n_tables"], n_bits=_ANN["n_bits"], seed=_ANN["seed"],
        )),
    )


def _q_ann_lsh_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    qvec = _ann_qvec(spark, sf_dir)
    return similarity.lsh_topk(
        embs, qvec, k=10, signatures=_ann_sigs(spark, sf_dir, len(qvec)), **_ANN
    )


_IVF = dict(k_lists=8, iters=5, nprobe=2, seed=42)
_IVF_FIT_MAX_ROWS = 20_000


@functools.lru_cache(maxsize=_CACHE_LIMIT)
def _ivf_centroids(sf_dir: str):
    """Deterministic IVF centroids fitted on a BOUNDED driver-side sample
    of the embedding table: row groups are consumed in file order only
    until ``_IVF_FIT_MAX_ROWS`` rows are in hand (never the whole file),
    then the sample is sorted by vec_id and truncated — deterministic for
    a fixed file at any corpus size, and a ~few-MB read even at 10^9
    vectors. Assignment stays distributed. The query vector (vec_id = 0)
    is fetched with a pushed-down parquet filter, so it costs the row
    groups whose statistics admit vec_id 0, not a full scan. Cached per
    sf_dir without a session (`_ann_ivf_sql` calls it with none);
    the oracle twin embeds the identical fitted centroids as literals, so
    query and oracle agree by construction."""
    import numpy as np
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "embeddings.parquet")
    pf = pq.ParquetFile(path)
    chunks, have = [], 0
    for rg in range(pf.num_row_groups):
        chunks.append(
            pf.read_row_group(rg, columns=["vec_id", "embedding"])
            .to_pandas()
        )
        have += len(chunks[-1])
        if have >= _IVF_FIT_MAX_ROWS:
            break
    tb = (
        pd.concat(chunks, ignore_index=True)
        .sort_values("vec_id")
        .head(_IVF_FIT_MAX_ROWS)
    )
    mat = np.vstack(tb["embedding"].to_numpy())
    q = pq.read_table(
        path, columns=["vec_id", "embedding"],
        filters=[("vec_id", "==", 0)],
    ).to_pandas()
    return (
        similarity.kmeans_centroids(
            mat, _IVF["k_lists"], _IVF["iters"], _IVF["seed"]
        ),
        np.asarray(q["embedding"].iloc[0], dtype=float),
    )


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF-ANN: deterministic spherical-kmeans coarse quantizer, probe the
    nprobe closest inverted lists, exact cosine re-rank — the second scale
    path for similarity search next to hyperplane LSH."""
    C, qvec = _ivf_centroids(sf_dir)
    return similarity.ivf_topk(
        _embs(spark, sf_dir), [float(x) for x in qvec], C,
        nprobe=_IVF["nprobe"], k=10,
    )


def _ann_ivf_sql() -> str:
    """DuckDB twin of ivf_topk at the compare scale (SPARK_GRAFT_ORACLE_SF_DIR,
    default the driver's sf0.01 — the sf0.1 sweep caught the former
    hardcoded path as the one remaining scale-coupled twin builder): the
    FINAL fitted centroids embedded as literals, first-max assignment scan
    (argmax tie toward lower list id, = numpy argmax), literal probe list,
    exact cosine re-rank."""
    import numpy as np

    C, qvec = _ivf_centroids(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    )
    k = len(C)
    scores = C @ np.asarray(qvec, dtype=float)
    probes = [int(x) for x in np.argsort(-scores, kind="stable")[: _IVF["nprobe"]]]

    def clit(j: int) -> str:
        return "[" + ",".join(repr(float(x)) for x in C[j]) + "]"

    s_cols = ", ".join(
        f"list_inner_product(embedding::DOUBLE[], {clit(j)}) AS s{j}"
        for j in range(k)
    )
    m = "greatest(" + ", ".join(f"s{j}" for j in range(k)) + ")"
    assign = (
        "CASE "
        + " ".join(f"WHEN s{j} = {m} THEN {j}" for j in range(k))
        + " END"
    )
    return f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
        sc AS (SELECT vec_id, {s_cols} FROM embeddings),
        sig AS (SELECT vec_id, {assign} AS list_id FROM sc),
        cand AS (SELECT vec_id FROM sig WHERE list_id IN ({", ".join(map(str, probes))}))
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
               round(coalesce(list_inner_product(e.embedding::DOUBLE[], q.e)
                     / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_inner_product(q.e, q.e))), 0), 4) AS cos_sim
        FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id, q
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """


def _cfg_sha():
    import dataclasses

    return dataclasses.replace(_CFG, hash_mode="sha256")


def _sigs_sha(spark, sf_dir):
    """Signatures in the oracle-replayable sha256 token-hash mode — same
    machinery as the pipeline's S1 (rolling hashes, minhash perms, simhash,
    bands, winnow), only the unique-token base hash differs, which is what
    lets DuckDB rebuild every value (libpostal_spark.sqltwin)."""
    from libpostal_spark.operators import blocking

    return _memo(
        spark, sf_dir, "sigs_sha",
        lambda: _persisted(blocking.signatures(
            _spread(dedup.docs_as_files(_docs(spark, sf_dir))),
            _cfg_sha(), emit_minhash=True,
        )),
    )


def _q_signatures(spark, sf_dir):
    """Long-form MinHash signature table: one row per (doc, permutation),
    value-exact against the DuckDB HUGEINT mod-2^64 replay."""
    sigs = _sigs_sha(spark, sf_dir)
    return sigs.select(
        F.col("path").cast("long").alias("doc_id"),
        F.posexplode("minhash").alias("perm_i", "mh"),
    )


def _q_signature_summary(spark, sf_dir):
    """The rest of the fixed-width signature surface as scalars: simhash,
    xor-folded band hashes, winnow fingerprint count + xor — all replayed
    value-exact by the SQL twin."""
    sigs = _sigs_sha(spark, sf_dir)

    def xor64(col):
        return F.aggregate(
            col, F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
        )

    return sigs.select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "simhash",
        xor64(F.col("bands")).alias("band_xor"),
        F.size("winnow").cast("long").alias("n_winnow"),
        xor64(F.col("winnow")).alias("winnow_xor"),
    )


def _q_shingle_stats(spark, sf_dir):
    """SQL-verifiable slice of the signature table: token + distinct-shingle
    counts per doc (the simhash/band columns stay in minhash_signatures,
    whose hashes SQL cannot replay). The pipeline featurizes one
    representative per distinct text; every other member takes its
    representative's counts through ``rep_fid``."""
    sigs = _pipe_res(spark, sf_dir).signatures
    reps = sigs.filter(F.col("fid") == F.col("rep_fid")).select(
        F.col("fid").alias("rep_fid"), "n_tokens", "n_shingles"
    )
    return sigs.select("rep_fid", "path").join(reps, "rep_fid").select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


def _cfg_pairs():
    """sha-mode config for the candidate-pairs listing, with bucket salting
    disabled (max_bucket_size above any sf-corpus bucket) so the pairing
    rule is the plain all-pairs-per-bucket form the SQL twin replays.
    Salted pairing stays production behavior for the pipeline queries and
    is pinned by adversarial pytest + the cluster oracles."""
    import dataclasses

    return dataclasses.replace(
        _CFG, hash_mode="sha256", max_bucket_size=1 << 30
    )


def _q_lsh_candidates(spark, sf_dir):
    from libpostal_spark.operators import blocking

    def build():
        cfg = _cfg_pairs()
        sigs = _sigs_sha(spark, sf_dir)
        # the persisted sha-sigs cache serves its own (sha256, fid) rep
        # aggregation — a 2-column scan + AQE-broadcast join instead of
        # windowing the full signature payload (minhash array included)
        # through a sha256 shuffle
        rep_sigs, _ = blocking.exact_groups(blocking.exact_rep_frame(sigs, sigs))
        keys = blocking.blocking_keys(rep_sigs, cfg)
        pairs, _, bucket_cache = blocking.candidate_pairs(keys, cfg)
        return pairs, bucket_cache

    # memoized so repeated invocations reuse ONE materialized bucket window
    # instead of leaking a new one per call
    pairs, _ = _memo(
        spark, sf_dir, "pairs", build, release=lambda v: v[1].unpersist()
    )
    return pairs.select("fid1", "fid2", "source")


def _q_doc_clusters(spark, sf_dir):
    return dedup.minhash_clusters(_pipe_res(spark, sf_dir))


def _q_dup_status(spark, sf_dir):
    pairs, _ = dedup.dup_status_pairs(_pipe_res(spark, sf_dir), _CFG)
    return pairs


_CODE_N_BASE = 100   # pinned: the oracle twin reads the same fixed corpus


def _q_code_clusters(spark, sf_dir):
    # read the pre-materialized deterministic corpus — generation is driver-
    # side pandas and must not pollute the timed query. n_base is PINNED so
    # the query and its DuckDB twin always read the same table regardless of
    # which sf_dir the harness passes (the corpus is not derived from sf
    # data; throughput scaling is bench phase 1's job)
    path = cached_corpus_parquet(n_base=_CODE_N_BASE, seed=_CFG.seed)
    files = _spread(
        spark.read.parquet(path).select(
            "repo", "path", "commit", "lang", "content"
        )
    )
    res = DedupPipeline(spark, _CFG).run(files)
    return res.clusters.select("fid", "component", "is_canonical")


def _q_corpus_stats(spark, sf_dir):
    """Corpus monitoring stats in ONE long-form (kind, key, val) table —
    the former token_freq_topk / source_length_stats / dedup_rate queries
    merged so the whole registry fits inside the driver's 50-query
    correctness window (round-6 verdict #2). Three independent aggregates
    unioned: top-20 token frequencies, per-source length/token stats, and
    the exact-dup rate over normalized fingerprints."""
    docs = _docs(spark, sf_dir)
    topk = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token")
        )
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
        .select(
            F.lit("token_freq").alias("kind"),
            F.col("token").alias("key"),
            F.col("freq").cast("double").alias("val"),
        )
    )
    src = (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
            F.min(TS.token_count(F.col("text"))).alias("min_tokens"),
            F.max(TS.token_count(F.col("text"))).alias("max_tokens"),
        )
        .selectExpr(
            "stack(4, "
            "'src_ndocs', source, CAST(n_docs AS DOUBLE), "
            "'src_avg_chars', source, CAST(avg_chars AS DOUBLE), "
            "'src_min_tokens', source, CAST(min_tokens AS DOUBLE), "
            "'src_max_tokens', source, CAST(max_tokens AS DOUBLE)"
            ") AS (kind, key, val)"
        )
    )
    fp = TS.norm_fingerprint(F.col("text"))
    ded = (
        docs.agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(fp).alias("n_distinct"),
        )
        .selectExpr(
            "stack(3, "
            "'corpus', 'n_docs', CAST(n_docs AS DOUBLE), "
            "'corpus', 'n_distinct', CAST(n_distinct AS DOUBLE), "
            "'corpus', 'dup_rate', "
            "round(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 4)"
            ") AS (kind, key, val)"
        )
    )
    return topk.unionAll(src).unionAll(ded)


def _q_streaming_window_stats(spark, sf_dir):
    """REAL Structured-Streaming execution oracle-checked end-to-end: the
    events table is read as a file STREAM (availableNow), windowed by event
    time through streaming.windowed_event_stats, written to a memory sink
    in complete mode, and the final table is compared against a batch
    DuckDB window/agg twin. Deterministic because the count/exact-distinct/
    decimal-sum aggregates are order-independent (see the operator
    docstring)."""
    import uuid

    from libpostal_spark import streaming as ST

    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the file-stream source needs a DIRECTORY basePath; events.parquet is
    # a single file inside the shared sf_dir, so stream the dir with a
    # filename glob selecting only the events table
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # the parquet ts column is TIMESTAMP_NTZ; event-time watermarks require
    # TIMESTAMP — with the session pinned to UTC the cast is value-identity
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    out = ST.windowed_event_stats(src)
    name = f"win_stats_{uuid.uuid4().hex[:12]}"
    # one availableNow batch over one file: 32 shuffle partitions would
    # spin up 32 state stores for a few hundred windows — run the stateful
    # agg at 8 and restore the session conf once the memory table is
    # materialized (awaitTermination below), so no other query sees it
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # availableNow + complete mode needs no watermark-advancing empty batch;
    # skipping it saves one full state-store commit wave per invocation
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # one row per window (bounded by time-range / window-size): lift
        # the result off the memory sink and DROP the per-invocation view,
        # so repeated calls in one session don't accumulate sink tables in
        # driver memory
        sink = spark.table(name)
        rows, schema = sink.collect(), sink.schema
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_users").cast("long").alias("n_users"),
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
    )


# state-store width of the harness LSH streaming query. Round 7 A/B'd
# 2/4/8 and chose 8 ("fewer partitions, fewer store commits") — but that
# predated the lean band-keys featurize: the detector's cost is now the
# per-GROUP Python invocation of applyInPandasWithState (~19k (band,khash)
# buckets per batch at sf0.1), which wants parallelism ≈ cores. Round-8
# re-A/B on the current code (2 rounds each, same session, interleaved):
# 8 → 3.9-5.1 s, 16 → 2.7-3.1 s, 32 → 2.3-2.6 s, identical 891 rows.
# Scale-adaptively one state partition per core (the width a production
# stream would be sized to), not a constant tuned to either config.
def _stream_state_partitions(spark) -> int:
    return spark.sparkContext.defaultParallelism


def _q_streaming_lsh_candidates(spark, sf_dir):
    """SECOND real Structured-Streaming oracle: the documents table read as
    an availableNow file stream → featurize → MinHash band keys →
    ``applyInPandasWithState`` cross-batch LSH candidate alerts
    (streaming.stateful_near_dup_candidates), append-mode memory sink.

    Deterministic by construction: one parquet file = one micro-batch, the
    detector sorts each bucket's arrivals by fid before replaying them
    through the bounded state, so the emitted (fid, match_fid) rows are
    exactly {m < f, rank(m) ≤ max_state_fids} per (band, khash) bucket —
    which the DuckDB twin reproduces from the HUGEINT band-hash replay."""
    import uuid

    from libpostal_spark import streaming as ST

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    files = dedup.docs_as_files(src)
    # first 4 of the 32 bands: each band is an independent LSH table, so
    # the subset only bounds the harness query's state-store size (the
    # full-width detector is pytest-covered); the twin filters identically
    out = ST.stateful_near_dup_candidates(
        files, _cfg_sha(), bands_limit=4, featurize_partitions=16
    )
    name = f"lsh_alerts_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_store = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_stream_state_partitions(spark))
    )
    # the NoTimeout stateful detector emits nothing from an empty batch —
    # skip it and save one RocksDB commit wave across all state partitions
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    # RocksDB state store: beat the default HDFS-backed provider in every
    # paired same-window A/B at this width (r7: 7.35/7.73, 5.75/6.97,
    # 5.49/5.70 s) — native store skips the JVM snapshot machinery
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sink = spark.table(name)
        rows, sschema = sink.collect(), sink.schema
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
        if prev_store is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_store
            )
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, sschema).select(
        F.col("band").cast("int").alias("band"),
        F.col("khash").cast("long").alias("khash"),
        "fid",
        "match_fid",
    )


def _streaming_lsh_sql() -> str:
    """DuckDB twin: HUGEINT replay of the MinHash band keys (sha-mode, the
    same machinery as the lsh_candidate_pairs twin) over ALL documents (the
    stream does not contract exact duplicates), then the detector's
    deterministic emission rule per bucket: every pair (match < fid) whose
    stored member ranks within the state cap."""
    from libpostal_spark import sqltwin

    cfg = _cfg_sha()
    ctes, band_final = sqltwin._feature_ctes(_canon_expr("text"), cfg)
    signed = sqltwin._signed
    return f"""
WITH {ctes},
fids AS (SELECT doc_id,
                sha256(source || chr(0) || CAST(doc_id AS VARCHAR)
                       || chr(0) || '0') AS fid
         FROM documents),
bk AS (SELECT f.fid, CAST(b.band AS INT) AS band, {signed('b.x')} AS khash
       FROM {band_final} b JOIN fids f USING (doc_id)
       WHERE CAST(b.band AS INT) < 4),
rnk AS (SELECT fid, band, khash,
               row_number() OVER (PARTITION BY band, khash
                                  ORDER BY fid) AS rn
        FROM bk)
SELECT a.band AS band, a.khash AS khash, b.fid AS fid, a.fid AS match_fid
FROM rnk a JOIN rnk b
  ON a.band = b.band AND a.khash = b.khash AND a.fid < b.fid
WHERE a.rn <= 32
"""


_STREAM_WINDOW_SQL = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts)
"""


def _q_media_features(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.lit(0).cast("long").alias("duration_ms"),
    )
    feats = multimodal.decode_image_features(media, dim=8, fake=True)
    # project harness-comparable scalars (the compare canonicalizer cannot
    # sort array columns): first 4 feature components, rounded
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        "n_bytes",
        *[F.round(F.col("feature")[i].cast("double"), 4).alias(f"f{i}") for i in range(4)],
    )


def _q_media_real_decode(spark, sf_dir):
    """REAL end-to-end media decode: build a genuine 24bpp BMP per doc
    (horizontal gradient, pixel v(x) = (doc_id*7 + 3x) % 256), decode it
    with the stdlib decoder (libpostal_spark.media), featurize as the 2×2
    area-mean luma grid, and emit each block's integer pixel SUM — which
    the SQL oracle predicts analytically. A decoder bug (filter, padding,
    channel order, row order) breaks the match."""
    docs = _docs(spark, sf_dir)

    @F.pandas_udf("binary")
    def make_bmp(ids: pd.Series) -> pd.Series:
        import struct as S

        import numpy as np

        w, h = 16, 8
        body_len = w * 3 * h
        header = (
            b"BM"
            + S.pack("<IHHI", 54 + body_len, 0, 0, 54)
            + S.pack(
                "<IiiHHIIiiII",
                40, w, h, 1, 24, 0, body_len, 2835, 2835, 0, 0,
            )
        )
        hdr = np.frombuffer(header, dtype=np.uint8)
        did = ids.to_numpy(dtype=np.int64)[:, None]
        px = ((did * 7 + np.arange(w)[None, :] * 3) % 256).astype(np.uint8)
        rows = np.repeat(px, 3, axis=1)                     # BGR triples
        payload = np.hstack(
            [np.broadcast_to(hdr, (len(ids), len(hdr))), np.tile(rows, (1, h))]
        )
        # one C-contiguous matrix; the only per-row python is the bytes view
        return pd.Series([r.tobytes() for r in payload])

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        make_bmp(F.col("doc_id")).alias("payload"),
        F.lit(16).alias("width"),
        F.lit(8).alias("height"),
        F.lit(0).cast("long").alias("duration_ms"),
    )
    feats = multimodal.decode_media_features(media, dim=4, on_unsupported="error")
    # block sum = (feature + 1) * 127.5 * 8 — integer-exact after rounding
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "decoded",
        "n_bytes",
        *[
            F.round((F.col("feature")[i].cast("double") + 1.0) * 1020.0)
            .cast("long")
            .alias(f"blocksum{i}")
            for i in range(4)
        ],
    )


def _address_parse_sql() -> str:
    """DuckDB twin of address_parse: both sides share the SAME trained
    model (operators/parser.get_address_model — deterministic pure-grid
    fit, so no sf keying is needed); the twin replays the full greedy
    decode in SQL (see parser.twin_sql)."""
    from libpostal_spark.operators import parser as P

    return P.twin_sql()


def _address_parse_crf_sql() -> str:
    """DuckDB twin of address_parse_crf: exact-integer Viterbi replayed
    in SQL (see parser.crf_twin_sql)."""
    from libpostal_spark.operators import parser as P

    return P.crf_twin_sql()


def _geo_sql(fn: str) -> str:
    """DuckDB twins of the geo queries (operators/geo.py): identical
    integer microdegree synthesis, cell quantization, 9-cell family
    join, and planar distance gate — no table-derived literals."""
    from libpostal_spark.operators import geo

    return getattr(geo, fn)()


def _q_address_parse(spark, sf_dir):
    """Address parser — the reference's headline subsystem
    (/root/reference/src/address_parser.c, averaged_perceptron_tagger.c):
    greedy averaged-perceptron sequence tagging with prev/prev2 tag
    history, integer-exact averaged weights (core/perceptron.py), offline
    deterministic training, distributed Arrow-batched prediction.
    Addresses synthesized from customer ⋈ nation ⋈ region in 5 dialects
    over an 8-label tag set (incl. state from lower(n_name) and the
    three-token po_box)
    (digit tokens ambiguous between house_number/unit/postcode — only
    the tag-history features disambiguate); measured tagging accuracy on
    the table-derived holdout: 1.000 (operators/parser.py)."""
    from libpostal_spark.operators import parser as P

    df = P.parse_addresses(P.synth_addresses(spark, sf_dir))
    return df.select(
        "custkey",
        "address",
        "tags_pred",
        "tags_gold",
        (F.col("tags_pred") == F.col("tags_gold")).alias("is_correct"),
    )


def _q_address_parse_crf(spark, sf_dir):
    """The reference parser's SECOND model type (src/crf.c, model_type
    ADDRESS_PARSER_TYPE_CRF): linear-chain CRF over observation features
    + a learned dense transition matrix, exact integer Viterbi decode
    (crf_context.c:567-660), trained by structured-perceptron updates
    (crf_trainer_averaged_perceptron.c). Same synthetic corpus as
    address_parse; measured tagging accuracy 1.000."""
    from libpostal_spark.operators import parser as P

    df = P.parse_addresses_crf(P.synth_addresses(spark, sf_dir))
    return df.select(
        "custkey",
        "address",
        "tags_pred",
        "tags_gold",
        (F.col("tags_pred") == F.col("tags_gold")).alias("is_correct"),
    )


def _q_geohash_keys(spark, sf_dir):
    """Geohash blocking keys (near_dupe.c:232-301 `with_latlon`,
    src/geohash/geohash.c): precision-6 cells as integer quantization +
    the base32 string via a 30-term JVM bit-interleave expression
    (verified against published geohash vectors). operators/geo.py."""
    from libpostal_spark.operators import geo

    return geo.geohash_keys(spark, sf_dir)


def _q_geo_candidate_pairs(spark, sf_dir):
    """Geohash-NEIGHBORS candidate generation + integer planar distance
    confirm — the reference's geo near-dupe semantic (a pair is found
    iff cells differ by ≤1 per axis and dist² ≤ R2). One cell-key
    shuffle; each pair emitted exactly once. operators/geo.py."""
    from libpostal_spark.operators import geo

    return geo.geo_candidate_pairs(spark, sf_dir)


def _q_place_dedup_clusters(spark, sf_dir):
    """The reference's place-dedupe flow end-to-end (dedupe.c is_dupe
    with lat/lon + place.c): geohash-neighbor blocking → expand-and-
    intersect name confirm (integer 0.5-Jaccard over normalized token
    sets, abbreviations folded, stopwords dropped — all JVM array
    expressions) → connected components (operators/cluster.py reused).
    Oracle = identical synthesis + blocking + gate, recursive-CTE
    closure. operators/geo.py."""
    from libpostal_spark.operators import geo

    return geo.place_dedup_clusters(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "canonicalize": _q_canonicalize,
        "canonicalize_expanded": _q_canonicalize_expanded,
        "canonicalize_translit": _q_canonicalize_translit,
        "canonicalize_translit_ext": _q_canonicalize_translit_ext,
        "canonicalize_classed": _q_canonicalize_classed,
        "canonicalize_multilang": _q_canonicalize_multilang,
        "canonicalize_langid_routed": _q_canonicalize_langid_routed,
        "gazetteer_matches": _q_gazetteer_matches,
        "numex_fold": _q_numex_fold,
        "expansion_counts": _q_expansion_counts,
        "exact_dup_groups": _q_exact_dup_groups,
        "doc_fingerprint": _q_fingerprint,
        "token_counts": _q_token_counts,
        "embedding_near_dup_pairs": _q_embedding_near_dup,
        "embedding_near_dup_clusters": _q_embedding_clusters,
        "quality_score": _q_quality,
        "lang_id": _q_langid,
        "lang_id_trigram": _q_langid_trigram,
        "lang_id_logreg": _q_langid_logreg,
        "token_jaccard_adjacent": _q_token_jaccard,
        "string_similarity_adjacent": _q_string_similarity,
        "soft_tfidf_adjacent": _q_soft_tfidf,
        "soft_tfidf_full": _q_soft_tfidf_full,
        "soft_tfidf_aligned": _q_soft_tfidf_aligned,
        "fuzzy_dup_status": _q_fuzzy_dup_status,
        "acronym_alignments": _q_acronym_pairs,
        "affine_gap_alignment": _q_affine_gap,
        "double_metaphone": _q_double_metaphone,
        "multiword_alignments": _q_multiword,
        "toponym_status": _q_toponym_status,
        "ann_cosine_topk": _q_ann_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "minhash_signatures": _q_signatures,
        "signature_summary": _q_signature_summary,
        "shingle_stats": _q_shingle_stats,
        "lsh_candidate_pairs": _q_lsh_candidates,
        "doc_near_dup_clusters": _q_doc_clusters,
        "dup_status_pairs": _q_dup_status,
        "code_dedup_clusters": _q_code_clusters,
        "media_decode_features": _q_media_features,
        "media_real_decode": _q_media_real_decode,
        "address_parse": _q_address_parse,
        "address_parse_crf": _q_address_parse_crf,
        "geohash_keys": _q_geohash_keys,
        "geo_candidate_pairs": _q_geo_candidate_pairs,
        "place_dedup_clusters": _q_place_dedup_clusters,
        "streaming_window_stats": _q_streaming_window_stats,
        "streaming_lsh_candidates": _q_streaming_lsh_candidates,
        "corpus_stats": _q_corpus_stats,
    }


# ------------------------------------------------------------ oracle SQL

_TOKEN_RE = r"[a-zA-Z_][a-zA-Z0-9_]*|\d+(?:\.\d+)?|[^\sa-zA-Z0-9_]"

# NFKC twin (partial): DuckDB has no NFKC, so the oracle folds the fullwidth
# ASCII block U+FF01-U+FF5E and the ideographic space U+3000 — the NFKC cases
# a source-code corpus actually produces. Exotic NFKC forms (ligatures,
# superscripts) would diverge; the sf corpora contain none (all-ASCII checked).
_FW_FROM = "".join(chr(0xFF01 + i) for i in range(94)) + "　"
_FW_TO = "".join(chr(0x21 + i) for i in range(94)) + " "


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _canon_expr(col: str) -> str:
    """DuckDB twin of canonicalize_batch (NFKC-fullwidth → comments → camel
    splits → underscores → lower → tokenize → join). coalesce: DuckDB's
    array_to_string yields NULL (not '') for an empty match list."""
    return f"""coalesce(array_to_string(
         regexp_extract_all(
           lower(
             replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       translate({col}, {_sql_quote(_FW_FROM)}, {_sql_quote(_FW_TO)}),
                       '/\\*.*?\\*/', ' ', 'gs'),
                     '(//|#|--)[^\n]*', ' ', 'g'),
                   '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'),
                 '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
               '_', ' ')
           ),
           '{_TOKEN_RE}'),
         ' '), '')"""


_CANON_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_canon_expr('text')} AS canon
FROM documents
"""


def _expanded_canon_sql() -> str:
    """SQL twin of the dictionary-expanded canonicalizer: the token stream is
    rendered with doubled separators (every token owns its surrounding
    spaces), then each phrase/token key is a bounded string REPLACE applied
    in the shared priority order (canonicalize.phrase_priority_order) —
    byte-identical to the pandas rewriter's pattern-priority semantics."""
    from libpostal_spark.core.canonicalize import phrase_priority_order
    from libpostal_spark.dictionaries import DEFAULT_CODE_EXPANSIONS

    expr = f"' ' || replace({_canon_expr('text')}, ' ', '  ') || ' '"
    for k, v in phrase_priority_order(dict(DEFAULT_CODE_EXPANSIONS)):
        pat = " " + k.replace(" ", "  ") + " "
        rep = " " + v.replace(" ", "  ") + " "
        expr = f"replace({expr}, {_sql_quote(pat)}, {_sql_quote(rep)})"
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               trim(regexp_replace({expr}, ' +', ' ', 'g')) AS canon
        FROM documents
    """


def _expansion_counts_sql() -> str:
    """Chained-CTE twin of make_expand_udf: one step per dictionary pattern
    (shared priority order), each counting its non-overlapping matches on the
    running doubled-space string and then applying its replacement — exactly
    the evolving-sequence semantics of expand_alternatives_tokens."""
    from libpostal_spark.core.canonicalize import phrase_priority_order
    from libpostal_spark.dictionaries import DEFAULT_CODE_EXPANSIONS

    steps = []
    prev = "s0"
    for i, (k, v) in enumerate(
        phrase_priority_order(dict(DEFAULT_CODE_EXPANSIONS)), start=1
    ):
        pat = _sql_quote(" " + k.replace(" ", "  ") + " ")
        rep = _sql_quote(" " + v.replace(" ", "  ") + " ")
        steps.append(
            f"s{i} AS (SELECT doc_id, canon, replace(s, {pat}, {rep}) AS s, "
            f"m + (length(s) - length(replace(s, {pat}, ''))) // length({pat}) AS m "
            f"FROM {prev})"
        )
        prev = f"s{i}"
    chain = ",\n            ".join(steps)
    return f"""
        WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                          {_canon_expr('text')} AS canon FROM documents),
            s0 AS (SELECT doc_id, canon,
                          ' ' || replace(canon, ' ', '  ') || ' ' AS s,
                          0 AS m FROM c),
            {chain}
        SELECT doc_id,
               canon AS canon_full,
               trim(regexp_replace(s, ' +', ' ', 'g')) AS canon_root,
               CAST(m AS INT) AS n_matches,
               CAST(least(power(2, m), 64) AS INT) AS n_alternatives
        FROM {prev}
    """


def _code_clusters_sql() -> str:
    """DuckDB twin of the flagship pipeline over the deterministic synthetic
    CODE corpus (read from the same pre-materialized parquet the query
    reads; regenerated here so the oracle can run first). Edge rule =
    sha-equal ∨ shingle-jaccard ≥ 0.7 ∨ shared ≥159-token run (the winnowing
    guarantee window W+select-1: every planted clone is ≥200 tokens, so the
    pipeline's winnow-hit ∧ verified-run acceptance coincides with the pure
    159-window rule on this corpus — checked empirically at the harness
    scale). Valid at sf0.01 (n_base=100), the scale the driver compares at.
    """
    from libpostal_spark.corpus import cached_corpus_parquet

    path = cached_corpus_parquet(n_base=_CODE_N_BASE, seed=_CFG.seed)
    k = _CFG.k_shingle
    wlen = WINNOW_GUARANTEE
    split = "string_split(canon, ' ')"
    return f"""
        WITH RECURSIVE
        files AS (SELECT * FROM read_parquet('{path}')),
        canon AS (
          SELECT sha256(repo || chr(0) || path || chr(0) || commit) AS fid,
                 sha256(content) AS sha,
                 {_canon_expr('content')} AS canon
          FROM files
        ),
        sh AS (
          SELECT fid, sha,
                 CASE WHEN len({split}) < {k} THEN [canon]
                      ELSE list_distinct(list_transform(
                             generate_series(1, len({split}) - {k - 1}),
                             i -> md5(array_to_string({split}[i:i + {k - 1}], ' '))))
                 END AS s,
                 CASE WHEN len({split}) < {wlen} THEN []
                      ELSE list_distinct(list_transform(
                             generate_series(1, len({split}) - {wlen - 1}),
                             i -> md5(array_to_string({split}[i:i + {wlen - 1}], ' '))))
                 END AS w
          FROM canon
        ),
        runhits AS (
          SELECT DISTINCT a.fid AS fa, b.fid AS fb
          FROM (SELECT fid, unnest(w) AS win FROM sh) a
          JOIN (SELECT fid, unnest(w) AS win FROM sh) b USING (win)
          WHERE a.fid < b.fid
        ),
        -- jaccard via exploded-shingle join: |A∩B| = shared-key count, so
        -- only pairs sharing >=1 shingle are ever scored (no quadratic
        -- list_intersect; a pair below the threshold with zero overlap
        -- cannot be an edge anyway)
        ex AS (SELECT fid, unnest(s) AS g FROM sh),
        sizes AS (SELECT fid, len(s) AS ns FROM sh),
        inter AS (
          SELECT a.fid AS fa, b.fid AS fb, count(*) AS c
          FROM ex a JOIN ex b USING (g)
          WHERE a.fid < b.fid
          GROUP BY 1, 2
        ),
        jpairs AS (
          SELECT fa, fb FROM inter
          JOIN sizes sa ON sa.fid = fa
          JOIN sizes sb ON sb.fid = fb
          WHERE c / CAST(sa.ns + sb.ns - c AS DOUBLE) >= {_CFG.jaccard_threshold}
        ),
        shapairs AS (
          SELECT a.fid AS fa, b.fid AS fb
          FROM sh a JOIN sh b ON a.sha = b.sha AND a.fid < b.fid
        ),
        edges AS (
          SELECT fa, fb FROM jpairs
          UNION
          SELECT fa, fb FROM shapairs
          UNION
          SELECT fa, fb FROM runhits
        ),
        sym AS (
          SELECT fa AS a, fb AS b FROM edges
          UNION ALL
          SELECT fb AS a, fa AS b FROM edges
        ),
        reach(src, dst) AS (
          SELECT fid, fid FROM canon
          UNION
          SELECT r.src, s2.b FROM reach r JOIN sym s2 ON s2.a = r.dst
        ),
        comp AS (SELECT src AS fid, min(dst) AS component FROM reach GROUP BY src)
        SELECT c.fid AS fid,
               p.component AS component,
               (c.fid = p.component) AS is_canonical
        FROM canon c JOIN comp p ON p.fid = c.fid
    """


def _pair_ctes() -> str:
    """Shared DuckDB CTEs: per-doc canon/fid/sha -> k-gram shingle sets ->
    exhaustive pairwise Jaccard. Twin of the pipeline's semantics:
    fid = sha256(source \\0 doc_id \\0 '0') (docs_as_files adapter), shingles
    = distinct token {k}-grams with the whole-row fallback for short rows
    (core/hashing.py shingle_sets), jaccard = |A∩B| / |A∪B|.

    Exhaustive O(n²) pairing is the ORACLE's luxury at 500 rows — the Spark
    side must reach the same pairs through LSH blocking, which is exactly
    what the comparison proves (candidate recall 1.0 at this config).
    """
    k = _CFG.k_shingle
    wlen = WINNOW_GUARANTEE
    split = "string_split(canon, ' ')"
    return f"""
canon AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         sha256(source || chr(0) || CAST(doc_id AS VARCHAR) || chr(0) || '0') AS fid,
         sha256(text) AS sha,
         {_canon_expr('text')} AS canon
  FROM documents
),
sh AS (
  SELECT doc_id, fid, sha,
         CASE WHEN len({split}) < {k} THEN [canon]
              ELSE list_distinct(list_transform(
                     generate_series(1, len({split}) - {k - 1}),
                     i -> array_to_string({split}[i:i + {k - 1}], ' ')))
         END AS s,
         CASE WHEN len({split}) < {wlen} THEN CAST([] AS VARCHAR[])
              ELSE list_distinct(list_transform(
                     generate_series(1, len({split}) - {wlen - 1}),
                     i -> md5(array_to_string({split}[i:i + {wlen - 1}], ' '))))
         END AS w
  FROM canon
),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.fid AS fa, b.fid AS fb,
         (a.sha = b.sha) AS sha_eq,
         CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 1.0
              ELSE len(list_intersect(a.s, b.s))
                   / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE)
         END AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)"""


def _sw_count(word: str) -> str:
    """SQL twin of the textstats whole-word token count (split on \\s+,
    exact token equality; the Spark side sums these per-word counts via one
    set-membership filter — textstats._word_set_occurrences)."""
    return (
        f"CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
        f" t -> t = '{word}')) AS BIGINT)"
    )


_TOKCNT = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END"
)

_ALPHA = (
    "round(CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END, 4)"
)
_PUNCT = (
    "round(CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "CAST(length(regexp_replace(text, '[^.,;:!?''\"()\\[\\]{}]', '', 'g')) AS DOUBLE) / length(text) END, 4)"
)


def _stopword_ratio_sql() -> str:
    from libpostal_spark.functions.textstats import STOPWORDS

    hits = " + ".join(_sw_count(w) for w in STOPWORDS)
    return (
        f"round(CASE WHEN ({_TOKCNT}) = 0 THEN 0.0 ELSE "
        f"CAST(({hits}) AS DOUBLE) / ({_TOKCNT}) END, 4)"
    )


def _langid_sql() -> str:
    from libpostal_spark.functions.textstats import LANG_MARKERS

    cnt = {
        lang: "(" + " + ".join(_sw_count(w) for w in words) + ")"
        for lang, words in LANG_MARKERS.items()
    }
    # replicate the strictly-greater argmax fold in dict order
    expr = "'und'"
    best = "CAST(0 AS BIGINT)"
    for lang in LANG_MARKERS:
        c = cnt[lang]
        expr = f"CASE WHEN {c} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"CASE WHEN {c} > {best} THEN {c} ELSE {best} END"
    return expr


def _ann_lsh_sql() -> str:
    """DuckDB twin of lsh_topk: identical seeded hyperplanes embedded as SQL
    literals, per-table 4-bit sign keys, Hamming<=1 multiprobe, exact cosine
    re-rank. Proves the bucket filter + re-rank end-to-end, not just the
    re-rank."""
    from libpostal_spark.operators.similarity import hyperplane_planes

    T, b, dim = _ANN["n_tables"], _ANN["n_bits"], 64
    planes = hyperplane_planes(dim, T, b, _ANN["seed"])

    def key_expr(emb: str, t: int) -> str:
        terms = []
        for j in range(b):
            lit = "[" + ",".join(repr(float(x)) for x in planes[:, t * b + j]) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product({emb}, {lit}) > 0 THEN {1 << j} ELSE 0 END)"
            )
        return f"({t << b} + " + " + ".join(terms) + ")"

    sig_keys = ", ".join(
        f"{key_expr('embedding::DOUBLE[]', t)} AS k{t}" for t in range(T)
    )
    q_keys = ", ".join(f"{key_expr('q.e', t)} AS k{t}" for t in range(T))
    hits = " OR ".join(
        f"bit_count(xor(s.k{t}, qs.k{t})) <= {_ANN['multiprobe']}" for t in range(T)
    )
    return f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
        sig AS (SELECT vec_id, {sig_keys} FROM embeddings),
        qs AS (SELECT {q_keys} FROM q),
        cand AS (SELECT s.vec_id FROM sig s, qs WHERE {hits})
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
               round(coalesce(list_inner_product(e.embedding::DOUBLE[], q.e)
                     / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_inner_product(q.e, q.e))), 0), 4) AS cos_sim
        FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id, q
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """


def _minhash_long_oracle() -> str:
    from libpostal_spark import sqltwin

    return sqltwin.minhash_long_sql(_canon_expr("text"), _cfg_sha())


def _signature_summary_oracle() -> str:
    from libpostal_spark import sqltwin

    return sqltwin.signature_summary_sql(_canon_expr("text"), _cfg_sha())


def _candidate_pairs_oracle() -> str:
    from libpostal_spark import sqltwin

    return sqltwin.candidate_pairs_sql(_canon_expr("text"), _cfg_pairs())


def oracle_sql() -> dict[str, str]:
    stopword = _stopword_ratio_sql()
    quality = (
        f"round(({_ALPHA} + least(CAST(length(text) AS DOUBLE)/500.0, 1.0) + "
        f"least({stopword} * 5, 1.0)) / 3.0, 4)"
    )
    return {
        "canonicalize": _CANON_SQL,
        "canonicalize_expanded": _expanded_canon_sql(),
        "canonicalize_translit": _translit_sql(),
        "canonicalize_translit_ext": _translit_ext_sql(),
        "canonicalize_classed": _classed_canon_sql(),
        "canonicalize_multilang": _multilang_sql(),
        "canonicalize_langid_routed": _langid_routed_sql(),
        "gazetteer_matches": _gazetteer_sql(),
        "numex_fold": _numex_sql(),
        "expansion_counts": _expansion_counts_sql(),
        "exact_dup_groups": """
            SELECT sha256(text) AS group_sha,
                   CAST(count(*) AS BIGINT) AS dup_count,
                   CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
            FROM documents GROUP BY sha256(text)
        """,
        "doc_fingerprint": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "token_counts": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST({_TOKCNT} AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+|''|\\s+'
                   )) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "embedding_near_dup_clusters": """
            WITH RECURSIVE v AS (
              SELECT CAST(vec_id AS BIGINT) AS vec_id,
                     embedding::DOUBLE[] AS e,
                     sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings
            ),
            edges AS (
              SELECT a.vec_id AS u, b.vec_id AS w
              FROM v a JOIN v b ON a.vec_id < b.vec_id
              WHERE round(list_inner_product(a.e, b.e) / (a.n * b.n), 4) >= 0.4
            ),
            sym AS (SELECT u, w FROM edges UNION SELECT w, u FROM edges),
            reach AS (
              SELECT u AS src, u AS node FROM (SELECT DISTINCT u FROM sym)
              UNION
              SELECT r.src, s.w FROM reach r JOIN sym s ON s.u = r.node
            ),
            comp AS (SELECT node AS vec_id, min(src) AS component
                     FROM reach GROUP BY node)
            SELECT e.vec_id,
                   coalesce(c.component, e.vec_id) AS component,
                   (e.vec_id = coalesce(c.component, e.vec_id)) AS is_canonical
            FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings) e
            LEFT JOIN comp c USING (vec_id)
        """,
        "embedding_near_dup_pairs": """
            WITH v AS (
              SELECT CAST(vec_id AS BIGINT) AS vec_id,
                     embedding::DOUBLE[] AS e,
                     sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings
            )
            SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
                   round(list_inner_product(a.e, b.e) / (a.n * b.n), 4) AS cos_sim
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE round(list_inner_product(a.e, b.e) / (a.n * b.n), 4) >= 0.4
        """,
        "quality_score": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_actual,
                   {_ALPHA} AS alpha_ratio,
                   {_PUNCT} AS punct_ratio,
                   {stopword} AS stopword_ratio,
                   {quality} AS quality
            FROM documents
        """,
        "lang_id": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id, {_langid_sql()} AS lang_pred
            FROM documents
        """,
        "lang_id_trigram": _langid_trigram_sql(),
        "lang_id_logreg": _langid_logreg_sql(),
        # unrolled greedy averaged-perceptron decode with the trained
        # integer weights embedded as VALUES (operators/parser.py)
        "address_parse": _address_parse_sql(),
        # the CRF variant: the Viterbi recurrence unrolled per token
        # position (state weights + transition matrix as VALUES)
        "address_parse_crf": _address_parse_crf_sql(),
        # integer geohash lattice + base32 interleave replayed in SQL
        "geohash_keys": _geo_sql("geohash_keys_sql"),
        "geo_candidate_pairs": _geo_sql("geo_candidate_pairs_sql"),
        "place_dedup_clusters": _geo_sql("place_dedup_clusters_sql"),
        "token_jaccard_adjacent": """
            WITH toks AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     list_sort(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS t
              FROM documents
            )
            SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
                   round(CASE WHEN len(list_distinct(a.t || b.t)) > 0
                         THEN CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                              / len(list_distinct(a.t || b.t))
                         ELSE 1.0 END, 4) AS jaccard
            FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
        """,
        "corpus_stats": f"""
            WITH topk AS (
              SELECT token, count(*) AS freq
              FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                    FROM documents)
              WHERE length(token) > 0
              GROUP BY token
              ORDER BY freq DESC, token ASC
              LIMIT 20
            ),
            src AS (
              SELECT source,
                     count(*) AS n_docs,
                     round(avg(length(text)), 4) AS avg_chars,
                     min({_TOKCNT}) AS min_tokens,
                     max({_TOKCNT}) AS max_tokens
              FROM documents GROUP BY source
            ),
            ded AS (
              SELECT count(*) AS n_docs,
                     count(DISTINCT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_distinct
              FROM documents
            )
            SELECT 'token_freq' AS kind, token AS key, CAST(freq AS DOUBLE) AS val FROM topk
            UNION ALL SELECT 'src_ndocs', source, CAST(n_docs AS DOUBLE) FROM src
            UNION ALL SELECT 'src_avg_chars', source, CAST(avg_chars AS DOUBLE) FROM src
            UNION ALL SELECT 'src_min_tokens', source, CAST(min_tokens AS DOUBLE) FROM src
            UNION ALL SELECT 'src_max_tokens', source, CAST(max_tokens AS DOUBLE) FROM src
            UNION ALL SELECT 'corpus', 'n_docs', CAST(n_docs AS DOUBLE) FROM ded
            UNION ALL SELECT 'corpus', 'n_distinct', CAST(n_distinct AS DOUBLE) FROM ded
            UNION ALL SELECT 'corpus', 'dup_rate',
                      round(1.0 - CAST(n_distinct AS DOUBLE)/n_docs, 4) FROM ded
        """,
        "code_dedup_clusters": _code_clusters_sql(),
        "minhash_signatures": _minhash_long_oracle(),
        "signature_summary": _signature_summary_oracle(),
        "lsh_candidate_pairs": _candidate_pairs_oracle(),
        "media_real_decode": """
            WITH xs AS (SELECT unnest(generate_series(0, 15)) AS x),
            sums AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(sum(CASE WHEN x < 8
                              THEN (doc_id * 7 + 3 * x) % 256 END) AS BIGINT) AS s0,
                     CAST(sum(CASE WHEN x >= 8
                              THEN (doc_id * 7 + 3 * x) % 256 END) AS BIGINT) AS s1
              FROM documents, xs GROUP BY doc_id
            )
            SELECT media_id, 'bmp' AS decoded, CAST(438 AS BIGINT) AS n_bytes,
                   s0 AS blocksum0, s1 AS blocksum1,
                   s0 AS blocksum2, s1 AS blocksum3
            FROM sums
        """,
        "shingle_stats": f"""
            WITH c AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     {_canon_expr('text')} AS canon
              FROM documents
            )
            SELECT doc_id,
                   CAST(CASE WHEN length(canon) = 0 THEN 0
                        ELSE len(string_split(canon, ' ')) END AS BIGINT) AS n_tokens,
                   CAST(CASE WHEN len(string_split(canon, ' ')) < {_CFG.k_shingle} THEN 1
                        ELSE len(list_distinct(list_transform(
                               generate_series(1, len(string_split(canon, ' ')) - {_CFG.k_shingle - 1}),
                               i -> array_to_string(string_split(canon, ' ')[i:i + {_CFG.k_shingle - 1}], ' '))))
                        END AS BIGINT) AS n_shingles
            FROM c
        """,
        "doc_near_dup_clusters": f"""
            WITH RECURSIVE
            {_pair_ctes()},
            runhits AS (
              SELECT DISTINCT a.fid AS fa, b.fid AS fb
              FROM (SELECT fid, unnest(w) AS win FROM sh) a
              JOIN (SELECT fid, unnest(w) AS win FROM sh) b USING (win)
              WHERE a.fid < b.fid
            ),
            edges AS (
              SELECT fa, fb FROM pairs
              WHERE sha_eq OR j >= {_CFG.jaccard_threshold}
              UNION
              SELECT fa, fb FROM runhits
            ),
            sym AS (
              SELECT fa AS a, fb AS b FROM edges
              UNION ALL
              SELECT fb AS a, fa AS b FROM edges
            ),
            reach(src, dst) AS (
              SELECT fid, fid FROM canon
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst
            ),
            comp AS (SELECT src AS fid, min(dst) AS component FROM reach GROUP BY src)
            SELECT c.doc_id AS doc_id,
                   p.component AS component,
                   (c.fid = p.component) AS is_canonical
            FROM canon c JOIN comp p ON p.fid = c.fid
        """,
        "dup_status_pairs": f"""
            WITH
            {_pair_ctes()}
            SELECT CASE WHEN fa < fb THEN da ELSE db END AS doc_id1,
                   CASE WHEN fa < fb THEN db ELSE da END AS doc_id2,
                   round(j, 4) AS jaccard,
                   CASE WHEN sha_eq THEN 'exact_duplicate'
                        WHEN j >= {LIKELY_THRESHOLD} THEN 'likely_duplicate'
                        ELSE 'needs_review' END AS status
            FROM pairs
            WHERE sha_eq OR j >= {_CFG.jaccard_threshold}
        """,
        "media_decode_features": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   'image' AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   round((('0x' || substr(sha256(text), 1, 2))::INT - 128) / 128.0, 4) AS f0,
                   round((('0x' || substr(sha256(text), 3, 2))::INT - 128) / 128.0, 4) AS f1,
                   round((('0x' || substr(sha256(text), 5, 2))::INT - 128) / 128.0, 4) AS f2,
                   round((('0x' || substr(sha256(text), 7, 2))::INT - 128) / 128.0, 4) AS f3
            FROM documents
        """,
        "streaming_window_stats": _STREAM_WINDOW_SQL,
        "streaming_lsh_candidates": _streaming_lsh_sql(),
        "string_similarity_adjacent": _STRSIM_SQL,
        "soft_tfidf_adjacent": _SOFT_TFIDF_SQL,
        "soft_tfidf_full": _soft_tfidf_full_sql(),
        "soft_tfidf_aligned": _aligned_sql(),
        "fuzzy_dup_status": _fuzzy_sql(),
        "acronym_alignments": _acronym_sql(),
        "affine_gap_alignment": _affine_gap_sql(),
        "double_metaphone": _dm_sql(),
        "multiword_alignments": _mw_sql(),
        "toponym_status": _topo_sql(),
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0)
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   round(list_inner_product(embedding::DOUBLE[], q.e)
                         / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_inner_product(q.e, q.e))), 4) AS cos_sim
            FROM embeddings, q
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        """,
    }
