"""Canonicalizer goldens — the analog of the reference's expansion
containment assertions (/root/reference/test/test_expand.c:126-196)."""

import pandas as pd

from libpostal_spark.core.canonicalize import canonicalize_batch
from tests.helpers import canonicalize_one


def test_whitespace_folding():
    a = canonicalize_one("x = foo(  a,b )\n\n\n  return x")
    b = canonicalize_one("x=foo(a, b)\n\treturn x")
    assert a == b


def test_comment_folding():
    a = canonicalize_one("x = 1  # set x to one\ny = 2")
    b = canonicalize_one("x = 1 // different words here\ny = 2")
    c = canonicalize_one("x = 1 /* block\ncomment */\ny = 2")
    d = canonicalize_one("x = 1\ny = 2")
    assert a == b == c == d


def test_case_folding():
    assert canonicalize_one("fooBarBaz = 1") == canonicalize_one("foo_bar_baz = 1")
    assert canonicalize_one("HTTPServer") == canonicalize_one("http_server")


def test_unicode_nfkc():
    # fullwidth forms fold to ascii (NFKC) — analog of strip-accents/translit
    # (/root/reference/src/normalize.c:54-81)
    assert canonicalize_one("ｄｅｆ ｆｏｏ") == canonicalize_one("def foo")
    # composed vs decomposed accents agree post-NFKC
    assert canonicalize_one("café") == canonicalize_one("café")


def test_tokenizer_symbols_split():
    assert canonicalize_one("a+=b") == "a + = b"
    assert canonicalize_one("f(x,y)") == "f ( x , y )"


def test_number_tokens_kept():
    assert canonicalize_one("x = 3.14") == "x = 3.14"


def test_empty_and_null():
    s = canonicalize_batch(pd.Series(["", None, "   "]))
    assert list(s) == ["", "", ""]


def test_distinct_content_distinct_canon():
    a = canonicalize_one("def f(x): return x + 1")
    b = canonicalize_one("def g(y): return y * 2")
    assert a != b


def test_batch_matches_single():
    texts = ["def fooBar(): pass", "x = 1 # c", "ｗｉｄｅ"]
    batch = list(canonicalize_batch(pd.Series(texts)))
    single = [canonicalize_one(t) for t in texts]
    assert batch == single


def test_token_expansion_dictionary():
    # abbrev ↔ canonical equivalence, the "St" ≡ "Street" analog
    exp = {"cfg": "config", "impl": "implementation"}
    a = canonicalize_one("load_cfg(impl)", expansions=exp)
    b = canonicalize_one("loadConfig(implementation)", expansions=exp)
    assert a == b == "load config ( implementation )"


def test_latin_ascii_transliteration_goldens():
    """Golden expectations in the style of the reference's expand goldens
    (/root/reference/test/test_expand.c:126-333), for non-ASCII Latin
    identifiers under transliterate=True."""
    cases = [
        ("café_Señor = 1", "cafe senor = 1"),
        ("naïveFunc()", "naive func ( )"),
        ("Größe + straße", "grosse + strasse"),
        ("œuvreCount", "oeuvre count"),
        ("ÜberCount = phở", "uber count = pho"),
        ("Łukasz_Øre", "lukasz ore"),
        ("Þing_ðata", "t hing data"),          # þ→TH: "THing" camel-splits T|Hing
        ("plain_ascii stays", "plain ascii stays"),
    ]
    for src, want in cases:
        got = canonicalize_one(src, transliterate=True)
        assert got == want, f"{src!r}: {got!r} != {want!r}"


def test_cyrillic_greek_transliteration_goldens():
    """Per-script increment (reference analog: per-script CLDR transforms,
    /root/reference/src/transliterate.c:669): Cyrillic (BGN/PCGN-style)
    and Greek (ISO 843-style) identifiers romanize under the same
    transliterate flag, so source text in those scripts cross-matches its
    romanized twin."""
    cases = [
        # Cyrillic: multi-char folds, title-case camel interplay, signs drop
        ("привет мир", "privet mir"),
        ("Жук_Щука", "zhuk shchuka"),
        ("объект = подъезд", "obekt = podezd"),
        ("йод ёлка", "yod yolka"),                 # й table-folds to y, not i
        ("ЦенаChecker", "tsena checker"),
        ("хорошо Чай", "khorosho chay"),
        # Greek: ISO 843-ish, tonos strips via NFD then table folds
        ("αλφα βητα", "alfa vita"),
        ("Ψυχή_λόγος", "psychi logos"),
        ("Θεός χάος", "theos chaos"),
        ("μικρός", "mikros"),
    ]
    for src, want in cases:
        got = canonicalize_one(src, transliterate=True)
        assert got == want, f"{src!r}: {got!r} != {want!r}"
    # cross-script dup detection: romanized and native spellings merge
    assert canonicalize_one("функция getValue", transliterate=True) == \
        canonicalize_one("funktsiya getValue", transliterate=True)


def test_arabic_hebrew_transliteration_goldens():
    """Round-6 per-script increment: Arabic + Hebrew romanization fold
    tables (non-European scripts, reference analog
    /root/reference/src/transliterate.c:669). Hand-derived goldens cover
    multi-char folds (خ→kh, ش/ש→sh, غ→gh), the ع/ء/א/ע deletion folds,
    combining marks riding NFD+strip (fatha, dagesh, niqqud), final-form
    Hebrew letters, tatweel stripping, and Arabic-Indic digit folding."""
    cases = [
        # Arabic
        ("مرحبا بالعالم", "mrhba balalm"),
        ("الخوارزمية", "alkhwarzmya"),
        ("عدد ١٢٣٤٥", "dd 12345"),          # ʿayn drops; digits fold
        ("شمس غروب ذهب", "shms ghrwb dhhb"),
        ("كَتَبَ", "ktb"),                    # harakat are combining → strip
        ("مكتـــبة", "mktba"),                # tatweel elongation strips
        ("صلاة ظهر", "slaa zhr"),
        # Hebrew
        ("שלום עולם", "shlvm vlm"),
        ("בית ספר", "byt spr"),
        ("חלון קטן", "chlvn ktn"),
        ("ךםןףץ", "kmnpts"),                 # final forms fold like medials
        ("בְּרֵאשִׁית", "brshyt"),           # niqqud strip via NFD; א drops
        ("צדק", "tsdk"),
    ]
    for src, want in cases:
        got = canonicalize_one(src, transliterate=True)
        assert got == want, f"{src!r}: {got!r} != {want!r}"
    # cross-script dup detection: romanized and native spellings merge
    assert canonicalize_one("خبز wshay", transliterate=True) == \
        canonicalize_one("khbz وشاي", transliterate=True)


def test_kana_transliteration_goldens():
    """Kana → romaji (context-free Hepburn-style table; digraphs render
    per-kana, gemination っ and the long-vowel mark ー drop — documented
    lossy folds). Katakana generated from the hiragana table at the fixed
    +0x60 code-point offset."""
    cases = [
        ("にほんご すし", "nihongo sushi"),
        ("カタカナ ラーメン", "katakana ramen"),
        ("とうきょう", "toukiyou"),        # context-free digraph rendering
        ("がっこう", "gakou"),             # っ drops
        ("きゃく", "kiyaku"),
        ("ワヲン", "wawon"),
        ("パン ぱん", "pan pan"),          # katakana ≡ hiragana romaji
    ]
    for src, want in cases:
        got = canonicalize_one(src, transliterate=True)
        assert got == want, f"{src!r}: {got!r} != {want!r}"
    assert canonicalize_one("すし sushi", transliterate=True) == "sushi sushi"


def test_transliteration_merges_accent_variants():
    """The point of the fold: accented and plain spellings of the same
    identifier must canonicalize identically (dup detection across them)."""
    assert canonicalize_one("getConfigValue", transliterate=True) == \
        canonicalize_one("gétConfigValué", transliterate=True)
    # and the default (off) keeps them distinct
    assert canonicalize_one("getConfigValue") != canonicalize_one("gétConfigValué")


def test_hangul_han_transliteration():
    """Round-6 scripts 7-8: Hangul RR romanization is generated from the
    jamo arithmetic for every precomposed syllable; Han folds the curated
    frequent-hanzi pinyin head (unlisted hanzi pass through honestly)."""
    from libpostal_spark.core.canonicalize import latin_ascii_fold_one as f

    assert f("서울") == "seoul"
    assert f("한국") == "hanguk"
    assert f("부산") == "busan"
    assert f("닭") == "dak"          # coda cluster neutralized
    assert f("강남") == "gangnam"
    assert f("평양") == "pyeongyang"
    assert f("北京") == "beijing"
    assert f("上海") == "shanghai"
    assert f("中国") == "zhongguo"
    # uncovered hanzi pass through unchanged (no silent mangling)
    assert f("龐") == "龐"
