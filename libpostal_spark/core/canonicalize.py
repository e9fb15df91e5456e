"""Canonicalization core: source text → canonical token stream.

The reference's expand/normalize stage (``expand_address_root``,
/root/reference/src/expand.c:1653-1655; ``normalize_string_utf8_languages``,
/root/reference/src/normalize.c:24-110) collapses surface variation
(case, hyphens, abbreviations, accents) so that equivalent records produce
intersecting expansion sets. Transposed to source code, the variation classes
we must fold (FIXTURES.md §2) are:

  ws        — whitespace / indentation / blank-line reflow
  comment   — comments added / removed / reworded
  case      — camelCase ↔ snake_case ↔ lower identifier styles
  unicode   — NFKC-equivalent forms (full-width chars, composed vs decomposed)

Everything here is pandas-vectorized (``pd.Series.str`` regex ops run in C
loops inside pandas; the only ``.map`` is NFKC, applied behind an ASCII
fast-path mask exactly like the reference's ASCII early-out at
/root/reference/src/normalize.c:225-248).

The output canonical form is a single string: lowercase tokens joined by a
single space. ``canon.split(" ")`` recovers the token stream downstream.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd

# comment syntaxes folded for every language: block /* ... */, line // and #,
# and SQL/lua-style --. Stripping them from string literals too is an accepted
# approximation (the reference likewise over-normalizes: it deletes hyphens and
# periods everywhere, src/normalize.c:393-506).
_RE_BLOCK_COMMENT = re.compile(r"/\*.*?\*/", re.DOTALL)
_RE_LINE_COMMENT = re.compile(r"(//|#|--)[^\n]*")

# identifier case-boundary splits: fooBar → foo Bar, HTTPServer → HTTP Server
_RE_CAMEL_1 = re.compile(r"([a-z0-9])([A-Z])")
_RE_CAMEL_2 = re.compile(r"([A-Z]+)([A-Z][a-z])")

# token scanner: identifier | number | any single non-space symbol
# (the code analog of the re2c lexer classes in /root/reference/src/scanner.re:164-201)
_RE_TOKEN = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*|\d+(?:\.\d+)?|[^\sa-zA-Z0-9_]")

# ---------------------------------------------------------------------------
# Arrow (RE2) fast path for the ASCII-only stages 2-5 of canonicalize_batch.
#
# pandas ``.str`` regex ops dispatch one Python ``re`` call per row; Arrow's
# utf8proc/RE2 kernels run the whole batch in one C++ loop (measured ~2.3x on
# the canonicalize chain of the e2e corpus, exact-equal outputs). The fast
# path is taken ONLY for rows that are pure ASCII after NFKC/transliteration:
# on ASCII input every construct below is bit-equivalent to the Python path
# (fuzz-pinned in tests/test_canonicalize_arrow.py); non-ASCII rows keep the
# Python path (RE2's \s, utf8proc's lower() and Python's differ outside
# ASCII — final sigma, dotted-I, \x85 — so no Arrow shortcut is taken there).
#
# _PA_WS is Python's re \s intersected with ASCII ([\t\n\v\f\r\x1c-\x1f ]);
# RE2's \s is only [\t\n\f\r ], so the class is spelled out explicitly.
# The token pass consumes each token's LEADING whitespace run and rewrites
# "ws + token" -> "token + single space"; with every non-ws char belonging to
# exactly one token (the 3rd alternation arm catches any symbol), the result
# after a trailing trim is exactly findall(token).join(" ").
# ---------------------------------------------------------------------------
try:  # pragma: no cover - import guard
    import pyarrow as _pa
    import pyarrow.compute as _pc
except ImportError:  # pragma: no cover
    _pa = None

_PA_WS = "\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f "
_PA_TOKEN_PASS = (
    "[" + _PA_WS + "]*"
    "([a-zA-Z_][a-zA-Z0-9_]*|\\d+(?:\\.\\d+)?|[^" + _PA_WS + "a-zA-Z0-9_])"
)
_PA_TRIM_CHARS = " \t\n\x0b\x0c\r\x1c\x1d\x1e\x1f"


def _canon_core_arrow(arr):
    """Stages 2-5 (comments, camel splits, '_', lower, tokenize-join) on an
    Arrow string array of ASCII-only rows. Bit-equivalent to
    ``_canon_core_pandas`` on such rows (fuzz-pinned)."""
    a = _pc.replace_substring_regex(
        arr, pattern=r"(?s)/\*.*?\*/", replacement=" "
    )
    a = _pc.replace_substring_regex(
        a, pattern=r"(//|#|--)[^\n]*", replacement=" "
    )
    a = _pc.replace_substring_regex(
        a, pattern=r"([A-Z]+)([A-Z][a-z])", replacement=r"\1 \2"
    )
    a = _pc.replace_substring_regex(
        a, pattern=r"([a-z0-9])([A-Z])", replacement=r"\1 \2"
    )
    a = _pc.replace_substring(a, pattern="_", replacement=" ")
    a = _pc.ascii_lower(a)
    a = _pc.replace_substring_regex(
        a, pattern=_PA_TOKEN_PASS, replacement=r"\1 "
    )
    return _pc.utf8_trim(a, characters=_PA_TRIM_CHARS)


def _canon_core_pandas(s: pd.Series) -> pd.Series:
    """Stages 2-5 via pandas per-row ``re`` (the reference implementation;
    the path every non-ASCII row takes)."""
    s = s.str.replace(_RE_BLOCK_COMMENT, " ", regex=True)
    s = s.str.replace(_RE_LINE_COMMENT, " ", regex=True)
    s = s.str.replace(_RE_CAMEL_2, r"\1 \2", regex=True)
    s = s.str.replace(_RE_CAMEL_1, r"\1 \2", regex=True)
    s = s.str.replace("_", " ", regex=False)
    s = s.str.lower()
    return s.str.findall(_RE_TOKEN).str.join(" ")


def _canon_core(s: pd.Series) -> pd.Series:
    """Dispatch stages 2-5: Arrow kernels for ASCII rows, pandas otherwise."""
    if _pa is None or len(s) == 0:
        return _canon_core_pandas(s)
    try:
        arr = _pa.array(s.to_numpy(dtype=object), type=_pa.large_string())
    except (_pa.ArrowInvalid, _pa.ArrowTypeError, UnicodeEncodeError):
        # lone surrogates (or other non-UTF-8-encodable content) cannot
        # cross into Arrow; the Python path handles them as before
        return _canon_core_pandas(s)
    ascii_mask = _pc.string_is_ascii(arr).to_numpy(zero_copy_only=False)
    if ascii_mask.all():
        return pd.Series(
            _canon_core_arrow(arr).to_numpy(zero_copy_only=False),
            index=s.index,
            dtype=object,
        )
    if not ascii_mask.any():
        return _canon_core_pandas(s)
    out = pd.Series(None, index=s.index, dtype=object)
    out.iloc[ascii_mask] = _canon_core_arrow(
        arr.filter(_pa.array(ascii_mask))
    ).to_numpy(zero_copy_only=False)
    rest = s.iloc[~ascii_mask]
    out.iloc[~ascii_mask] = _canon_core_pandas(rest).to_numpy(dtype=object)
    return out


def _nfkc(series: pd.Series) -> pd.Series:
    """NFKC-normalize only the rows that need it (ASCII fast path)."""
    non_ascii = ~series.map(str.isascii)
    if non_ascii.any():
        series = series.copy()
        series[non_ascii] = series[non_ascii].map(
            lambda s: unicodedata.normalize("NFKC", s)
        )
    return series


# Non-decomposable Latin letters the NFD+strip-marks pass cannot fold —
# the hand-maintained tail of the public CLDR Latin-ASCII transform (the
# analog of the reference's per-script transliterators,
# /root/reference/src/transliterate.c:669). Accented letters (é, ü, ñ, …)
# need no table entry: NFD decomposition + combining-mark strip covers them.
_LATIN_FOLD = {
    "ß": "ss", "ẞ": "SS", "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE",
    "ø": "o", "Ø": "O", "đ": "d", "Đ": "D", "ħ": "h", "Ħ": "H",
    "ł": "l", "Ł": "L", "þ": "th", "Þ": "TH", "ð": "d", "Ð": "D",
    "ŋ": "n", "Ŋ": "N", "ı": "i", "ĸ": "k", "ŧ": "t", "Ŧ": "T",
}

# Cyrillic → Latin (public BGN/PCGN-style romanization, simplified) and
# Greek → Latin (public ISO 843-style), the per-script increment over the
# Latin-ASCII transform (reference analog: the per-script CLDR transforms,
# /root/reference/src/transliterate.c:669 + script detection
# src/unicode_scripts.c:20). Uppercase multi-char folds use title case
# ("Ж"→"Zh") so folded identifiers keep sane camel boundaries. Hard/soft
# signs fold to nothing; й is TABLE-folded to y before NFD decomposition
# would strip its breve down to и.
_CYRILLIC_FOLD = {
    "а": "a", "б": "b", "в": "v", "г": "g", "д": "d", "е": "e", "ё": "yo",
    "ж": "zh", "з": "z", "и": "i", "й": "y", "к": "k", "л": "l", "м": "m",
    "н": "n", "о": "o", "п": "p", "р": "r", "с": "s", "т": "t", "у": "u",
    "ф": "f", "х": "kh", "ц": "ts", "ч": "ch", "ш": "sh", "щ": "shch",
    "ъ": "", "ы": "y", "ь": "", "э": "e", "ю": "yu", "я": "ya",
    "А": "A", "Б": "B", "В": "V", "Г": "G", "Д": "D", "Е": "E", "Ё": "Yo",
    "Ж": "Zh", "З": "Z", "И": "I", "Й": "Y", "К": "K", "Л": "L", "М": "M",
    "Н": "N", "О": "O", "П": "P", "Р": "R", "С": "S", "Т": "T", "У": "U",
    "Ф": "F", "Х": "Kh", "Ц": "Ts", "Ч": "Ch", "Ш": "Sh", "Щ": "Shch",
    "Ъ": "", "Ы": "Y", "Ь": "", "Э": "E", "Ю": "Yu", "Я": "Ya",
}
_GREEK_FOLD = {
    "α": "a", "β": "v", "γ": "g", "δ": "d", "ε": "e", "ζ": "z", "η": "i",
    "θ": "th", "ι": "i", "κ": "k", "λ": "l", "μ": "m", "ν": "n", "ξ": "x",
    "ο": "o", "π": "p", "ρ": "r", "σ": "s", "ς": "s", "τ": "t", "υ": "y",
    "φ": "f", "χ": "ch", "ψ": "ps", "ω": "o",
    "Α": "A", "Β": "V", "Γ": "G", "Δ": "D", "Ε": "E", "Ζ": "Z", "Η": "I",
    "Θ": "Th", "Ι": "I", "Κ": "K", "Λ": "L", "Μ": "M", "Ν": "N", "Ξ": "X",
    "Ο": "O", "Π": "P", "Ρ": "R", "Σ": "S", "Τ": "T", "Υ": "Y",
    "Φ": "F", "Χ": "Ch", "Ψ": "Ps", "Ω": "O",
}
# Arabic → Latin (simplified public romanization, context-free: one table
# entry per base letter; harakat/diacritics are combining marks and ride the
# NFD+strip pass). Emphatic/plain mergers (ص→s, ض→d, ط→t, ظ→z) and the
# hamza/ʿayn drops are the standard lossy folds of practical romanizers —
# deterministic is what dedup canonicalization needs, not reversible.
# Arabic-Indic digits fold to ASCII digits (NFKC does NOT: they have no
# compatibility decomposition) so they participate in fold_numbers.
_ARABIC_FOLD = {
    "ا": "a", "أ": "a", "إ": "i", "آ": "a", "ء": "", "ؤ": "w", "ئ": "y",
    "ى": "a", "ة": "a", "ب": "b", "ت": "t", "ث": "th", "ج": "j", "ح": "h",
    "خ": "kh", "د": "d", "ذ": "dh", "ر": "r", "ز": "z", "س": "s", "ش": "sh",
    "ص": "s", "ض": "d", "ط": "t", "ظ": "z", "ع": "", "غ": "gh", "ف": "f",
    "ق": "q", "ك": "k", "ل": "l", "م": "m", "ن": "n", "ه": "h", "و": "w",
    "ي": "y", "ـ": "",                       # tatweel (kashida) elongation
    "٠": "0", "١": "1", "٢": "2", "٣": "3", "٤": "4",
    "٥": "5", "٦": "6", "٧": "7", "٨": "8", "٩": "9",
}
# Hebrew → Latin (simplified, context-free; final forms fold like their
# medial letters; niqqud are combining marks → NFD+strip). Aleph/ʿayin fold
# to nothing (the Russian hard-sign precedent above); bet/vet and shin/sin
# distinctions need pointing we deliberately don't model.
_HEBREW_FOLD = {
    "א": "", "ב": "b", "ג": "g", "ד": "d", "ה": "h", "ו": "v", "ז": "z",
    "ח": "ch", "ט": "t", "י": "y", "כ": "k", "ך": "k", "ל": "l", "מ": "m",
    "ם": "m", "נ": "n", "ן": "n", "ס": "s", "ע": "", "פ": "p", "ף": "p",
    "צ": "ts", "ץ": "ts", "ק": "k", "ר": "r", "ש": "sh", "ת": "t",
}
# Kana → romaji (Hepburn-style, CONTEXT-FREE per-kana table: digraphs like
# きゃ render as "kiya" not "kya", gemination っ and the long-vowel mark ー
# drop — the same lossy-but-deterministic trade as the other scripts).
# Katakana shares the syllabary at a fixed +0x60 code-point offset, so one
# table generates both blocks.
_KANA_BASE = dict(
    zip(
        "あいうえおかきくけこさしすせそたちつてとなにぬねのはひふへほ"
        "まみむめもやゆよらりるれろわをん",
        "a i u e o ka ki ku ke ko sa shi su se so ta chi tsu te to "
        "na ni nu ne no ha hi fu he ho ma mi mu me mo ya yu yo "
        "ra ri ru re ro wa wo n".split(),
    )
)
_KANA_BASE.update(
    zip(
        "がぎぐげござじずぜぞだぢづでどばびぶべぼぱぴぷぺぽ",
        "ga gi gu ge go za ji zu ze zo da ji zu de do "
        "ba bi bu be bo pa pi pu pe po".split(),
    )
)
_KANA_BASE.update(zip("ぁぃぅぇぉゃゅょ", "a i u e o ya yu yo".split()))
_KANA_BASE["っ"] = ""
_KANA_FOLD = {
    **_KANA_BASE,
    **{chr(ord(k) + 0x60): v for k, v in _KANA_BASE.items()},  # katakana
    "ー": "",                       # long-vowel mark (katakana block)
}
# Hangul → Latin (Revised-Romanization jamo values, context-free codas):
# every precomposed syllable U+AC00-U+D7A3 decomposes ARITHMETICALLY into
# (initial, medial, final) — syllable = 0xAC00 + (i·21 + m)·28 + f — so the
# full 11,172-entry fold table is generated, not hand-written. Codas use
# the neutralized pronunciation values (ㄱ/ㄲ/ㅋ→k, ㄷ/ㅅ/ㅆ/ㅈ/ㅊ/ㅌ/ㅎ→t,
# ㅂ/ㅍ→p, clusters to their surviving consonant) — the standard lossy,
# context-free trade of the other script tables. 서울→seoul, 한국→hanguk,
# 부산→busan, 닭→dak.
_HANGUL_INITIALS = [
    "g", "kk", "n", "d", "tt", "r", "m", "b", "pp", "s", "ss", "", "j",
    "jj", "ch", "k", "t", "p", "h",
]
_HANGUL_MEDIALS = [
    "a", "ae", "ya", "yae", "eo", "e", "yeo", "ye", "o", "wa", "wae",
    "oe", "yo", "u", "wo", "we", "wi", "yu", "eu", "ui", "i",
]
_HANGUL_FINALS = [
    "", "k", "k", "k", "n", "n", "n", "t", "l", "k", "m", "l", "l", "l",
    "p", "l", "m", "p", "p", "t", "t", "ng", "t", "t", "k", "t", "p", "t",
]


def _hangul_fold() -> dict:
    out = {}
    for code in range(0xAC00, 0xD7A4):
        s = code - 0xAC00
        i, rem = divmod(s, 21 * 28)
        m, f = divmod(rem, 28)
        out[chr(code)] = (
            _HANGUL_INITIALS[i] + _HANGUL_MEDIALS[m] + _HANGUL_FINALS[f]
        )
    return out


# Han → pinyin for the most frequent address/name-relevant hanzi with a
# single common reading (tone marks dropped). A full UniHan readings table
# is DATA, not design — this is the hand-curated head of it, the same
# scope trade as the reference shipping CLDR's rule files for the scripts
# it covers (/root/reference/src/transliterate.c:669). Unlisted hanzi pass
# through (honest partial coverage).
_HAN_FOLD = {
    # round-7 second widening: 48 more everyday single-reading hanzi
    # (pronouns, body, weather, household, senses; the sample corpus's
    # remaining single-reading tail 淀关住在浦吹过面先生 — its true
    # polyphones 的/车/长 stay excluded by policy)
    "淀": "dian", "关": "guan", "住": "zhu", "在": "zai", "浦": "pu",
    "吹": "chui", "过": "guo", "面": "mian", "先": "xian", "生": "sheng",
    "我": "wo", "你": "ni", "他": "ta", "她": "ta", "们": "men",
    "是": "shi", "不": "bu", "来": "lai", "去": "qu", "时": "shi",
    "间": "jian", "电": "dian", "话": "hua", "脑": "nao", "网": "wang",
    "窗": "chuang", "师": "shi", "朋": "peng", "友": "you", "爱": "ai",
    "手": "shou", "足": "zu", "目": "mu", "耳": "er", "头": "tou",
    "身": "shen", "体": "ti", "多": "duo", "快": "kuai", "慢": "man",
    "早": "zao", "晚": "wan", "树": "shu", "草": "cao", "猫": "mao",
    "狗": "gou", "钢": "gang", "土": "tu",
    "一": "yi", "二": "er", "三": "san", "四": "si", "五": "wu",
    "六": "liu", "七": "qi", "八": "ba", "九": "jiu", "十": "shi",
    "人": "ren", "民": "min", "大": "da", "小": "xiao", "中": "zhong",
    "国": "guo", "上": "shang", "下": "xia", "东": "dong", "南": "nan",
    "西": "xi", "北": "bei", "京": "jing", "海": "hai", "山": "shan",
    "水": "shui", "火": "huo", "日": "ri", "月": "yue", "年": "nian",
    "天": "tian", "地": "di", "路": "lu", "街": "jie", "市": "shi",
    "城": "cheng", "村": "cun", "区": "qu", "省": "sheng", "县": "xian",
    "镇": "zhen", "门": "men", "口": "kou", "河": "he", "江": "jiang",
    "湖": "hu", "广": "guang", "州": "zhou", "港": "gang", "台": "tai",
    "湾": "wan", "花": "hua", "园": "yuan", "桥": "qiao", "公": "gong",
    "学": "xue", "好": "hao", "王": "wang", "李": "li", "张": "zhang",
    "刘": "liu", "陈": "chen", "林": "lin", "金": "jin",
    # round-7 head widening: numbers/measure words, address morphemes,
    # geography, the top single-reading surnames, colors and nature terms.
    # Polyphones whose reading depends on context (行, 重, 长, 都, 堡, 铺,
    # 弄) are deliberately EXCLUDED — they pass through rather than fold
    # wrong; ü-vowel readings (绿/吕) excluded to stay ASCII-faithful.
    "百": "bai", "千": "qian", "万": "wan", "零": "ling", "半": "ban",
    "号": "hao", "室": "shi", "楼": "lou", "层": "ceng", "栋": "dong",
    "巷": "xiang", "道": "dao", "段": "duan", "里": "li", "乡": "xiang",
    "府": "fu", "宫": "gong", "庙": "miao", "寺": "si", "塔": "ta",
    "站": "zhan", "场": "chang", "馆": "guan", "院": "yuan", "校": "xiao",
    "厂": "chang", "店": "dian", "屋": "wu", "家": "jia", "房": "fang",
    "田": "tian", "心": "xin", "新": "xin", "旧": "jiu", "高": "gao",
    "低": "di", "短": "duan", "春": "chun", "夏": "xia", "秋": "qiu",
    "冬": "dong", "风": "feng", "云": "yun", "雨": "yu", "雪": "xue",
    "星": "xing", "光": "guang", "明": "ming", "安": "an", "平": "ping",
    "和": "he", "福": "fu", "寿": "shou", "喜": "xi", "龙": "long",
    "凤": "feng", "虎": "hu", "马": "ma", "牛": "niu", "羊": "yang",
    "鸟": "niao", "鱼": "yu", "木": "mu", "森": "sen", "石": "shi",
    "玉": "yu", "银": "yin", "铁": "tie", "铜": "tong", "青": "qing",
    "红": "hong", "黄": "huang", "白": "bai", "黑": "hei", "首": "shou",
    "华": "hua", "建": "jian", "设": "she", "井": "jing", "泉": "quan",
    "溪": "xi", "岛": "dao", "岸": "an", "坡": "po", "岭": "ling",
    "峰": "feng", "谷": "gu", "洞": "dong", "滩": "tan", "池": "chi",
    "塘": "tang", "坝": "ba", "营": "ying", "庄": "zhuang", "屯": "tun",
    "集": "ji", "赵": "zhao", "钱": "qian", "孙": "sun", "周": "zhou",
    "吴": "wu", "郑": "zheng", "冯": "feng", "卫": "wei", "蒋": "jiang",
    "沈": "shen", "韩": "han", "杨": "yang", "朱": "zhu", "秦": "qin",
    "许": "xu", "何": "he", "施": "shi", "孔": "kong", "曹": "cao",
    "严": "yan", "魏": "wei", "陶": "tao", "姜": "jiang", "谢": "xie",
    "邹": "zou", "苏": "su", "潘": "pan", "葛": "ge", "范": "fan",
    "彭": "peng", "鲁": "lu", "韦": "wei", "苗": "miao", "方": "fang",
    "袁": "yuan", "柳": "liu", "唐": "tang", "罗": "luo", "薛": "xue",
    "雷": "lei", "贺": "he", "汤": "tang", "毕": "bi", "郝": "hao",
    "常": "chang", "傅": "fu", "齐": "qi", "康": "kang", "余": "yu",
    "元": "yuan", "顾": "gu", "孟": "meng", "萧": "xiao", "尹": "yin",
    "姚": "yao", "邵": "shao", "汪": "wang", "毛": "mao", "米": "mi",
    "贝": "bei", "成": "cheng", "戴": "dai", "宋": "song", "熊": "xiong",
    "舒": "shu", "项": "xiang", "祝": "zhu", "董": "dong", "梁": "liang",
    "杜": "du", "蓝": "lan", "席": "xi", "季": "ji", "贾": "jia",
    "童": "tong", "颜": "yan", "郭": "guo", "梅": "mei", "盛": "sheng",
    "钟": "zhong", "徐": "xu", "邱": "qiu", "骆": "luo", "蔡": "cai",
    "樊": "fan", "胡": "hu", "凌": "ling", "霍": "huo", "支": "zhi",
    "柯": "ke", "管": "guan", "卢": "lu", "莫": "mo",
}


# Devanagari → Latin (simplified Hunterian-style, context-free per char:
# consonants carry their inherent 'a', matras/vowel signs map to plain
# vowels — long/short merged — and the virama/nukta drop, so क्रम folds
# "karama" not "krama": the same lossy-but-deterministic trade as the kana
# digraphs. Vowel signs and anusvara/visarga are combining marks, but the
# fold table runs BEFORE the NFD strip, so they map rather than vanish.
# Devanagari digits fold to ASCII (no compatibility decomposition).
_DEVANAGARI_FOLD = {
    "अ": "a", "आ": "aa", "इ": "i", "ई": "i", "उ": "u", "ऊ": "u",
    "ऋ": "ri", "ए": "e", "ऐ": "ai", "ओ": "o", "औ": "au",
    "ा": "a", "ि": "i", "ी": "i", "ु": "u", "ू": "u", "ृ": "ri",
    "े": "e", "ै": "ai", "ो": "o", "ौ": "au",
    "क": "ka", "ख": "kha", "ग": "ga", "घ": "gha", "ङ": "nga",
    "च": "cha", "छ": "chha", "ज": "ja", "झ": "jha", "ञ": "nya",
    "ट": "ta", "ठ": "tha", "ड": "da", "ढ": "dha", "ण": "na",
    "त": "ta", "थ": "tha", "द": "da", "ध": "dha", "न": "na",
    "प": "pa", "फ": "pha", "ब": "ba", "भ": "bha", "म": "ma",
    "य": "ya", "र": "ra", "ल": "la", "व": "va", "श": "sha",
    "ष": "sha", "स": "sa", "ह": "ha",
    "ं": "n", "ः": "h", "ँ": "n", "्": "", "़": "", "।": " ",
    "०": "0", "१": "1", "२": "2", "३": "3", "४": "4",
    "५": "5", "६": "6", "७": "7", "८": "8", "९": "9",
}
# Thai → Latin (simplified RTGS-style, context-free: initial/final
# consonant distinctions and vowel length merged; tone marks are combining
# and deliberately NOT in the table — they carry no segmental value and
# ride the NFD strip; preposed vowels (เ แ โ ใ ไ) fold in code-point
# order, another documented context-free loss). Thai digits fold to ASCII.
_THAI_FOLD = {
    "ก": "k", "ข": "kh", "ค": "kh", "ฆ": "kh", "ง": "ng",
    "จ": "ch", "ฉ": "ch", "ช": "ch", "ซ": "s", "ฌ": "ch", "ญ": "y",
    "ฎ": "d", "ฏ": "t", "ฐ": "th", "ฑ": "th", "ฒ": "th", "ณ": "n",
    "ด": "d", "ต": "t", "ถ": "th", "ท": "th", "ธ": "th", "น": "n",
    "บ": "b", "ป": "p", "ผ": "ph", "ฝ": "f", "พ": "ph", "ฟ": "f",
    "ภ": "ph", "ม": "m", "ย": "y", "ร": "r", "ล": "l", "ว": "w",
    "ศ": "s", "ษ": "s", "ส": "s", "ห": "h", "ฬ": "l", "อ": "o",
    "ฮ": "h",
    "ะ": "a", "ั": "a", "า": "a", "ำ": "am", "ิ": "i", "ี": "i",
    "ึ": "ue", "ื": "ue", "ุ": "u", "ู": "u", "็": "",
    "เ": "e", "แ": "ae", "โ": "o", "ใ": "ai", "ไ": "ai", "ๆ": "",
    "๐": "0", "๑": "1", "๒": "2", "๓": "3", "๔": "4",
    "๕": "5", "๖": "6", "๗": "7", "๘": "8", "๙": "9",
}

_FOLD_TRANS = str.maketrans(
    {**_LATIN_FOLD, **_CYRILLIC_FOLD, **_GREEK_FOLD, **_ARABIC_FOLD,
     **_HEBREW_FOLD, **_KANA_FOLD, **_hangul_fold(), **_HAN_FOLD,
     **_DEVANAGARI_FOLD, **_THAI_FOLD}
)


# Context-sensitive per-language rule layers, applied BEFORE the generic
# fold — the analog of the reference's language-specific transliterators
# taking precedence over Latin-ASCII (/root/reference/src/transliterate.c:669,
# transliteration_table ordering: a 'de' request runs de-ASCII rules first).
# German orthographic convention: umlauts expand to vowel+e and ß→ss
# (München→Muenchen), where the generic context-free fold would strip the
# trema (München→Munchen). Upper-case forms map to title-case digraphs so
# camel boundaries survive ("ÜberCount"→"UeberCount"→"ueber count").
def _digraph_pre_fold(lower_map: dict, upper_map: dict):
    """Case-context digraph folder (the CLDR de-ASCII rule shape the
    reference's engine executes, src/transliterate.c:669): an uppercase
    source letter folds to its Title-case digraph when the FOLLOWING
    character is lowercase (Über→Ueber) and to the all-caps digraph
    otherwise (ÜBER→UEBER, so all-caps words neither fragment at the
    camel splitter nor lose their run)."""
    chars = frozenset(lower_map) | frozenset(upper_map)

    def fold(s: str) -> str:
        out = []
        for i, ch in enumerate(s):
            if ch not in chars:
                out.append(ch)
            elif ch in lower_map:
                out.append(lower_map[ch])
            else:
                title, caps = upper_map[ch]
                nxt = s[i + 1] if i + 1 < len(s) else ""
                out.append(title if nxt.islower() else caps)
        return "".join(out)

    return fold


_LANG_PRE_FOLD = {
    # German umlaut/eszett convention
    "de": _digraph_pre_fold(
        {"ä": "ae", "ö": "oe", "ü": "ue", "ß": "ss"},
        {"Ä": ("Ae", "AE"), "Ö": ("Oe", "OE"), "Ü": ("Ue", "UE")},
    ),
    # Danish/Norwegian digraph convention (æ→ae ø→oe å→aa).  Swedish gets
    # NO layer on purpose: its romanization convention is the plain strip
    # (å→a ä→a ö→o), which is exactly what the generic fold produces.
    "da": _digraph_pre_fold(
        {"æ": "ae", "ø": "oe", "å": "aa"},
        {"Æ": ("Ae", "AE"), "Ø": ("Oe", "OE"), "Å": ("Aa", "AA")},
    ),
}
# Bokmål/Nynorsk share the Danish convention
_LANG_PRE_FOLD["no"] = _LANG_PRE_FOLD["nb"] = _LANG_PRE_FOLD["nn"] = (
    _LANG_PRE_FOLD["da"]
)


def latin_ascii_fold_one(s: str, lang: str | None = None) -> str:
    """Latin-ASCII transliteration of one string: optional per-language
    context rules (``lang``), then fold table (Latin non-decomposables +
    Cyrillic + Greek + Arabic + Hebrew base letters), NFD-decompose, strip
    combining marks, fold again.

    The table runs BOTH before and after decomposition: before, so
    precomposed table entries win over their decompositions (й → y, not
    и-breve → i); after, so accented NON-table forms decompose down to a
    base letter the table can then fold (ά → α → a, ё́-like stacks, Latin
    é → e needs no entry at all). Outputs are ASCII, so the second pass is
    idempotent on anything the first already folded."""
    pre = _LANG_PRE_FOLD.get(lang or "")
    if pre is not None:
        s = pre(s)
    s = s.translate(_FOLD_TRANS)
    d = unicodedata.normalize("NFD", s)
    d = "".join(ch for ch in d if not unicodedata.combining(ch))
    return d.translate(_FOLD_TRANS)


def _latin_ascii(series: pd.Series, lang: str | None = None) -> pd.Series:
    """Vectorized Latin-ASCII fold (non-ASCII rows only; ASCII fast path)."""
    non_ascii = ~series.map(str.isascii)
    if non_ascii.any():
        series = series.copy()
        series[non_ascii] = series[non_ascii].map(
            lambda s: latin_ascii_fold_one(s, lang)
        )
    return series


_RE_NUMBER = re.compile(r"^\d+(?:\.\d+)?$")


def canonicalize_batch(
    content: pd.Series,
    lang: pd.Series | None = None,
    expansions: dict[str, str] | None = None,
    fold_numbers: bool = False,
    transliterate: bool = False,
    fold_spelled_numbers: bool = False,
    fold_roman: bool = False,
    numex_lang: str = "en",
    translit_lang: str | None = None,
) -> pd.Series:
    """Vectorized canonicalizer: pd.Series[str] → pd.Series[str] (canon form).

    Stages (each a whole-batch pandas op):
      1. NFKC unicode normalization (ASCII rows skipped)
      2. comment stripping (block, line)
      3. identifier case folding: camel boundaries → space, '_' → space
      4. lowercase
      5. tokenize + single-space join
      6. optional token expansion via a dictionary (abbrev → canonical — the
         code analog of the reference's address-dictionary expansion,
         /root/reference/src/address_dictionary.c:286-311; shipped to
         executors inside the UDF closure, the broadcast-join pattern)
      7. optional number folding: numeric literals → '0' (the analog of the
         reference's digits→D normalization, /root/reference/src/normalize.c:393-506)
    """
    s = content.fillna("").astype(str)
    s = _nfkc(s)
    if transliterate:
        # Latin-ASCII fold BEFORE case splitting so folded uppercase letters
        # ("ÜberCount" → "UberCount") still participate in camel boundaries
        s = _latin_ascii(s, translit_lang)
    joined = _canon_core(s)
    if fold_spelled_numbers:
        # numex composition BEFORE the dictionary/number chain, so a folded
        # "twenty three" -> "23" still hits fold_numbers' digits->0 collapse
        from .numex import fold_spelled_numbers_batch

        joined = fold_spelled_numbers_batch(joined, fold_roman, numex_lang)
    if expansions or fold_numbers:
        joined, _ = rewrite_joined_batch(joined, expansions, fold_numbers)
    return joined


def _doubled(tokens: str) -> str:
    """' a  b ' form: every token owns one space on each side, so a bounded
    string REPLACE of one doubled form with another can only match whole
    tokens and never steals a neighbor's boundary space."""
    return " " + tokens.replace(" ", "  ") + " "


# a whole numeric token in the doubled-space form (fold_numbers target)
_RE_NUMBER_TOKEN = re.compile(r" \d+(?:\.\d+)? ")
_RE_MULTISPACE = re.compile(r" +")


def _doubled_stream_arrow(joined: pd.Series):
    """' a  b ' doubled-space stream as an Arrow large_string array, or
    None when the batch cannot cross into Arrow (lone surrogates) or
    contains nulls (callers fillna upstream; the guard keeps the fallback
    honest). Literal (non-regex) substring kernels are byte-exact vs the
    pandas path for ANY unicode content — UTF-8 is self-synchronizing, so
    a codepoint-aligned literal can never match mid-character — which is
    why this fast path needs no ASCII gating."""
    if _pa is None or len(joined) == 0:
        return None
    try:
        arr = _pa.array(joined.to_numpy(dtype=object), type=_pa.large_string())
    except (_pa.ArrowInvalid, _pa.ArrowTypeError, UnicodeEncodeError):
        return None
    if arr.null_count:
        return None
    sp = _pa.scalar(" ", type=_pa.large_string())
    return _pc.binary_join_element_wise(
        sp,
        _pc.replace_substring(arr, pattern=" ", replacement="  "),
        sp,
        _pa.scalar("", type=_pa.large_string()),
    )


def rewrite_joined_batch(
    joined: pd.Series,
    expansions: dict[str, str] | None,
    fold_numbers: bool = False,
    count_matches: bool = False,
) -> tuple[pd.Series, pd.Series | None]:
    """Vectorized dictionary rewriter with multi-token PHRASE support.

    Keys containing spaces are phrases matched over the token stream — the
    analog of the reference's trie-based multi-token gazetteer search
    (``search_address_dictionaries_tokens``,
    /root/reference/src/address_dictionary.c:286-311; longest-match walk
    /root/reference/src/trie_search.c:240). Semantics: PATTERN-priority —
    each key, in deterministic priority order (phrase_priority_order),
    replaces all its non-overlapping occurrences left-to-right in one pass.

    Implementation is a chain of space-bounded string REPLACEs over the
    doubled-space form — one pandas ``.str.replace`` (a C loop) per
    dictionary PATTERN, zero per-row Python — which is byte-for-byte the
    computation the DuckDB oracle twin performs (__spark_entry__,
    _expanded_canon_sql). fold_numbers collapses whole numeric tokens to
    '0' after all expansions (the analog of the reference's digits→D
    normalization, /root/reference/src/normalize.c:393-506).

    Returns (rewritten, match_counts); match_counts (non-overlapping match
    count per row, summed over patterns on the evolving string — the
    ``expand_alternatives_tokens`` segment count) is None unless count_matches.
    """
    exp = expansions or {}
    ordered = phrase_priority_order(exp)
    a = _doubled_stream_arrow(joined) if ordered else None
    if a is not None:
        # Arrow fast path: the per-PATTERN literal count/replace chain runs
        # through pyarrow's C++ string kernels (one whole-column pass per
        # pattern) instead of pandas object-dtype loops. Semantics are
        # identical — count_substring / replace_substring are
        # non-overlapping left-to-right literal ops, exactly str.count /
        # str.replace (fuzz-pinned incl. unicode). The fold_numbers /
        # multispace tail stays on the pandas ``re`` path: Python's \\d
        # matches non-ASCII digits where RE2's does not, and those two
        # passes are not the hot loop.
        mv = np.zeros(len(joined), dtype=np.int64) if count_matches else None
        for k, v in ordered:
            pat, rep = _doubled(k), _doubled(v)
            if count_matches:
                mv += _pc.count_substring(a, pattern=pat).to_numpy(
                    zero_copy_only=False
                )
            a = _pc.replace_substring(a, pattern=pat, replacement=rep)
        s = pd.Series(
            a.to_numpy(zero_copy_only=False), index=joined.index, dtype=object
        )
        m = (
            pd.Series(mv, index=joined.index, dtype="int64")
            if count_matches
            else None
        )
    else:
        s = " " + joined.str.replace(" ", "  ", regex=False) + " "
        m = (
            pd.Series(0, index=joined.index, dtype="int64")
            if count_matches
            else None
        )
        for k, v in ordered:
            pat, rep = _doubled(k), _doubled(v)
            if count_matches:
                m = m + s.str.count(re.escape(pat))
            s = s.str.replace(pat, rep, regex=False)
    if fold_numbers:
        s = s.str.replace(_RE_NUMBER_TOKEN, " 0 ", regex=True)
    s = s.str.replace(_RE_MULTISPACE, " ", regex=True).str.strip()
    return s, m


def phrase_match_count_matrix(
    joined: pd.Series, ordered: list[tuple[str, str]]
) -> "np.ndarray":
    """Per-PATTERN non-overlapping match counts over the evolving doubled
    stream, as one (n_rows × n_patterns) int64 matrix — the classed-gazetteer
    analog of ``search_address_dictionaries_tokens`` returning one phrase hit
    per dictionary entry (/root/reference/src/address_dictionary.c:286-311:
    the phrase array carries each match's dictionary ids). The gazetteer UDF
    consumes this directly.

    ``ordered`` is the ALREADY priority-ordered (pattern, replacement) list
    (``phrase_priority_order`` output): each pattern counts its matches on
    the string as rewritten by every earlier pattern, then applies its own
    replacement — identical evolving-sequence semantics to
    ``rewrite_joined_batch`` and to the chained-CTE SQL twin. Column j
    counts ``ordered[j]``.

    Arrow fast path: each pattern's count/replace is one pyarrow C++
    whole-column kernel call (literal, non-overlapping — byte-exact vs the
    pandas path for any unicode content); rows that cannot cross into
    Arrow fall back to the original pandas loop. A null row counts as ''
    (zero matches) on both paths.
    """
    joined = joined.fillna("")
    a = _doubled_stream_arrow(joined)
    out = np.empty((len(joined), len(ordered)), dtype=np.int64)
    if a is not None:
        for j, (k, v) in enumerate(ordered):
            pat, rep = _doubled(k), _doubled(v)
            if len(pat) != len(rep):
                # count from the length delta of the replace we perform
                # anyway (exact: non-overlapping replaces shift length by
                # n*(Δlen) — the same length-diff identity the SQL twin
                # uses), skipping a whole substring-search pass
                before = _pc.utf8_length(a).to_numpy(zero_copy_only=False)
                a = _pc.replace_substring(a, pattern=pat, replacement=rep)
                after = _pc.utf8_length(a).to_numpy(zero_copy_only=False)
                out[:, j] = (before - after) // (len(pat) - len(rep))
            else:
                out[:, j] = _pc.count_substring(a, pattern=pat).to_numpy(
                    zero_copy_only=False
                )
                a = _pc.replace_substring(a, pattern=pat, replacement=rep)
        return out
    s = " " + joined.str.replace(" ", "  ", regex=False) + " "
    for j, (k, v) in enumerate(ordered):
        pat, rep = _doubled(k), _doubled(v)
        if len(pat) != len(rep):
            before = s.str.len()
            s = s.str.replace(pat, rep, regex=False)
            out[:, j] = (
                (before - s.str.len()) // (len(pat) - len(rep))
            ).to_numpy()
        else:
            out[:, j] = s.str.count(re.escape(pat)).to_numpy()
            s = s.str.replace(pat, rep, regex=False)
    return out


def phrase_priority_order(exp: dict[str, str]) -> list[tuple[str, str]]:
    """Deterministic application order shared by the pandas rewriter and the
    SQL twin: multi-token phrases first (longest token count first, then
    lexicographic), then single tokens (lexicographic)."""
    return sorted(exp.items(), key=lambda kv: (-len(kv[0].split(" ")), kv[0]))


class _Segment:
    __slots__ = ("orig", "alts")

    def __init__(self, orig: list[str], alts: list[list[str]]):
        self.orig = orig      # original token run
        self.alts = alts      # replacement alternatives (each a token list)


def expand_alternatives_tokens(
    toks: list[str],
    expansions: dict[str, str] | None,
    max_expansions: int = 64,
) -> tuple[list[str], int]:
    """Full ``expand_address``-style alternation over canonical tokens:
    every dictionary match contributes {replacement(s), original}
    alternatives and the result is the capped cross product of canonical
    forms. Callers canonicalize once with ``canonicalize_batch`` and split
    each row on " ".

    Reference analog: the alternatives tree + cartesian expansion of
    ``expand_address`` (/root/reference/src/expand.c:724-1424,1452-1536),
    with the permutation cap mirroring EXCESSIVE_PERMUTATIONS
    (/root/reference/src/expand.c:29). Dictionary values may carry multiple
    alternatives separated by '|' (the "st" → street|saint ambiguity class).

    Matching uses the same pattern-priority pass order as
    ``make_token_rewriter`` / the SQL twin (phrases longest-first then
    lexicographic, singles after), so forms[0] — every segment replaced by
    its first alternative — IS the root canonical form, and the all-original
    form (the "full" expansion input) is always included: the combined
    full+root union of the reference's two entry points.

    Returns (forms, n_matches). Forms are emitted in binary counting order
    over segments (replacement-first), truncated at max_expansions but
    always retaining the all-original form as the last element.
    """
    seq: list = list(toks)
    exp = expansions or {}
    for k, v in phrase_priority_order(exp):
        parts = k.split(" ")
        m = len(parts)
        alts = [a.split(" ") for a in v.split("|")]
        out: list = []
        i, n = 0, len(seq)
        while i < n:
            window = seq[i : i + m]
            if (
                i + m <= n
                and all(isinstance(x, str) for x in window)
                and window == parts
            ):
                out.append(_Segment(parts, alts))
                i += m
            else:
                out.append(seq[i])
                i += 1
        seq = out

    segments = [x for x in seq if isinstance(x, _Segment)]
    n_matches = len(segments)

    def render(choices: dict[int, int]) -> str:
        parts: list[str] = []
        si = 0
        for x in seq:
            if isinstance(x, _Segment):
                c = choices.get(si, 0)
                parts.extend(x.alts[c] if c < len(x.alts) else x.orig)
                si += 1
            else:
                parts.append(x)
        return " ".join(parts)

    import itertools

    forms: list[str] = []
    option_counts = [len(s.alts) + 1 for s in segments]   # alts + original
    for combo in itertools.product(*(range(c) for c in option_counts)):
        forms.append(render(dict(enumerate(combo))))
        if len(forms) >= max_expansions:
            break
    full = render({i: len(s.alts) for i, s in enumerate(segments)})
    if full not in forms:
        forms[-1:] = [full]                 # cap hit: keep full+root union
    return forms, n_matches
