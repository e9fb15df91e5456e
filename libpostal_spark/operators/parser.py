"""Address parser — the reference's headline subsystem, Spark-first.

The reference parses free-text addresses into labeled components with a
greedy averaged-perceptron sequence tagger:
/root/reference/src/address_parser.c:1-1855 (the tagger + its
vocab/phrase feature extraction), /root/reference/src/averaged_perceptron_tagger.c:16-68
(greedy left-to-right decode conditioned on the two previously PREDICTED
tags), /root/reference/src/address_parser_train.c (offline training over
labeled OSM addresses).  This module re-expresses that design for the
engine:

* the model kernel is `core/perceptron.py` (integer-exact averaged
  weights — argmax-invariant to the 1/T scale, so scores are pure int64
  and bit-reproducible anywhere, including a pure-SQL replay);
* training is OFFLINE and deterministic (the reference trains offline
  too): a fixed synthetic grid over the same lexicons the table-derived
  addresses draw from — no randomness, no table dependency, so the
  weights are identical at every scale factor;
* PREDICTION is the distributed part: one Arrow-batched pandas UDF over
  the address column with the (tiny, few-KB) weight table shipped in the
  UDF closure — zero shuffle, linear scan, scales to any corpus size;
* feature templates follow the reference tagger's families (word,
  shape/digit-normalization, position, neighbor words, prev-tag,
  prev2-tag, prev-tag×word conjunction — address_parser.c's
  `word`/`prev tag`/`prev tag + word` features) and are deliberately
  STRING-CONCAT simple so a DuckDB twin can replay the full greedy
  decode (unrolled per token position) with the weights as VALUES.

Addresses are synthesized deterministically from the TPC-H-ish tables
(customer ⋈ nation ⋈ region, both joins broadcast) in five dialects so
that digit tokens are genuinely ambiguous — house number, unit, and
postcode are only separable from tag history and neighbor context,
which is exactly what the reference's history features exist for:

  dialect 0 (US):  "{hn} {road} {kind} {city} {postcode} {country}"
  dialect 1 (EU):  "{road} {kind} {hn} {city} {country}"
  dialect 2:       "{hn} {road} {kind} apt {unit} {city} {postcode} {country}"
  dialect 3:       "{hn} {road} {kind} {city} {state} {postcode} {country}"
  dialect 4:       "po box {bn} {city} {postcode} {country}"

(country = lower(r_name), state = lower(n_name) — table values, not a
lexicon; "middle east" is two tokens, both tagged country — multi-token
labels as in the reference's span labels, likewise the three-token
po_box.)
"""

from __future__ import annotations

import functools
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libpostal_spark.core import crf
from libpostal_spark.core.perceptron import PerceptronModel, decode, fit

# tag ids are list positions; ties in the argmax break toward the
# smallest id (see core/perceptron.py) — keep this order stable.
TAGS = [
    "house_number", "road", "unit", "city", "postcode", "country",
    "state", "po_box",
]
N_DIALECTS = 5

CITIES = [
    "springfield", "fairview", "riverton", "kingsport", "maplewood",
    "brookfield", "lakeside", "hillcrest", "ashford", "granville",
    "westbrook", "eastvale", "northgate", "southport", "clearwater",
    "stonebridge", "oakdale", "elmhurst", "pinecrest", "cedarville",
    "birchwood", "willowbrook", "fernwood", "hazelton", "ivydale",
]
ROADS = [
    "oak", "maple", "elm", "cedar", "pine", "birch",
    "willow", "aspen", "chestnut", "sycamore", "poplar", "walnut",
]
ROAD_KINDS = ["road", "street", "avenue", "lane"]
COUNTRIES = ["africa", "america", "asia", "europe", "middle east"]

BOS = "<s>"
EOS = "</s>"
FIT_ITERS = 10

# the address-dictionary road-kind layer (full forms + the gazetteer's
# abbreviated variants) — membership, not identity, is the feature, so
# "st" seen in training generalizes to "street" and vice versa (the
# reference's dictionary phrase features, address_parser.c:1020-1023
# "phrase type+phrase" over src/address_dictionary.c entries)
ROAD_KIND_ABBREV = {"road": "rd", "street": "st", "avenue": "ave",
                    "lane": "ln"}
_ROAD_KIND_DICT = frozenset(ROAD_KINDS) | frozenset(ROAD_KIND_ABBREV.values())
_CITY_DICT = frozenset(CITIES)


def _norm(tok: str) -> str:
    # digit normalization: number IDENTITY never carries signal, but the
    # LENGTH SHAPE does — the reference replaces each digit with 'D'
    # preserving length ("10013 => DDDDD", src/normalize.h:66-67, applied
    # via NORMALIZE_TOKEN_REPLACE_DIGITS, src/address_parser.h:66), which
    # is what separates 5-digit postcodes from 1-4 digit house numbers
    # (round 7: was a lossy single <num> sentinel)
    return "D" * len(tok) if tok.isdigit() else tok


def _dict_class(tok: str) -> str:
    # dictionary membership class (the reference's address-dictionary /
    # geodb phrase features: "phrase type+phrase" address_parser.c:1020,
    # "commonly city" :1243); unknown words get the explicit 'none' class
    if tok in _ROAD_KIND_DICT:
        return "road_kind"
    if tok in _CITY_DICT:
        return "city"
    return "none"


def obs_features(tokens, i: int) -> list[str]:
    """OBSERVATION feature templates (shared by both model types) —
    every value is a plain string concat of token text so the SQL twins
    can rebuild them verbatim.  Families follow the reference tagger's:
    word / shape / position / neighbor words (address_parser.c:1443,
    1496, 1524), dictionary membership (:1020-1023, :1243), and 3-char
    prefix/suffix (the rare-word character n-gram features, :1425-1433
    add_ngram_features 3..6 — the repo keeps the single 3-gram, which is
    what survives a Damerau-distance-1 city typo)."""
    n = len(tokens)
    w = _norm(tokens[i])
    return [
        "w=" + w,
        "shape=" + ("num" if tokens[i].isdigit() else "alpha"),
        "i=0" if i == 0 else ("i=last" if i == n - 1 else "i=mid"),
        "prevw=" + (_norm(tokens[i - 1]) if i > 0 else BOS),
        "nextw=" + (_norm(tokens[i + 1]) if i < n - 1 else EOS),
        "dict=" + _dict_class(tokens[i]),
        "pre3=" + w[:3],
        "suf3=" + w[-3:],
    ]


def address_features(
    tokens, i: int, prev: str | None, prev2: str | None
) -> list[str]:
    """Greedy-model features: observations + predicted-tag history
    (the reference tagger's word / prev-tag / prev-tag×word families)."""
    return obs_features(tokens, i) + [
        "p1=" + (prev or BOS),
        "p2=" + (prev2 or BOS),
        "p1w=" + (prev or BOS) + "|" + _norm(tokens[i]),
    ]


def render_address(
    dialect: int, hn: int, road: str, kind: str, unit: int, city: str,
    pc: int, country: str, state: str = "",
) -> tuple[list[str], list[str]]:
    """(tokens, gold tags) for one address in the given dialect."""
    ctoks = country.split(" ")
    ctags = ["country"] * len(ctoks)
    if dialect == 0:
        return (
            [str(hn), road, kind, city, str(pc)] + ctoks,
            ["house_number", "road", "road", "city", "postcode"] + ctags,
        )
    if dialect == 1:
        return (
            [road, kind, str(hn), city] + ctoks,
            ["road", "road", "house_number", "city"] + ctags,
        )
    if dialect == 2:
        return (
            [str(hn), road, kind, "apt", str(unit), city, str(pc)] + ctoks,
            ["house_number", "road", "road", "unit", "unit", "city",
             "postcode"] + ctags,
        )
    if dialect == 3:
        return (
            [str(hn), road, kind, city, state, str(pc)] + ctoks,
            ["house_number", "road", "road", "city", "state", "postcode"]
            + ctags,
        )
    return (
        ["po", "box", str(unit), city, str(pc)] + ctoks,
        ["po_box", "po_box", "po_box", "city", "postcode"] + ctags,
    )


def training_examples() -> list[tuple[list[str], list[str]]]:
    """Fixed grid: every dialect × city × road (1500 sequences), with
    kind/country/numbers cycled so every lexicon value appears in every
    dialect.  Pure function — no randomness, no table reads."""
    out = []
    for d in range(N_DIALECTS):
        for ci, city in enumerate(CITIES):
            for ri, road in enumerate(ROADS):
                k = ci * len(ROADS) + ri
                out.append(render_address(
                    d,
                    (k * 37 + d) % 9999 + 1,
                    road,
                    ROAD_KINDS[(ci + 2 * ri) % len(ROAD_KINDS)],
                    (k * 11 + d) % 97 + 1,
                    city,
                    (k * 7919 + d) % 90000 + 10000,
                    COUNTRIES[(ci + ri) % len(COUNTRIES)],
                    # the table's state values are lower(n_name) =
                    # nation_<k>; cycle all 25 through the grid
                    state=f"nation_{k % 25}",
                ))
    return out


@functools.lru_cache(maxsize=1)
def get_address_model() -> PerceptronModel:
    """Train once per process (deterministic ⇒ identical everywhere;
    converges to 0 training errors — pytest-asserted)."""
    return fit(training_examples(), TAGS, address_features, iters=FIT_ITERS)


@functools.lru_cache(maxsize=1)
def get_address_crf() -> "crf.CRFModel":
    """The CRF variant (reference model type 2, src/crf.c): observation
    features only + a learned dense transition matrix, Viterbi-decoded.
    Same grid, same determinism, 0 training errors (pytest-asserted)."""
    return crf.fit(training_examples(), TAGS, obs_features, iters=FIT_ITERS)


# --------------------------------------------------------- Spark side

def synth_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic address corpus from customer ⋈ nation ⋈ region.

    All arithmetic is integer (`%`, `div`) and mirrored verbatim in the
    SQL twin; construction is pure JVM (broadcast joins + concat_ws +
    literal-array element_at) — the pandas UDF sees only the final
    address string.  Gold tags derive from the dialect pattern, with the
    per-country token count handled by regexp_replace(country,
    '[^ ]+' -> 'country').
    """
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("custkey"),
        F.col("c_nationkey").cast("long").alias("nk"),
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("nk"),
        F.col("n_regionkey").cast("long").alias("rk"),
        F.lower(F.col("n_name")).alias("state"),
    )
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        F.col("r_regionkey").cast("long").alias("rk"),
        F.lower(F.col("r_name")).alias("country"),
    )
    df = (
        cust.join(F.broadcast(nat), "nk")
        .join(F.broadcast(reg), "rk")
    )

    def arr(vals):
        return F.array(*[F.lit(v) for v in vals])

    k = F.col("custkey")
    d = F.pmod(k, F.lit(N_DIALECTS))
    hn = (F.pmod(k, F.lit(9999)) + 1).cast("string")
    unit = (F.pmod(k, F.lit(97)) + 1).cast("string")
    pc = (F.pmod(k * 7919, F.lit(90000)) + 10000).cast("string")
    city = F.element_at(arr(CITIES), (F.pmod(F.col("nk"), F.lit(len(CITIES))) + 1).cast("int"))
    road = F.element_at(arr(ROADS), (F.pmod(F.expr("custkey div 3"), F.lit(len(ROADS))) + 1).cast("int"))
    kind = F.element_at(arr(ROAD_KINDS), (F.pmod(F.expr("custkey div 7"), F.lit(len(ROAD_KINDS))) + 1).cast("int"))
    country = F.col("country")
    state = F.col("state")
    ctags = F.regexp_replace(country, "[^ ]+", "country")

    address = (
        F.when(d == 0, F.concat_ws(" ", hn, road, kind, city, pc, country))
        .when(d == 1, F.concat_ws(" ", road, kind, hn, city, country))
        .when(d == 2, F.concat_ws(
            " ", hn, road, kind, F.lit("apt"), unit, city, pc, country))
        .when(d == 3, F.concat_ws(
            " ", hn, road, kind, city, state, pc, country))
        .otherwise(F.concat_ws(
            " ", F.lit("po box"), unit, city, pc, country))
    )
    tags_gold = (
        F.when(d == 0, F.concat(
            F.lit("house_number road road city postcode "), ctags))
        .when(d == 1, F.concat(
            F.lit("road road house_number city "), ctags))
        .when(d == 2, F.concat(
            F.lit("house_number road road unit unit city postcode "), ctags))
        .when(d == 3, F.concat(
            F.lit("house_number road road city state postcode "), ctags))
        .otherwise(F.concat(
            F.lit("po_box po_box po_box city postcode "), ctags))
    )
    return df.select(
        "custkey",
        address.alias("address"),
        tags_gold.alias("tags_gold"),
    )


def parse_addresses(df: DataFrame, address_col: str = "address") -> DataFrame:
    """Distributed prediction: one scalar pandas UDF, model weights in
    the closure (few KB — int64 rows for ~230 features).  No shuffle;
    at 100 TB this is a single linear Arrow-batched pass."""
    model = get_address_model()
    weights, tags = model.weights, model.tags

    @F.pandas_udf("string")
    def _parse(addrs: pd.Series) -> pd.Series:
        # NULL/empty rows yield NULL tags, not a task crash — the CLI
        # feeds arbitrary user columns here
        return addrs.map(lambda a: " ".join(
            decode(a.split(" "), weights, tags, address_features)
        ) if isinstance(a, str) and a else None)

    return df.withColumn("tags_pred", _parse(F.col(address_col)))


def parse_addresses_crf(
    df: DataFrame, address_col: str = "address"
) -> DataFrame:
    """CRF prediction: same distributed shape (one Arrow-batched pass,
    model in the closure), Viterbi decode per row."""
    model = get_address_crf()

    @F.pandas_udf("string")
    def _parse(addrs: pd.Series) -> pd.Series:
        return addrs.map(lambda a: " ".join(
            crf.decode(a.split(" "), model, obs_features)
        ) if isinstance(a, str) and a else None)

    return df.withColumn("tags_pred", _parse(F.col(address_col)))


# ----------------------------------------------------------- SQL twin

def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _arr(vals: list[str]) -> str:
    return "[" + ",".join(_q(v) for v in vals) + "]"


# max tokens: dialect 2 with the two-token country = 9
_MAX_TOKENS = 9
_ISNUM = "regexp_matches({0}, '^[0-9]+$')"


def _scaffold_sql(w_vals: str) -> str:
    """Shared WITH-prefix for both model twins: address synthesis
    (mirrors synth_addresses' integer arithmetic verbatim), tokenize,
    per-position observation context, observation-feature strings, the
    weight VALUES, the tag enumeration, and the summed per-(id, i, tid)
    state scores."""
    tg_vals = ",".join(f"({i},{_q(t)})" for i, t in enumerate(TAGS))
    return f"""
        cust AS (
          SELECT CAST(c.c_custkey AS BIGINT) AS id,
                 CAST(c.c_nationkey AS BIGINT) AS nk,
                 lower(n.n_name) AS state,
                 lower(r.r_name) AS country
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        parts AS (
          SELECT id, id % {N_DIALECTS} AS d,
                 CAST(id % 9999 + 1 AS VARCHAR) AS hn,
                 CAST(id % 97 + 1 AS VARCHAR) AS un,
                 CAST((id * 7919) % 90000 + 10000 AS VARCHAR) AS pc,
                 ({_arr(CITIES)})[CAST(nk % {len(CITIES)} AS INT) + 1] AS city,
                 ({_arr(ROADS)})[CAST((id // 3) % {len(ROADS)} AS INT) + 1] AS ra,
                 ({_arr(ROAD_KINDS)})[CAST((id // 7) % {len(ROAD_KINDS)} AS INT) + 1] AS rb,
                 state, country
          FROM cust
        ),
        addr AS (
          SELECT id,
            CASE d
              WHEN 0 THEN hn || ' ' || ra || ' ' || rb || ' ' || city
                       || ' ' || pc || ' ' || country
              WHEN 1 THEN ra || ' ' || rb || ' ' || hn || ' ' || city
                       || ' ' || country
              WHEN 2 THEN hn || ' ' || ra || ' ' || rb || ' apt ' || un
                       || ' ' || city || ' ' || pc || ' ' || country
              WHEN 3 THEN hn || ' ' || ra || ' ' || rb || ' ' || city
                       || ' ' || state || ' ' || pc || ' ' || country
              ELSE 'po box ' || un || ' ' || city || ' ' || pc
                       || ' ' || country
            END AS address,
            CASE d
              WHEN 0 THEN 'house_number road road city postcode '
                       || regexp_replace(country, '[^ ]+', 'country', 'g')
              WHEN 1 THEN 'road road house_number city '
                       || regexp_replace(country, '[^ ]+', 'country', 'g')
              WHEN 2 THEN 'house_number road road unit unit city postcode '
                       || regexp_replace(country, '[^ ]+', 'country', 'g')
              WHEN 3 THEN 'house_number road road city state postcode '
                       || regexp_replace(country, '[^ ]+', 'country', 'g')
              ELSE 'po_box po_box po_box city postcode '
                       || regexp_replace(country, '[^ ]+', 'country', 'g')
            END AS tags_gold
          FROM parts
        ),
        tk AS (
          SELECT id, address, tags_gold,
                 string_split(address, ' ') AS ts,
                 len(string_split(address, ' ')) AS n
          FROM addr
        ),
        pos AS (
          SELECT id, unnest(generate_series(1, n)) AS i FROM tk
        ),
        ctx AS (
          SELECT p.id, p.i, t.n, t.ts[p.i] AS rw,
            CASE WHEN {_ISNUM.format('t.ts[p.i]')}
                 THEN repeat('D', length(t.ts[p.i]))
                 ELSE t.ts[p.i] END AS nw,
            CASE WHEN {_ISNUM.format('t.ts[p.i]')} THEN 'num'
                 ELSE 'alpha' END AS sh,
            CASE WHEN p.i = 1 THEN '{BOS}'
                 WHEN {_ISNUM.format('t.ts[p.i - 1]')}
                 THEN repeat('D', length(t.ts[p.i - 1]))
                 ELSE t.ts[p.i - 1] END AS pw,
            CASE WHEN p.i = t.n THEN '{EOS}'
                 WHEN {_ISNUM.format('t.ts[p.i + 1]')}
                 THEN repeat('D', length(t.ts[p.i + 1]))
                 ELSE t.ts[p.i + 1] END AS nx
          FROM pos p JOIN tk t USING (id)
        ),
        feats AS (
          SELECT id, i, unnest([
            'w=' || nw, 'shape=' || sh,
            CASE WHEN i = 1 THEN 'i=0'
                 WHEN i = n THEN 'i=last' ELSE 'i=mid' END,
            'prevw=' || pw, 'nextw=' || nx,
            'dict=' || CASE
              WHEN rw IN ({",".join(_q(v) for v in sorted(_ROAD_KIND_DICT))})
                THEN 'road_kind'
              WHEN rw IN ({",".join(_q(v) for v in sorted(_CITY_DICT))})
                THEN 'city'
              ELSE 'none' END,
            'pre3=' || substr(nw, 1, 3),
            'suf3=' || right(nw, 3)]) AS f
          FROM ctx
        ),
        wt(f, tid, w) AS (VALUES {w_vals}),
        tg(tid, tname) AS (VALUES {tg_vals}),
        sfs AS (
          SELECT fe.id, fe.i, wt.tid, SUM(wt.w) AS s
          FROM feats fe JOIN wt ON wt.f = fe.f
          GROUP BY fe.id, fe.i, wt.tid
        )"""


def twin_sql() -> str:
    """DuckDB replay of the FULL pipeline: identical address synthesis,
    identical feature strings, and the greedy decode unrolled one CTE
    per token position (history features joined against the same
    weights VALUES; argmax via QUALIFY row_number with the (score DESC,
    tid ASC) tie-break matching np.argmax's first-max rule)."""
    m = get_address_model()
    w_vals = ",\n".join(
        f"({_q(f)},{tid},{w})" for f, tid, w in m.export_rows()
    )
    steps = []
    for i in range(1, _MAX_TOKENS + 1):
        steps.append(f"""
        step{i} AS (
          SELECT s.id, s.n, tg.tname AS p1, s.p1 AS p2,
                 CASE WHEN s.acc = '' THEN tg.tname
                      ELSE s.acc || ' ' || tg.tname END AS acc
          FROM step{i - 1} s
          JOIN ctx cx ON cx.id = s.id AND cx.i = {i}
          CROSS JOIN tg
          LEFT JOIN sfs sf ON sf.id = s.id AND sf.i = {i} AND sf.tid = tg.tid
          LEFT JOIN wt h1 ON h1.f = 'p1=' || s.p1 AND h1.tid = tg.tid
          LEFT JOIN wt h2 ON h2.f = 'p2=' || s.p2 AND h2.tid = tg.tid
          LEFT JOIN wt h3 ON h3.f = 'p1w=' || s.p1 || '|' || cx.nw
                         AND h3.tid = tg.tid
          WHERE s.n >= {i}
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY s.id
            ORDER BY COALESCE(sf.s, 0) + COALESCE(h1.w, 0)
                   + COALESCE(h2.w, 0) + COALESCE(h3.w, 0) DESC,
                     tg.tid ASC) = 1
        )""")
    finals = "\n          UNION ALL ".join(
        f"SELECT id, acc FROM step{i} WHERE n = {i}"
        for i in range(1, _MAX_TOKENS + 1)
    )
    return f"""
        WITH {_scaffold_sql(w_vals)},
        step0 AS (
          SELECT id, n, '{BOS}' AS p1, '{BOS}' AS p2, '' AS acc FROM tk
        ),{",".join(steps)},
        fin AS (
          {finals}
        )
        SELECT a.id AS custkey, a.address, f.acc AS tags_pred, a.tags_gold,
               f.acc = a.tags_gold AS is_correct
        FROM addr a JOIN fin f ON f.id = a.id
        ORDER BY custkey
    """


def crf_twin_sql() -> str:
    """DuckDB replay of the CRF variant: the Viterbi recurrence unrolled
    one CTE per token position.  Each v{{k}} holds, per (id, tag j), the
    best-scoring length-k path ENDING in j (score + the path string —
    carrying per-state best paths is exactly the backpointer matrix);
    the best-previous argmax and the final argmax both use the (score
    DESC, tid ASC) ordering = the reference's strict `<` first-max
    loops (crf_context.c:567-660) = np.argmax."""
    m = get_address_crf()
    w_vals = ",\n".join(
        f"({_q(f)},{tid},{w})" for f, tid, w in m.export_state_rows()
    )
    tr_vals = ",".join(
        f"({i},{j},{w})" for i, j, w in m.export_trans_rows()
    ) or "(0,0,0)"
    steps = []
    for i in range(2, _MAX_TOKENS + 1):
        steps.append(f"""
        v{i} AS (
          SELECT p.id, p.n, tg.tid, tg.tname,
                 p.score + COALESCE(tr.w, 0) + COALESCE(sf.s, 0) AS score,
                 p.path || ' ' || tg.tname AS path
          FROM v{i - 1} p
          CROSS JOIN tg
          LEFT JOIN tr ON tr.i = p.tid AND tr.j = tg.tid
          LEFT JOIN sfs sf ON sf.id = p.id AND sf.i = {i} AND sf.tid = tg.tid
          WHERE p.n >= {i}
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY p.id, tg.tid
            ORDER BY p.score + COALESCE(tr.w, 0) DESC, p.tid ASC) = 1
        )""")
    finals = "\n          UNION ALL ".join(
        f"""SELECT id, path FROM v{i}
              WHERE n = {i}
              QUALIFY ROW_NUMBER() OVER (
                PARTITION BY id ORDER BY score DESC, tid ASC) = 1"""
        for i in range(1, _MAX_TOKENS + 1)
    )
    return f"""
        WITH {_scaffold_sql(w_vals)},
        tr(i, j, w) AS (VALUES {tr_vals}),
        v1 AS (
          SELECT t.id, t.n, tg.tid, tg.tname,
                 COALESCE(sf.s, 0) AS score,
                 tg.tname AS path
          FROM tk t
          CROSS JOIN tg
          LEFT JOIN sfs sf ON sf.id = t.id AND sf.i = 1 AND sf.tid = tg.tid
        ),{",".join(steps)},
        fin AS (
          {finals}
        )
        SELECT a.id AS custkey, a.address, f.path AS tags_pred, a.tags_gold,
               f.path = a.tags_gold AS is_correct
        FROM addr a JOIN fin f ON f.id = a.id
        ORDER BY custkey
    """
