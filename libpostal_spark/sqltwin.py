"""DuckDB SQL twins of the hashing core (oracle-replayable ``sha256`` mode).

Generates, as plain ANSI-ish SQL over HUGEINT mod-2^64 arithmetic, the exact
values the engine computes in ``core/hashing.py`` when
``PipelineConfig.hash_mode == "sha256"``:

  token hash   — first 8 bytes (big-endian) of sha256("{seed}:{token}")
  window hash  — splitmix64( Σ_{d<L} t[i+d]·Q^d  mod 2^64 )  — the engine's
                 invertible-multiplier rolling hash collapses to this
                 position-independent form because Q^{i+d}·P^i = Q^d
  shingles     — distinct width-k window hashes (whole-row hash when n < k,
                 splitmix64(0) for empty docs)
  minhash      — min over shingles of (a_i·s + b_i) mod 2^64, 128 perms
  simhash      — per-bit strict majority over the distinct shingle set
  band hashes  — per-band polynomial fold in P + band-index mix + splitmix64
  winnow       — distinct sliding minima (width ``select``) over width-W
                 window hashes; rows with fewer than W tokens emit nothing

Window sums of width 96 are built with a log-doubling ladder (widths
1,2,4,8,16,32,64, then 96 = 64 + Q^64·32), one ``lead()`` per stage —
mirroring the engine's prefix-sum trick without per-position powers.

Multiplication mod 2^64 is expressed with 32-bit splitting so no
intermediate exceeds HUGEINT range:
  (x·a) mod 2^64 = ((x mod 2^32)·a + (((x div 2^32)·a) mod 2^64)·2^32) mod 2^64
"""

from __future__ import annotations

from .config import SIMHASH_BITS, SIMHASH_TABLES, WINNOW_SELECT, WINNOW_WINDOW

M64 = 1 << 64
SIGN = 1 << 63
P = 0x9E3779B97F4A7C15
Q = pow(P, -1, M64)
BAND_MIX = 0xD6E8FEB86659FD93
SM_C1 = 0x9E3779B97F4A7C15
SM_C2 = 0xBF58476D1CE4E5B9
SM_C3 = 0x94D049BB133111EB


def _mm(x: str, a: str | int) -> str:
    """(x * a) mod 2^64 over HUGEINT operands (32-bit split, overflow-free)."""
    return (
        f"((({x}) % 4294967296 * ({a}) + "
        f"((({x}) // 4294967296 * ({a})) % {M64}) * 4294967296) % {M64})"
    )


def _signed(x: str) -> str:
    return f"(CASE WHEN ({x}) >= {SIGN} THEN ({x}) - {M64} ELSE ({x}) END)::BIGINT"


def _splitmix_ctes(name: str, src: str, col: str, keep: str) -> tuple[str, str]:
    """CTE chain applying splitmix64 to ``col`` of ``src``; returns
    (cte_sql_fragment, final_cte_name). ``keep`` = extra columns carried."""
    k = f"{keep}, " if keep else ""
    c = [
        f"{name}_a AS (SELECT {k}(({col}) + {SM_C1}) % {M64} AS x FROM {src})",
        f"{name}_b AS (SELECT {k}xor(x, x // {1 << 30}) AS x FROM {name}_a)",
        f"{name}_c AS (SELECT {k}{_mm('x', SM_C2)} AS x FROM {name}_b)",
        f"{name}_d AS (SELECT {k}xor(x, x // {1 << 27}) AS x FROM {name}_c)",
        f"{name}_e AS (SELECT {k}{_mm('x', SM_C3)} AS x FROM {name}_d)",
        f"{name}_f AS (SELECT {k}xor(x, x // {1 << 31}) AS x FROM {name}_e)",
    ]
    return ",\n".join(c), f"{name}_f"


def splitmix64_py(x: int) -> int:
    x = (x + SM_C1) % M64
    x ^= x >> 30
    x = (x * SM_C2) % M64
    x ^= x >> 27
    x = (x * SM_C3) % M64
    x ^= x >> 31
    return x


def _ladder(k_shingle: int, winnow_window: int) -> str:
    """Window-sum doubling ladder CTEs: w{k_shingle} and w{winnow_window}
    columns over (doc_id, pos). Assumes k_shingle == 5, winnow_window == 96
    (the ladder is generated for exactly these widths)."""
    assert k_shingle == 5 and winnow_window == 96, "ladder generated for 5/96"

    def q(d: int) -> int:
        return pow(Q, d, M64)

    def step(width: int, half: str, shift_col: str, shift: int) -> str:
        lead = f"coalesce(lead({shift_col}, {shift}) OVER w, 0)"
        return f"(({half}) + {_mm(lead, q(shift))}) % {M64} AS w{width}"

    return f"""
l1 AS (SELECT doc_id, pos, h AS w1,
              count(*) OVER (PARTITION BY doc_id) AS n
       FROM th),
l2 AS (SELECT doc_id, pos, n, w1, {step(2, 'w1', 'w1', 1)}
       FROM l1 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
l4 AS (SELECT doc_id, pos, n, w1, {step(4, 'w2', 'w2', 2)}
       FROM l2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
l5 AS (SELECT doc_id, pos, n, w4, {step(5, 'w4', 'w1', 4)}
       FROM l4 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
l8 AS (SELECT doc_id, pos, n, w5, {step(8, 'w4', 'w4', 4)}
       FROM l5 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
l16 AS (SELECT doc_id, pos, n, w5, {step(16, 'w8', 'w8', 8)}
        FROM l8 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
l32 AS (SELECT doc_id, pos, n, w5, {step(32, 'w16', 'w16', 16)}
        FROM l16 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
l64 AS (SELECT doc_id, pos, n, w5, w32, {step(64, 'w32', 'w32', 32)}
        FROM l32 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
l96 AS (SELECT doc_id, pos, n, w5, {step(96, 'w64', 'w32', 64)}
        FROM l64 WINDOW w AS (PARTITION BY doc_id ORDER BY pos))"""


def _shared_prefix(canon_expr: str, cfg) -> str:
    """CTEs from documents to the distinct shingle set ``sh(doc_id, x)``."""
    k = cfg.k_shingle
    sm0 = splitmix64_py(0)
    sm_ctes, sm_final = _splitmix_ctes("ssm", "vkg", "raw", "doc_id")
    return f"""
c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {canon_expr} AS canon
      FROM documents),
lists AS (SELECT doc_id, string_split(canon, ' ') AS l FROM c
          WHERE canon <> ''),
tok AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos, l
        FROM lists),
th AS (SELECT doc_id, pos,
              ('0x' || substr(sha256('{cfg.seed}:' || l[pos]), 1, 16))
                ::UBIGINT::HUGEINT AS h
       FROM tok),
{_ladder(k, WINNOW_WINDOW)},
vkg AS (SELECT doc_id, w{k} AS raw FROM l96
        WHERE (n >= {k} AND pos <= n - {k} + 1) OR (n < {k} AND pos = 1)),
{sm_ctes},
sh AS (SELECT DISTINCT doc_id, x FROM {sm_final}
       UNION ALL
       SELECT doc_id, {sm0} AS x FROM c WHERE canon = '')"""


def _perm_values(cfg) -> str:
    from .core.hashing import _perm_params

    a, b = _perm_params(cfg.num_perm, cfg.seed)
    rows = ", ".join(
        f"({i}, {int(a[i])}::HUGEINT, {int(b[i])}::HUGEINT)"
        for i in range(cfg.num_perm)
    )
    return f"(VALUES {rows}) AS perms(i, a, b)"


def minhash_long_sql(canon_expr: str, cfg) -> str:
    """(doc_id, perm_i, mh): every MinHash signature value, value-exact."""
    return f"""
WITH {_shared_prefix(canon_expr, cfg)},
mh AS (SELECT doc_id, i,
              min(({_mm('x', 'a')} + b) % {M64}) AS v
       FROM sh CROSS JOIN {_perm_values(cfg)}
       GROUP BY doc_id, i)
SELECT doc_id, CAST(i AS INT) AS perm_i, {_signed('v')} AS mh
FROM mh
"""


def _feature_ctes(canon_expr: str, cfg) -> tuple[str, str]:
    """All shared CTEs from documents to the per-doc feature tables.

    Returns (cte_text, band_final) where the text defines:
      sh(doc_id, x)       — distinct shingle hashes (unsigned)
      mh(doc_id, i, v)    — minhash values per permutation (unsigned)
      sim(doc_id, v)      — simhash (unsigned)
      {band_final}(doc_id, band, x) — band hashes (unsigned)
      wv(doc_id, mn)      — distinct winnow fingerprints (unsigned)
      ntok / nsh          — token / shingle counts
    """
    W, sel = WINNOW_WINDOW, WINNOW_SELECT
    pw_rows = ", ".join(f"({j}, {1 << j}::HUGEINT)" for j in range(64))
    wsm_ctes, wsm_final = _splitmix_ctes("wsm", "vwg", "raw", "doc_id, pos, c")
    bsm_ctes, bsm_final = _splitmix_ctes("bsm", "bmix", "hh", "doc_id, band")
    r = cfg.rows_per_band
    assert r == 4, "band fold generated for rows_per_band == 4"
    text = f"""{_shared_prefix(canon_expr, cfg)},
ntok AS (SELECT doc_id,
                CASE WHEN canon = '' THEN 0
                     ELSE len(string_split(canon, ' ')) END AS n_tokens
         FROM c),
nsh AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
pw AS (SELECT * FROM (VALUES {pw_rows}) AS t(j, p)),
bits AS (SELECT sh.doc_id, pw.p,
                sum((sh.x // pw.p) % 2) AS ones, count(*) AS cnt
         FROM sh, pw GROUP BY sh.doc_id, pw.p),
sim AS (SELECT doc_id,
               sum(CASE WHEN 2 * ones > cnt THEN p ELSE 0 END) AS v
        FROM bits GROUP BY doc_id),
mh AS (SELECT doc_id, i,
              min(({_mm('x', 'a')} + b) % {M64}) AS v
       FROM sh CROSS JOIN {_perm_values(cfg)}
       GROUP BY doc_id, i),
bg AS (SELECT doc_id, i // {r} AS band,
              max(CASE WHEN i % {r} = 0 THEN v END) AS v0,
              max(CASE WHEN i % {r} = 1 THEN v END) AS v1,
              max(CASE WHEN i % {r} = 2 THEN v END) AS v2,
              max(CASE WHEN i % {r} = 3 THEN v END) AS v3
       FROM mh GROUP BY doc_id, i // {r}),
bf1 AS (SELECT doc_id, band, ({_mm('v0', P)} + v1) % {M64} AS hh, v2, v3
        FROM bg),
bf2 AS (SELECT doc_id, band, ({_mm('hh', P)} + v2) % {M64} AS hh, v3
        FROM bf1),
bf3 AS (SELECT doc_id, band, ({_mm('hh', P)} + v3) % {M64} AS hh FROM bf2),
bmix AS (SELECT doc_id, band,
                (hh + (band * {BAND_MIX}) % {M64}) % {M64} AS hh FROM bf3),
{bsm_ctes},
vwg AS (SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
               count(*) OVER (PARTITION BY doc_id) AS c,
               w{W} AS raw
        FROM l96 WHERE n >= {W} AND pos <= n - {W} + 1),
{wsm_ctes},
wmin AS (SELECT doc_id, pos, c,
                min(x) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {sel - 1} FOLLOWING)
                  AS mn
         FROM {wsm_final}),
wv AS (SELECT DISTINCT doc_id, mn FROM wmin
       WHERE (c >= {sel} AND pos <= c - {sel} + 1)
          OR (c < {sel} AND pos = 1))"""
    return text, bsm_final


def signature_summary_sql(canon_expr: str, cfg) -> str:
    """(doc_id, n_tokens, n_shingles, simhash, band_xor, n_winnow,
    winnow_xor): the full fixed-width signature surface as scalars."""
    ctes, band_final = _feature_ctes(canon_expr, cfg)
    return f"""
WITH {ctes},
band_x AS (SELECT doc_id, bit_xor({_signed('x')}) AS band_xor
           FROM {band_final} GROUP BY doc_id),
win_x AS (SELECT doc_id, count(*) AS n_winnow,
                 bit_xor({_signed('mn')}) AS winnow_xor
          FROM wv GROUP BY doc_id)
SELECT ntok.doc_id,
       CAST(ntok.n_tokens AS BIGINT) AS n_tokens,
       CAST(nsh.n_shingles AS BIGINT) AS n_shingles,
       {_signed('coalesce(sim.v, 0)')} AS simhash,
       band_x.band_xor,
       CAST(coalesce(win_x.n_winnow, 0) AS BIGINT) AS n_winnow,
       CAST(coalesce(win_x.winnow_xor, 0) AS BIGINT) AS winnow_xor
FROM ntok
JOIN nsh USING (doc_id)
LEFT JOIN sim USING (doc_id)
JOIN band_x USING (doc_id)
LEFT JOIN win_x USING (doc_id)
"""


SIM_MIX = 0xA24BAED4963EE407


def candidate_pairs_sql(canon_expr: str, cfg) -> str:
    """(fid1, fid2, source): the LSH candidate-pair stream, value-exact.

    Replays the whole blocking stage: fid derivation
    (sha256(repo\\x00path\\x00commit) with repo=source, path=doc_id,
    commit='0' per dedup.docs_as_files), the exact-content contraction
    (min-fid representative per sha256(text) class), all three key families
    — 32 MinHash band hashes (kind 0), 4 SimHash table keys (kind 1),
    winnow fingerprints (kind 2) — and the bucket self-join with
    fid1 < fid2, source = min kind over shared keys. Assumes the query's
    config disables bucket salting (max_bucket_size above any corpus bucket)
    so pairing is the plain all-pairs rule; the salted path is covered by
    adversarial pytest + the cluster oracles.
    """
    ctes, band_final = _feature_ctes(canon_expr, cfg)
    # stride must track the engine's chunk width (simhash_table_keys shifts
    # by t*(bits//tables)) — derive it from the same constants as the mask
    chunk_bits = SIMHASH_BITS // SIMHASH_TABLES
    t_rows = ", ".join(
        f"({t}, {1 << (chunk_bits * t)}::HUGEINT)"
        for t in range(SIMHASH_TABLES)
    )
    chunk_mask = (1 << chunk_bits) - 1
    ksm_ctes, ksm_final = _splitmix_ctes("ksm", "skraw", "kv", "doc_id, t")
    return f"""
WITH {ctes},
st AS (SELECT * FROM (VALUES {t_rows}) AS t(t, shiftdiv)),
skraw AS (SELECT sim.doc_id, st.t,
                 ((sim.v // st.shiftdiv) % {chunk_mask + 1}
                  + ((st.t + 1) * {SIM_MIX}) % {M64}) % {M64} AS kv
          FROM sim, st),
{ksm_ctes},
fids AS (SELECT doc_id,
                sha256(source || chr(0) || CAST(doc_id AS VARCHAR)
                       || chr(0) || '0') AS fid,
                sha256(coalesce(text, '')) AS csha
         FROM documents),
rep AS (SELECT doc_id, fid,
               min(fid) OVER (PARTITION BY csha) AS repfid
        FROM fids),
repdocs AS (SELECT doc_id, fid FROM rep WHERE fid = repfid),
keys AS (
  SELECT r.fid, 0 AS kind, b.band AS kid, {_signed('b.x')} AS khash
  FROM {band_final} b JOIN repdocs r USING (doc_id)
  UNION ALL
  SELECT r.fid, 1 AS kind, s.t AS kid, {_signed('s.x')} AS khash
  FROM {ksm_final} s JOIN repdocs r USING (doc_id)
  UNION ALL
  SELECT r.fid, 2 AS kind, 0 AS kid, {_signed('w.mn')} AS khash
  FROM wv w JOIN repdocs r USING (doc_id)
)
SELECT a.fid AS fid1, b.fid AS fid2, CAST(min(a.kind) AS INT) AS source
FROM keys a JOIN keys b
  ON a.kind = b.kind AND a.kid = b.kid AND a.khash = b.khash
 AND a.fid < b.fid
GROUP BY a.fid, b.fid
"""
