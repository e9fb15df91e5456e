"""Geo blocking — the reference's geohash-neighbors candidate generator.

`near_dupe_hashes` with `with_latlon` adds a geohash of the record's
coordinates AND its 8 neighboring cells to the blocking-key set, so two
places within ~cell distance land in a common bucket even when they sit
on opposite sides of a cell boundary:
/root/reference/src/near_dupe.c:232-301 (geohash + neighbors loop,
GEOHASH_PRECISION 6), /root/reference/src/geohash/geohash.c (the encode:
interleaved lon/lat bisection, base32).  Until now this repo covered the
IDEA by analog (multi-key-family union); this module is the real thing,
Spark-first and integer-exact:

* coordinates are BIGINT microdegrees; the precision-6 geohash cell is a
  pure integer quantization (15 bits per axis, 30 bits total — exactly
  the cell lattice of a 6-character geohash), so Spark, numpy, and the
  DuckDB twin compute bit-identical cells with `//` / `div` arithmetic;
* the base32 geohash STRING is produced JVM-side as a fixed 30-term
  bit-interleave expression + six element_at lookups — no UDF, fully
  inside whole-stage codegen (verified against published geohash test
  vectors, e.g. (57.64911, 10.40744) → u4pruy);
* candidate generation = explode each point's 9-cell family (home + 8
  neighbors) and hash-join families against home cells — ONE shuffle on
  the cell key.  Each qualifying pair is found exactly once (the partner
  home cell occurs once in a 9-cell family; the reverse direction is
  cut by id1 < id2), so no distinct pass is needed;
* confirm = integer squared distance in microdegrees (the deterministic
  planar gate; at 100 TB the same bucket-count discipline as
  operators/blocking.py applies — a dense cell degrades to the salted
  path there, and the family explosion is a fixed ×9).

Coordinates for the harness are synthesized deterministically from
c_custkey alone (4-member clusters ~300 m wide scattered worldwide), so
the operator, its oracle, and the tests are scale-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
BITS = 15                      # per axis; 2×15 = 30 bits = 6 base32 chars
CELLS = 1 << BITS
LON_SPAN = 360_000_000         # microdegrees
LAT_SPAN = 180_000_000

# synthetic-coordinate constants (shared verbatim with the SQL twins)
CLUSTER_SIZE = 4
LAT_STEP = 1_500               # member jitter, microdeg (3 steps < lat cell)
LON_STEP = 2_900               # 3 steps < lon cell (10_986 µdeg)
R2 = 96_000_000                # = max intra-cluster dist² (4500² + 8700²)


def synth_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, lat_u, lon_u) — integer microdegrees from c_custkey alone.
    Clusters of CLUSTER_SIZE consecutive custkeys sit within one cell
    span of each other (every intra-cluster pair is ≤1 cell apart per
    axis, hence guaranteed discoverable by the neighbor blocking)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("id")
    )
    k = F.col("id")
    g = F.expr(f"id div {CLUSTER_SIZE}")
    j = F.pmod(k, F.lit(CLUSTER_SIZE))
    lat_u = (
        F.lit(-55_000_000)
        + F.pmod(g * 48_271, F.lit(110_000_000))
        + j * LAT_STEP
    )
    lon_u = (
        F.lit(-170_000_000)
        + F.pmod(g * 69_621, F.lit(340_000_000))
        + j * LON_STEP
    )
    return cust.select(
        "id", lat_u.alias("lat_u"), lon_u.alias("lon_u")
    )


def cell_cols():
    """Quantized (x, y) cell columns of the precision-6 geohash lattice
    from the ``lat_u``/``lon_u`` microdegree columns — nonnegative
    integer floor division, identical in Spark (`div`), DuckDB (`//`),
    and Python."""
    # domain edges: lon = +180° is the same meridian as -180° (wrap to
    # cell 0); lat = +90° is the last row (clamp to CELLS-1) — without
    # these, the exact edge values index one past the 15-bit lattice
    return (
        F.expr(
            f"pmod(((lon_u + {LON_SPAN // 2}) * {CELLS})"
            f" div {LON_SPAN}, {CELLS})"
        ),
        F.expr(
            f"least(((lat_u + {LAT_SPAN // 2}) * {CELLS})"
            f" div {LAT_SPAN}, {CELLS - 1})"
        ),
    )


def geohash_col(x, y) -> F.Column:
    """Base32 geohash string from cell columns: 30-term bit interleave
    (lon bit = odd positions, per the geohash spec) + 6 alphabet
    lookups.  Pure JVM column expressions — whole-stage codegen."""
    v = F.lit(0).cast("long")
    for k in range(BITS):
        v = v + F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        v = v + F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k)
    alpha = F.array(*[F.lit(c) for c in GEOHASH_B32])
    chars = [
        F.element_at(
            alpha,
            (F.shiftright(v, 25 - 5 * i).bitwiseAND(F.lit(31)) + 1).cast("int"),
        )
        for i in range(6)
    ]
    return F.concat(*chars)


def geohash_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, lat_u, lon_u, cell_x, cell_y, geohash) — the blocking-key
    surface, geohash string included for reference parity."""
    pts = synth_points(spark, sf_dir)
    x, y = cell_cols()
    pts = pts.select("id", "lat_u", "lon_u", x.alias("cell_x"), y.alias("cell_y"))
    return pts.select(
        "id", "lat_u", "lon_u", "cell_x", "cell_y",
        geohash_col(F.col("cell_x"), F.col("cell_y")).alias("geohash"),
    )


def geo_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-neighbor blocking + integer distance confirm over the
    synthetic corpus — see candidate_pairs_from_points for the contract."""
    return candidate_pairs_from_points(synth_points(spark, sf_dir))


def candidate_pairs_from_points(points: DataFrame) -> DataFrame:
    """Geohash-neighbor blocking + integer distance confirm over any
    (id, lat_u, lon_u) table; ``R2`` is the squared microdegree radius.

    Pair contract (the reference's near-dupe geo semantic): (a, b) is
    emitted iff their cells are neighbors on each axis (longitude
    cyclic across the antimeridian) AND the cyclic-longitude planar
    microdegree distance² is ≤ R2.  One shuffle (the cell-key join);
    each pair emitted exactly once — see module docstring.
    """
    x, y = cell_cols()
    pts = points.select("id", "lat_u", "lon_u", x.alias("x"), y.alias("y"))

    fam = pts.select(
        "id", "lat_u", "lon_u",
        F.explode(
            F.array(*[
                F.struct(
                    # longitude neighbors wrap across the antimeridian
                    # (geohash cells are cyclic in x, clamped in y)
                    F.pmod(F.col("x") + dx, F.lit(CELLS)).alias("cx"),
                    (F.col("y") + dy).alias("cy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ).alias("c"),
    ).select("id", "lat_u", "lon_u", "c.cx", "c.cy")

    b = pts.select(
        F.col("id").alias("id2"),
        F.col("lat_u").alias("lat2"),
        F.col("lon_u").alias("lon2"),
        F.col("x").alias("cx"),
        F.col("y").alias("cy"),
    )
    dlat = F.col("lat_u") - F.col("lat2")
    dlon_abs = F.abs(F.col("lon_u") - F.col("lon2"))
    # cyclic longitude, matching the wrapped blocking cells
    dlon = F.least(dlon_abs, F.lit(LON_SPAN) - dlon_abs)
    d2 = dlat * dlat + dlon * dlon
    return (
        fam.join(b, ["cx", "cy"])
        .where(F.col("id") < F.col("id2"))
        .select(
            F.col("id").alias("id1"),
            "id2",
            d2.alias("d2"),
        )
        .where(F.col("d2") <= F.lit(R2))
    )


# ------------------------------------------------------- place dedupe

# venue-name lexicons (fixed; mirrored in the SQL twin)
PLACE_COLORS = [
    "red", "blue", "green", "golden", "silver", "royal", "old", "new",
]
PLACE_ROADS = [
    "oak", "maple", "elm", "cedar", "pine", "birch",
    "willow", "aspen", "chestnut", "sycamore", "poplar", "walnut",
]
PLACE_KINDS = ["street", "road", "avenue", "lane"]
PLACE_ABBREV = {"street": "st", "road": "rd", "avenue": "ave", "lane": "ln"}


def synth_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, name, lat_u, lon_u): each CLUSTER_SIZE group is one venue in
    four of the reference's classic name-variant forms — exact, kind
    abbreviated ('street'→'st'), stopword-prefixed ('the …'), kind
    dropped — at near-identical coordinates.  Different groups may reuse
    the same base name (the lexicon wraps): the geo blocking, not the
    name, is what keeps them apart — the reference's reason for
    `with_latlon` (near_dupe.c:232)."""
    pts = synth_points(spark, sf_dir)
    g = F.expr(f"id div {CLUSTER_SIZE}")
    j = F.pmod(F.col("id"), F.lit(CLUSTER_SIZE))

    def arr(vals):
        return F.array(*[F.lit(v) for v in vals])

    color = F.element_at(
        arr(PLACE_COLORS), (F.pmod(g, F.lit(len(PLACE_COLORS))) + 1).cast("int"))
    road = F.element_at(
        arr(PLACE_ROADS),
        (F.pmod(F.expr(f"(id div {CLUSTER_SIZE}) div {len(PLACE_COLORS)}"),
                F.lit(len(PLACE_ROADS))) + 1).cast("int"))
    kind = F.element_at(
        arr(PLACE_KINDS), (F.pmod(g, F.lit(len(PLACE_KINDS))) + 1).cast("int"))
    kind_abbr = F.element_at(
        arr([PLACE_ABBREV[k] for k in PLACE_KINDS]),
        (F.pmod(g, F.lit(len(PLACE_KINDS))) + 1).cast("int"))
    name = (
        F.when(j == 0, F.concat_ws(" ", color, road, kind))
        .when(j == 1, F.concat_ws(" ", color, road, kind_abbr))
        .when(j == 2, F.concat_ws(" ", F.lit("the"), color, road, kind))
        .otherwise(F.concat_ws(" ", color, road))
    )
    return pts.select("id", name.alias("name"), "lat_u", "lon_u")


def _name_set_col(name_col):
    """Normalized token set: abbreviations folded to their full form,
    the stopword dropped, sorted distinct — expand-then-compare in
    miniature (the reference's expansions_intersect semantic), entirely
    JVM array expressions."""
    toks = F.split(name_col, " ")
    folded = F.transform(
        toks,
        lambda t: (
            F.when(t == "st", F.lit("street"))
            .when(t == "rd", F.lit("road"))
            .when(t == "ave", F.lit("avenue"))
            .when(t == "ln", F.lit("lane"))
            .otherwise(t)
        ),
    )
    return F.array_sort(
        F.array_distinct(F.filter(folded, lambda t: t != "the"))
    )


def place_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's place-dedupe flow end-to-end
    (/root/reference/src/dedupe.c `is_dupe` with lat/lon +
    /root/reference/src/place.c): geohash-neighbor blocking generates
    candidates, an expand-and-intersect name rule confirms
    (2·|∩| ≥ |∪| over normalized token sets — the 0.5-Jaccard gate as
    pure integer arithmetic), connected components assign one canonical
    id per venue.  Reuses ``cluster.components`` (driver union-find
    below the edge bound, large/small-star above) and the geo cell join
    — at scale this is the same one-shuffle blocking + tiny-edge-set
    clustering shape as the flagship text pipeline.
    """
    from libpostal_spark.operators import cluster as C

    places = synth_places(spark, sf_dir)
    x, y = cell_cols()
    pl = places.select(
        "id", "lat_u", "lon_u",
        x.alias("x"), y.alias("y"),
        _name_set_col(F.col("name")).alias("nset"),
    )
    fam = pl.select(
        "id", "lat_u", "lon_u", "nset",
        F.explode(
            F.array(*[
                F.struct(
                    # longitude neighbors wrap across the antimeridian
                    # (geohash cells are cyclic in x, clamped in y)
                    F.pmod(F.col("x") + dx, F.lit(CELLS)).alias("cx"),
                    (F.col("y") + dy).alias("cy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ).alias("c"),
    ).select("id", "lat_u", "lon_u", "nset", "c.cx", "c.cy")
    b = pl.select(
        F.col("id").alias("id2"),
        F.col("lat_u").alias("lat2"),
        F.col("lon_u").alias("lon2"),
        F.col("nset").alias("nset2"),
        F.col("x").alias("cx"),
        F.col("y").alias("cy"),
    )
    dlat = F.col("lat_u") - F.col("lat2")
    dlon_abs = F.abs(F.col("lon_u") - F.col("lon2"))
    # cyclic longitude, matching the wrapped blocking cells
    dlon = F.least(dlon_abs, F.lit(LON_SPAN) - dlon_abs)
    d2 = dlat * dlat + dlon * dlon
    edges = (
        fam.join(b, ["cx", "cy"])
        .where(F.col("id") < F.col("id2"))
        .where(d2 <= R2)
        .where(
            F.size(F.array_intersect("nset", "nset2")) * 2
            >= F.size(F.array_union("nset", "nset2"))
        )
        .select(F.col("id").alias("fid1"), F.col("id2").alias("fid2"))
    )
    labels = C.components(edges)
    out = C.label_universe(
        labels, places.select(F.col("id").alias("fid"))
    )
    return out.select(
        F.col("fid").alias("place_id"),
        "component",
        (F.col("fid") == F.col("component")).alias("is_canonical"),
    )


def place_dedup_clusters_sql() -> str:
    """DuckDB twin: identical synthesis + blocking + integer name gate,
    exhaustive recursive-CTE closure for the components (the same
    replay pattern as the embedding-cluster oracle)."""
    colors = ",".join(f"'{c}'" for c in PLACE_COLORS)
    roads = ",".join(f"'{r}'" for r in PLACE_ROADS)
    kinds = ",".join(f"'{k}'" for k in PLACE_KINDS)
    abbrs = ",".join(f"'{PLACE_ABBREV[k]}'" for k in PLACE_KINDS)
    return f"""
        WITH RECURSIVE {_PTS_SQL},
        named AS (
          SELECT c.id, c.lat_u, c.lon_u, c.x, c.y,
            CASE c.id % {CLUSTER_SIZE}
              WHEN 0 THEN col || ' ' || rd || ' ' || kd
              WHEN 1 THEN col || ' ' || rd || ' ' || ka
              WHEN 2 THEN 'the ' || col || ' ' || rd || ' ' || kd
              ELSE col || ' ' || rd
            END AS name
          FROM (
            SELECT id, lat_u, lon_u, x, y,
              ([{colors}])[CAST((id // {CLUSTER_SIZE})
                  % {len(PLACE_COLORS)} AS INT) + 1] AS col,
              ([{roads}])[CAST(((id // {CLUSTER_SIZE})
                  // {len(PLACE_COLORS)}) % {len(PLACE_ROADS)} AS INT) + 1] AS rd,
              ([{kinds}])[CAST((id // {CLUSTER_SIZE})
                  % {len(PLACE_KINDS)} AS INT) + 1] AS kd,
              ([{abbrs}])[CAST((id // {CLUSTER_SIZE})
                  % {len(PLACE_KINDS)} AS INT) + 1] AS ka
            FROM cells
          ) c
        ),
        nsets AS (
          SELECT id, lat_u, lon_u, x, y,
            list_sort(list_distinct(list_filter(
              list_transform(string_split(name, ' '),
                t -> CASE t WHEN 'st' THEN 'street'
                            WHEN 'rd' THEN 'road'
                            WHEN 'ave' THEN 'avenue'
                            WHEN 'ln' THEN 'lane'
                            ELSE t END),
              t -> t != 'the'))) AS nset
          FROM named
        ),
        fam AS (
          SELECT id, lat_u, lon_u, nset, (x + dx.d + {CELLS}) % {CELLS} AS cx, y + dy.d AS cy
          FROM nsets, (VALUES (-1),(0),(1)) dx(d), (VALUES (-1),(0),(1)) dy(d)
        ),
        edges AS (
          SELECT a.id AS u, b.id AS w
          FROM fam a JOIN nsets b ON a.cx = b.x AND a.cy = b.y
          WHERE a.id < b.id
            AND (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
              + LEAST(abs(a.lon_u - b.lon_u),
                      {LON_SPAN} - abs(a.lon_u - b.lon_u))
              * LEAST(abs(a.lon_u - b.lon_u),
                      {LON_SPAN} - abs(a.lon_u - b.lon_u)) <= {R2}
            AND 2 * len(list_intersect(a.nset, b.nset))
                >= len(list_distinct(a.nset || b.nset))
        ),
        sym AS (SELECT u, w FROM edges UNION SELECT w, u FROM edges),
        reach AS (
          SELECT u AS src, u AS node FROM (SELECT DISTINCT u FROM sym)
          UNION
          SELECT r.src, s.w FROM reach r JOIN sym s ON s.u = r.node
        ),
        comp AS (SELECT node AS id, min(src) AS component
                 FROM reach GROUP BY node)
        SELECT p.id AS place_id,
               coalesce(c.component, p.id) AS component,
               (p.id = coalesce(c.component, p.id)) AS is_canonical
        FROM pts p LEFT JOIN comp c USING (id)
        ORDER BY place_id
    """


# ----------------------------------------------------------- SQL twins

_PTS_SQL = f"""
        pts AS (
          SELECT CAST(c_custkey AS BIGINT) AS id,
                 -55000000 + ((CAST(c_custkey AS BIGINT) // {CLUSTER_SIZE})
                              * 48271) % 110000000
                           + (CAST(c_custkey AS BIGINT) % {CLUSTER_SIZE})
                              * {LAT_STEP} AS lat_u,
                 -170000000 + ((CAST(c_custkey AS BIGINT) // {CLUSTER_SIZE})
                               * 69621) % 340000000
                            + (CAST(c_custkey AS BIGINT) % {CLUSTER_SIZE})
                               * {LON_STEP} AS lon_u
          FROM customer
        ),
        cells AS (
          SELECT id, lat_u, lon_u,
                 (((lon_u + {LON_SPAN // 2}) * {CELLS}) // {LON_SPAN})
                   % {CELLS} AS x,
                 LEAST(((lat_u + {LAT_SPAN // 2}) * {CELLS}) // {LAT_SPAN},
                       {CELLS - 1}) AS y
          FROM pts
        )"""


def geohash_keys_sql() -> str:
    interleave = " + ".join(
        f"(((x >> {k}) & 1) << {2 * k + 1}) + (((y >> {k}) & 1) << {2 * k})"
        for k in range(BITS)
    )
    chars = " || ".join(
        f"'{GEOHASH_B32}'[CAST((v >> {25 - 5 * i}) & 31 AS INT) + 1]"
        for i in range(6)
    )
    return f"""
        WITH {_PTS_SQL},
        iv AS (SELECT id, lat_u, lon_u, x, y, {interleave} AS v FROM cells)
        SELECT id, lat_u, lon_u, x AS cell_x, y AS cell_y,
               {chars} AS geohash
        FROM iv ORDER BY id
    """


def geo_candidate_pairs_sql() -> str:
    return f"""
        WITH {_PTS_SQL},
        fam AS (
          SELECT id, lat_u, lon_u, (x + dx.d + {CELLS}) % {CELLS} AS cx, y + dy.d AS cy
          FROM cells, (VALUES (-1),(0),(1)) dx(d), (VALUES (-1),(0),(1)) dy(d)
        )
        SELECT a.id AS id1, b.id AS id2,
               (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
             + LEAST(abs(a.lon_u - b.lon_u),
                     {LON_SPAN} - abs(a.lon_u - b.lon_u))
             * LEAST(abs(a.lon_u - b.lon_u),
                     {LON_SPAN} - abs(a.lon_u - b.lon_u)) AS d2
        FROM fam a JOIN cells b ON a.cx = b.x AND a.cy = b.y
        WHERE a.id < b.id
          AND (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
            + LEAST(abs(a.lon_u - b.lon_u),
                    {LON_SPAN} - abs(a.lon_u - b.lon_u))
            * LEAST(abs(a.lon_u - b.lon_u),
                    {LON_SPAN} - abs(a.lon_u - b.lon_u)) <= {R2}
        ORDER BY id1, id2
    """
