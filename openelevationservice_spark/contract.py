"""Driver-contract queries: Spark implementations + DuckDB oracle twins.

Every query here derives its geo/text inputs *inside the query* from
the driver's TPC-H-ish tables (``/root/testdata/sf*/``, FIXTURES.md §4)
so each operator has a pure-ANSI-SQL oracle over the same parquet.

Float-exactness discipline: the Spark expression tree and the SQL
string use the **same double literals** (injected via ``repr``) and the
**same operation order**, so IEEE-754 results are bit-identical in the
JVM and in DuckDB; hash-compared output columns are integers wherever a
derived float could round differently (they can't, but belt and
braces), and the synthetic elevation field is integer arithmetic
(``fixtures.z_sql_expr``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .constants import NODATA, NUM_RANGES, PX, TILE_DEG, WORLD_X0, WORLD_Y0
from .operators import dedup, similarity, textops
from .operators.knn import knn_tiles
from .operators.line import line_vertices_elevation
from .operators.point import point_elevation
from .operators.polygon import polygon_pixels
from .operators.color import polygon_color_invariants
from .operators.multimodal import image_metadata
from .sources import fixtures as fx

# ---------------------------------------------------------------------------
# Contract world: 16x16 tiles (256 images, 800x800 px) around the
# reference Sicily test coordinate.  Deterministic, no external data.
# ---------------------------------------------------------------------------
CW = fx.World(tx0=4636, ty0=1242, nx=16, ny=16)
WPX = CW.nx * 50                       # world width in pixels
X0 = CW.min_x                          # west edge (deg)
Y0 = CW.max_y                          # north edge (deg)

# DuckDB parses bare decimal literals as DECIMAL (exact) — cast every
# injected literal to DOUBLE so the oracle does the same IEEE-754
# arithmetic as the JVM.
def _d(x: float) -> str:
    return f"CAST({x!r} AS DOUBLE)"


_PX = _d(PX)
_TD = _d(TILE_DEG)
_X0 = _d(X0)
_Y0 = _d(Y0)
_W0 = _d(WORLD_X0)
_WY0 = _d(WORLD_Y0)


_IMAGES_CACHE: dict[str, DataFrame] = {}


def _images(spark: SparkSession) -> DataFrame:
    """Contract tile world, generated once per session and persisted —
    ~10 geo queries would otherwise re-run the 256-tile synthesis each
    (the driver correctness gate runs them all in one session)."""
    key = spark.sparkContext.applicationId
    df = _IMAGES_CACHE.get(key)
    if df is None:
        df = fx.make_images_df(spark, CW)
        df.persist()
        df.count()
        # evict dead sessions' entries and release still-live storage
        # (unpersist, not just dict-clear) so alternating sessions don't
        # leak executor storage memory
        for old_key, old_df in list(_IMAGES_CACHE.items()):
            if old_key == key:
                continue
            try:
                sc = old_df.sparkSession.sparkContext
                if not sc._jsc.sc().isStopped():
                    old_df.unpersist()
            except Exception:
                pass  # session already torn down
            del _IMAGES_CACHE[old_key]
        _IMAGES_CACHE[key] = df
    return df


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --- shared SQL fragments (engine-mirroring formulas) ----------------------

def _sql_tile(lon: str, lat: str) -> tuple[str, str]:
    """(tx, ty) exactly as functions.cells computes them."""
    return (
        f"CAST(floor((({lon}) - {_W0}) / {_TD}) AS BIGINT)",
        f"CAST(floor(({_WY0} - ({lat})) / {_TD}) AS BIGINT)",
    )


def _sql_pixel(lon: str, lat: str, tx: str, ty: str) -> tuple[str, str]:
    """(ix, iy) exactly as operators.point.with_pixel_indices computes them
    (per-tile ul_x/ul_y, like the tile index built from captions)."""
    ul_x = f"({_W0} + ({tx}) * {_TD})"
    ul_y = f"({_WY0} - ({ty}) * {_TD})"
    return (
        f"CAST(floor((({lon}) - {ul_x}) / {_PX}) AS BIGINT)",
        f"CAST(floor(({ul_y} - ({lat})) / {_PX}) AS BIGINT)",
    )


_INSIDE = (f"(tx >= {CW.tx0} AND tx < {CW.tx0 + CW.nx} "
           f"AND ty >= {CW.ty0} AND ty < {CW.ty0 + CW.ny})")


# ===========================================================================
# Q1. point elevation — J1 + A1 + P4 (SURVEY.md §2)
# ===========================================================================

def q_point_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    ix = (F.col("c_custkey") * 7919) % WPX
    iy = (F.col("c_custkey") * 104729) % WPX
    off = F.when(F.col("c_custkey") % 20 == 0, F.lit(2.0)).otherwise(F.lit(0.0))
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        ((F.lit(X0) + (ix + F.lit(0.5)) * F.lit(PX)) + off).alias("lon"),
        (F.lit(Y0) - (iy + F.lit(0.5)) * F.lit(PX)).alias("lat"),
    )
    out = point_elevation(pts, _images(spark), how="left")
    tx = F.floor((F.col("lon") - F.lit(WORLD_X0)) / F.lit(TILE_DEG)).cast("long")
    ty = F.floor((F.lit(WORLD_Y0) - F.col("lat")) / F.lit(TILE_DEG)).cast("long")
    hit = F.col("image_id").isNotNull()
    return out.select(
        "point_id",
        F.when(hit, tx).alias("tx"),
        F.when(hit, ty).alias("ty"),
        F.when(hit, F.col("ix").cast("long")).alias("ix"),
        F.when(hit, F.col("iy").cast("long")).alias("iy"),
        F.when(hit, F.col("z").cast("long")).alias("z"),
    )


def _sql_point_elevation() -> str:
    tx, ty = _sql_tile("lon", "lat")
    ix, iy = _sql_pixel("lon", "lat", "tx", "ty")
    z = fx.z_sql_expr("tx*50 + ix", "ty*50 + iy")
    return f"""
WITH pts AS (
  SELECT c_custkey AS point_id,
         (({_X0} + (((c_custkey * 7919) % {WPX}) + 0.5) * {_PX})
          + CASE WHEN c_custkey % 20 = 0 THEN 2.0 ELSE 0.0 END) AS lon,
         ({_Y0} - (((c_custkey * 104729) % {WPX}) + 0.5) * {_PX}) AS lat
  FROM customer
), t AS (
  SELECT point_id, lon, lat, {tx} AS tx, {ty} AS ty FROM pts
), p AS (
  SELECT point_id, tx, ty, {ix} AS ix, {iy} AS iy, {_INSIDE} AS inside FROM t
)
SELECT point_id,
       CASE WHEN inside THEN tx END AS tx,
       CASE WHEN inside THEN ty END AS ty,
       CASE WHEN inside THEN ix END AS ix,
       CASE WHEN inside THEN iy END AS iy,
       CASE WHEN inside THEN CAST({z} AS BIGINT) END AS z
FROM p
"""


# ===========================================================================
# Q2/Q3. line densify + profile — A5/A6/G5/W1 + J2
# ===========================================================================

def _lines_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    g1x = (F.col("o_orderkey") * 7919) % WPX
    g1y = (F.col("o_orderkey") * 104729) % WPX
    g2x = F.greatest(F.lit(0), F.least(F.lit(WPX - 1), g1x + (F.col("o_orderkey") * 13) % 120 - 60))
    g2y = F.greatest(F.lit(0), F.least(F.lit(WPX - 1), g1y + (F.col("o_orderkey") * 29) % 120 - 60))
    return orders.select(
        F.col("o_orderkey").alias("line_id"),
        (F.lit(X0) + (g1x + F.lit(0.5)) * F.lit(PX)).alias("x1"),
        (F.lit(Y0) - (g1y + F.lit(0.5)) * F.lit(PX)).alias("y1"),
        (F.lit(X0) + (g2x + F.lit(0.5)) * F.lit(PX)).alias("x2"),
        (F.lit(Y0) - (g2y + F.lit(0.5)) * F.lit(PX)).alias("y2"),
    )


_SQL_LINES = f"""
  SELECT o_orderkey AS line_id,
         ({_X0} + (((o_orderkey * 7919) % {WPX}) + 0.5) * {_PX}) AS x1,
         ({_Y0} - (((o_orderkey * 104729) % {WPX}) + 0.5) * {_PX}) AS y1,
         ({_X0} + ((greatest(0, least({WPX - 1},
             ((o_orderkey * 7919) % {WPX}) + ((o_orderkey * 13) % 120) - 60))) + 0.5) * {_PX}) AS x2,
         ({_Y0} - ((greatest(0, least({WPX - 1},
             ((o_orderkey * 104729) % {WPX}) + ((o_orderkey * 29) % 120) - 60))) + 0.5) * {_PX}) AS y2
  FROM orders WHERE o_orderkey % 7 = 0
"""

# vertex set with exact ST_LineInterpolatePoints fraction semantics
_SQL_LINE_VERTS = f"""
WITH lines AS ({_SQL_LINES}),
base AS (
  SELECT *, sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) AS line_len FROM lines
), fr AS (
  SELECT *, CASE WHEN line_len = 0.0 THEN 1.0
                 ELSE least(1.0, {_PX} / line_len) END AS frac FROM base
), nn AS (
  SELECT *, CASE WHEN line_len = 0.0 THEN 0
                 ELSE CAST(floor(1.0 / frac) AS INT) END AS n_interp FROM fr
), interp AS (
  SELECT line_id, x1, y1,
         CASE WHEN k * frac >= 1.0 THEN x2 ELSE x1 + (k * frac) * (x2 - x1) END AS x,
         CASE WHEN k * frac >= 1.0 THEN y2 ELSE y1 + (k * frac) * (y2 - y1) END AS y
  FROM (SELECT *, unnest(generate_series(1, CAST(n_interp AS BIGINT))) AS k FROM nn)
), pts AS (
  SELECT line_id, x1, y1, x1 AS x, y1 AS y FROM nn
  UNION ALL
  SELECT line_id, x1, y1, x2 AS x, y2 AS y FROM nn
  UNION ALL
  SELECT line_id, x1, y1, x, y FROM interp
), dedup AS (
  SELECT DISTINCT line_id, x1, y1, x, y FROM pts
), seqd AS (
  SELECT line_id, x1, y1, x, y,
         ROW_NUMBER() OVER (
           PARTITION BY line_id
           ORDER BY sqrt((x - x1) * (x - x1) + (y - y1) * (y - y1)), x, y
         ) AS seq
  FROM dedup
)
SELECT * FROM seqd
"""


def q_line_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = line_vertices_elevation(_lines_df(spark, sf_dir), _images(spark))
    tx = F.floor((F.col("x") - F.lit(WORLD_X0)) / F.lit(TILE_DEG)).cast("long")
    ty = F.floor((F.lit(WORLD_Y0) - F.col("y")) / F.lit(TILE_DEG)).cast("long")
    return out.select(
        "line_id",
        F.col("seq").cast("long").alias("seq"),
        (tx * 50 + F.col("ix")).alias("gx"),
        (ty * 50 + F.col("iy")).alias("gy"),
        F.col("z").cast("long").alias("z"),
    )


def _sql_line_densify() -> str:
    tx, ty = _sql_tile("x", "y")
    ix, iy = _sql_pixel("x", "y", "tx", "ty")
    z = fx.z_sql_expr("gx", "gy")
    return f"""
WITH verts AS ({_SQL_LINE_VERTS}),
t AS (SELECT line_id, seq, x, y, {tx} AS tx, {ty} AS ty FROM verts),
p AS (SELECT line_id, seq, tx, ty, {ix} AS ix, {iy} AS iy FROM t),
g AS (SELECT line_id, seq, tx * 50 + ix AS gx, ty * 50 + iy AS gy FROM p)
SELECT line_id, CAST(seq AS BIGINT) AS seq, gx, gy, CAST({z} AS BIGINT) AS z FROM g
"""


def q_line_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = q_line_densify(spark, sf_dir)
    return v.groupBy("line_id").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
        F.sum("z").alias("sum_z"),
    )


def _sql_line_profile() -> str:
    return f"""
WITH v AS ({_sql_line_densify()})
SELECT line_id, COUNT(*) AS n_vertices, MIN(z) AS min_z, MAX(z) AS max_z,
       CAST(SUM(z) AS BIGINT) AS sum_z
FROM v GROUP BY line_id
"""


# ===========================================================================
# Q4/Q5. polygon pixel dump + elevation bands — A2-A4/P2-P3/G1-G2
# Q5 counts each band's pixels through the dissolve operator
# (polygon_color_invariants, also Q21's), so its oracle checks the band
# rule the library runs: the numpy band-split of operators/color.py.
# ===========================================================================

def _polygons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _read(spark, sf_dir, "supplier")
    gx0 = (F.col("s_suppkey") * 7919) % (WPX - 100)
    gy0 = (F.col("s_suppkey") * 104729) % (WPX - 100)
    w = F.lit(20) + F.col("s_suppkey") % 60
    h = F.lit(20) + (F.col("s_suppkey") * 7) % 60
    x0 = F.lit(X0) + gx0 * F.lit(PX)
    x1 = F.lit(X0) + (gx0 + w) * F.lit(PX)
    y1 = F.lit(Y0) - gy0 * F.lit(PX)          # north edge
    y0 = F.lit(Y0) - (gy0 + h) * F.lit(PX)    # south edge
    ring = F.array(
        F.struct(x0.alias("lon"), y0.alias("lat")),
        F.struct(x1.alias("lon"), y0.alias("lat")),
        F.struct(x1.alias("lon"), y1.alias("lat")),
        F.struct(x0.alias("lon"), y1.alias("lat")),
        F.struct(x0.alias("lon"), y0.alias("lat")),
    )
    return sup.select(F.col("s_suppkey").alias("poly_id"), ring.alias("ring"))


# pixel ranges are integer by construction (ring corners on pixel seams)
_SQL_POLY_PIXELS = f"""
WITH polys AS (
  SELECT s_suppkey AS poly_id,
         (s_suppkey * 7919) % {WPX - 100} AS pgx0,
         (s_suppkey * 104729) % {WPX - 100} AS pgy0,
         20 + s_suppkey % 60 AS pw,
         20 + (s_suppkey * 7) % 60 AS ph
  FROM supplier
), px AS (
  SELECT poly_id,
         {CW.tx0 * 50} + pgx0 + ux.gxo AS gx,
         {CW.ty0 * 50} + pgy0 + uy.gyo AS gy
  FROM polys,
       LATERAL (SELECT unnest(generate_series(0, CAST(pw - 1 AS BIGINT))) AS gxo) ux,
       LATERAL (SELECT unnest(generate_series(0, CAST(ph - 1 AS BIGINT))) AS gyo) uy
)
SELECT poly_id, gx, gy, CAST({fx.z_sql_expr("gx", "gy")} AS BIGINT) AS z
FROM px WHERE {fx.z_sql_expr("gx", "gy")} != {NODATA}
"""


def q_polygon_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = polygon_pixels(_polygons_df(spark, sf_dir), _images(spark))
    return out.select("poly_id", "gx", "gy", F.col("z").cast("long").alias("z"))


def q_polygon_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixels per elevation band, read off the dissolve: ``area_px`` is
    the band's pixel count (the ``color_dissolve`` oracle binds it to
    the band's pixels), so this checks the library's one band rule."""
    bands = polygon_color_invariants(_polygons_df(spark, sf_dir), _images(spark))
    return bands.select("poly_id", "height_base", F.col("area_px").alias("n_pixels"))


def _sql_polygon_bands() -> str:
    return f"""
WITH px AS ({_SQL_POLY_PIXELS}),
st AS (SELECT poly_id, MIN(z) AS min_z, MAX(z) AS max_z FROM px GROUP BY poly_id),
b AS (
  SELECT px.poly_id,
         CAST(ceil(floor((px.z - st.min_z) / ((st.max_z - st.min_z + 1) / CAST({float(NUM_RANGES)} AS DOUBLE)))
              * ((st.max_z - st.min_z + 1) / CAST({float(NUM_RANGES)} AS DOUBLE)) + st.min_z) AS BIGINT) AS height_base
  FROM px JOIN st ON px.poly_id = st.poly_id
)
SELECT poly_id, height_base, COUNT(*) AS n_pixels FROM b GROUP BY poly_id, height_base
"""


# ===========================================================================
# Q6. kNN tile lookup — J4 (north-rule operator)
# ===========================================================================

def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    frac = (F.col("c_custkey") % 5) * F.lit(0.3) + F.lit(0.1)
    iy = (F.col("c_custkey") * 104729) % WPX
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.lit(CW.max_x) + frac * F.lit(TILE_DEG)).alias("lon"),
        (F.lit(Y0) - (iy + F.lit(0.5)) * F.lit(PX)).alias("lat"),
    )
    out = knn_tiles(pts, _images(spark), k=1, max_rings=2)
    return out.select(
        "point_id",
        F.substring("image_id", 6, 5).cast("long").alias("tx"),
        F.substring("image_id", 12, 5).cast("long").alias("ty"),
        F.col("ix").cast("long").alias("ix"),
        F.col("iy").cast("long").alias("iy"),
        F.col("z").cast("long").alias("z"),
    )


def _sql_knn() -> str:
    # points are strictly east of the world → nearest tile is the last
    # column at the point's own row; ix clamps to 49; iy from lat.
    max_x = _d(CW.max_x)
    ty = f"CAST(floor(({_WY0} - lat) / {_TD}) AS BIGINT)"
    # engine: iy = floor((ul_y - lat)/px) with ul_y from the tile caption
    ul_y = f"({_WY0} - ty * {_TD})"
    # clamped sample x = max_x - px/2 → ix = floor(((max_x - px/2) - ul_x)/px)
    tx = str(CW.tx0 + CW.nx - 1)
    ul_x = f"({_W0} + {tx} * {_TD})"
    # engine computes max_x of the tile as ul_x + w*px (tiles.py)
    tile_max_x = f"({ul_x} + 50 * {_PX})"
    ix = f"CAST(floor((({tile_max_x} - {_PX} / 2.0) - {ul_x}) / {_PX}) AS BIGINT)"
    iy = f"CAST(floor(({ul_y} - lat) / {_PX}) AS BIGINT)"
    z = fx.z_sql_expr(f"({tx}) * 50 + ix", "ty * 50 + iy")
    return f"""
WITH pts AS (
  SELECT c_custkey AS point_id,
         ({max_x} + ((c_custkey % 5) * CAST(0.3 AS DOUBLE) + CAST(0.1 AS DOUBLE)) * {_TD}) AS lon,
         ({_Y0} - (((c_custkey * 104729) % {WPX}) + 0.5) * {_PX}) AS lat
  FROM customer WHERE c_custkey % 3 = 0
), t AS (
  SELECT point_id, lon, lat, {ty} AS ty FROM pts
), p AS (
  SELECT point_id, CAST({tx} AS BIGINT) AS tx, ty, {ix} AS ix, {iy} AS iy FROM t
)
SELECT point_id, tx, ty, ix, iy, CAST({z} AS BIGINT) AS z FROM p
"""


# ===========================================================================
# Q7. tile ingest stats — S3/ingest path + image decode
# ===========================================================================

def q_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    meta = image_metadata(_images(spark))
    return meta.select(
        F.substring("image_id", 6, 5).cast("long").alias("tx"),
        F.substring("image_id", 12, 5).cast("long").alias("ty"),
        F.col("min_v").cast("long").alias("min_z"),
        F.col("max_v").cast("long").alias("max_z"),
        F.col("sum_v").alias("sum_z"),
        F.col("n_nodata").cast("long").alias("n_nodata"),
    )


def _sql_tile_stats() -> str:
    z = fx.z_sql_expr("gx", "gy")
    return f"""
WITH tiles AS (
  SELECT tx.tx, ty.ty
  FROM (SELECT unnest(generate_series({CW.tx0}, {CW.tx0 + CW.nx - 1})) AS tx) tx,
       (SELECT unnest(generate_series({CW.ty0}, {CW.ty0 + CW.ny - 1})) AS ty) ty
), px AS (
  SELECT tx, ty, tx * 50 + ox.o AS gx, ty * 50 + oy.o AS gy
  FROM tiles,
       (SELECT unnest(generate_series(0, 49)) AS o) ox,
       (SELECT unnest(generate_series(0, 49)) AS o) oy
), v AS (SELECT tx, ty, {z} AS z FROM px)
SELECT tx, ty,
       CAST(MIN(z) AS BIGINT) AS min_z, CAST(MAX(z) AS BIGINT) AS max_z,
       CAST(SUM(z) AS BIGINT) AS sum_z,
       CAST(SUM(CASE WHEN z = {NODATA} THEN 1 ELSE 0 END) AS BIGINT) AS n_nodata
FROM v GROUP BY tx, ty
"""


# ===========================================================================
# Q8-Q12. dedup family on documents
# ===========================================================================

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_read(spark, sf_dir, "documents"))


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS rep_id, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
"""

_SQL_SHINGLES = """
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             k -> array_to_string((string_split(text, ' '))[k:k+2], ' ')
           )) AS sh
    FROM documents)
"""

# permutation min-wise family over the md5-prefix base hash — constants
# inlined from dedup.minhash_perm_consts (engine and oracle share them);
# ('0x' || hex)::BIGINT is the same conv twin the simhash oracle uses
_SQL_MINHASH = f"""
  SELECT doc_id,
         {", ".join(f"MIN(({a} * x + {b}) % {dedup.MERSENNE31}) AS h{i}"
                    for i, (a, b) in enumerate(dedup.minhash_perm_consts(8)))}
  FROM (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS x
        FROM ({_SQL_SHINGLES})) GROUP BY doc_id
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_candidate_pairs(
        _read(spark, sf_dir, "documents"), n_hashes=8, bands=4, shingle_n=3
    )


def _sql_minhash_pairs() -> str:
    bands = ", ".join(
        f"({b}, md5(CAST(h{2 * b} AS VARCHAR) || '|' || CAST(h{2 * b + 1} AS VARCHAR)))"
        for b in range(4)
    )
    return f"""
WITH mh AS ({_SQL_MINHASH}),
bands AS (
  SELECT doc_id, b.band_idx, b.band_hash
  FROM mh, LATERAL (VALUES {bands}) b(band_idx, band_hash)
)
SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
FROM bands a JOIN bands bb USING (band_idx, band_hash)
WHERE a.doc_id < bb.doc_id
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs, n_hashes=8, bands=4, shingle_n=3)
    return dedup.ngram_jaccard(docs, pairs, shingle_n=3)


def _sql_jaccard_pairs() -> str:
    return f"""
WITH pairs AS ({_sql_minhash_pairs()}),
sh AS ({_SQL_SHINGLES}),
inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
  GROUP BY p.id_a, p.id_b
), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
SELECT p.id_a, p.id_b,
       COALESCE(i.n_common, 0) AS n_common,
       sa.n + sb.n - COALESCE(i.n_common, 0) AS n_union,
       CASE WHEN sa.n + sb.n - COALESCE(i.n_common, 0) > 0
            THEN CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                 / (sa.n + sb.n - COALESCE(i.n_common, 0))
            ELSE 0.0 END AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs → connected components → (doc_id, rep_id, cluster_size).

    The engine runs iterative min-label propagation
    (``operators/dedup.py connected_components``); the oracle computes
    the same fixpoint — per-component min id — via a recursive CTE, so
    the check is method-independent."""
    out = dedup.dedup_clusters(_read(spark, sf_dir, "documents"),
                               n_hashes=8, bands=4, shingle_n=3)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("rep_id").cast("long").alias("rep_id"),
                      F.col("cluster_size").cast("long").alias("cluster_size"))


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_sql_minhash_pairs()}),
edges AS (
  SELECT id_a AS v, id_b AS w FROM pairs
  UNION
  SELECT id_b AS v, id_a AS w FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, reach.r FROM edges e JOIN reach ON reach.id = e.w
),
cc AS (SELECT id AS doc_id, MIN(r) AS rep_id FROM reach GROUP BY id),
sz AS (SELECT rep_id, COUNT(*) AS cluster_size FROM cc GROUP BY rep_id)
SELECT CAST(cc.doc_id AS BIGINT) AS doc_id, CAST(cc.rep_id AS BIGINT) AS rep_id,
       CAST(sz.cluster_size AS BIGINT) AS cluster_size
FROM cc JOIN sz USING (rep_id)
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_read(spark, sf_dir, "documents"), bits=16)


def _sql_simhash() -> str:
    votes = ", ".join(
        f"SUM(((wh >> {b}) & 1) * 2 - 1) AS v{b}" for b in range(16)
    )
    bits = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16)
    )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS wh FROM words
), agg AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM agg
"""


# ===========================================================================
# Q13-Q15. text analysis on documents
# ===========================================================================

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_features(_read(spark, sf_dir, "documents")).select(
        "doc_id", "q_n_chars", "q_n_tokens", "q_n_stopwords", "q_alpha_chars", "q_score"
    )


def _sql_text_quality() -> str:
    stop = ", ".join(f"'{w}'" for w in textops.STOPWORDS["en"])
    return f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS q_n_chars,
         len(string_split(text, ' ')) AS q_n_tokens,
         len(list_filter(string_split(text, ' '), w -> list_contains([{stop}], w))) AS q_n_stopwords,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS q_alpha_chars
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(q_n_chars AS INT) AS q_n_chars,
       CAST(q_n_tokens AS INT) AS q_n_tokens,
       CAST(q_n_stopwords AS INT) AS q_n_stopwords,
       CAST(q_alpha_chars AS INT) AS q_alpha_chars,
       round((CAST(q_n_stopwords AS DOUBLE) / q_n_tokens * 0.5
              + least(CAST(q_n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3)
             + CAST(q_alpha_chars AS DOUBLE) / q_n_chars * 0.2, 6) AS q_score
FROM f
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_scores(_read(spark, sf_dir, "documents")).select(
        "doc_id", "hits_de", "hits_en", "hits_fr", "pred_lang"
    )


def _sql_lang_id() -> str:
    def hits(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in textops.STOPWORDS[lang])
        return f"len(list_filter(string_split(text, ' '), w -> list_contains([{words}], w)))"

    return f"""
WITH h AS (
  SELECT doc_id, {hits('de')} AS hits_de, {hits('en')} AS hits_en, {hits('fr')} AS hits_fr
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(hits_de AS INT) AS hits_de, CAST(hits_en AS INT) AS hits_en,
       CAST(hits_fr AS INT) AS hits_fr,
       CASE WHEN hits_de >= hits_en AND hits_de >= hits_fr THEN 'de'
            WHEN hits_en >= hits_fr THEN 'en' ELSE 'fr' END AS pred_lang
FROM h
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(_read(spark, sf_dir, "documents"), shingle_n=5)


_SQL_FINGERPRINT = """
SELECT doc_id,
       list_min(list_transform(
         list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
                        k -> array_to_string((string_split(text, ' '))[k:k+4], ' ')),
         s -> md5(s))) AS fp,
       CAST(len(list_distinct(list_transform(
         generate_series(1, len(string_split(text, ' ')) - 4),
         k -> array_to_string((string_split(text, ' '))[k:k+4], ' ')))) AS INT) AS n_shingles
FROM documents
"""


# ===========================================================================
# Q16. ANN cosine top-k on embeddings
# ===========================================================================

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.cosine_topk(emb, queries, k=3)
    return out.select("q_id", F.col("rank").cast("long").alias("rank"),
                      "vec_id", F.round("sim", 6).alias("sim"))


_SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
j AS (
  SELECT q.q_id, c.vec_id,
         list_reduce(list_transform(list_zip(c.embedding, q.q_vec),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                     (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                             (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                               (a, b) -> a + b))) AS sim
  FROM embeddings c, q
), r AS (
  SELECT q_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM j)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim
FROM r WHERE rank <= 3
"""


# ===========================================================================
# Q17. event-time windowed aggregation on events
# ===========================================================================

def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    # epoch-floored hourly bucket emitted as epoch SECONDS: both
    # F.window() boundaries and any timestamp-typed output column render
    # in the session timezone, and the driver's session tz is not ours
    # to set — integer epochs are timezone-proof on both engines
    win = ((F.unix_timestamp("ts") / 3600).cast("long") * 3600).alias("win_start")
    return (
        ev.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("value").alias("min_v"),
             F.max("value").alias("max_v"))
        .select("win_start", "event_type", "n", "min_v", "max_v")
    )


_SQL_EVENT_WINDOWS = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS win_start,
       event_type,
       COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
FROM events GROUP BY 1, 2
"""


# ===========================================================================
# Q18. polyline codec round-trip — F1/F2 (byte-exact codec semantics)
# ===========================================================================

def q_polyline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode→decode round-trip of 3-D polylines (precision 5, z/100).

    Emits the decoded coordinates as quantized integers; the oracle is
    the codec's quantization law ``_py2_round(v * factor)`` (reference
    ``utils/codec.py:21-23,82,110``) applied to the same doubles —
    byte-exact golden strings are pinned separately in
    tests/test_polyline.py.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from .functions import polyline as pl
    from .functions.arrow_batches import record_batch

    lines = _lines_df(spark, sf_dir).withColumn(
        "z1", (F.col("line_id") % 3000).cast("double") * F.lit(0.01)
    ).withColumn(
        "z2", ((F.col("line_id") * 7) % 3000).cast("double") * F.lit(0.01)
    )
    schema = T.StructType([
        T.StructField("line_id", T.LongType()),
        T.StructField("pt_idx", T.LongType()),
        T.StructField("lon_e5", T.LongType()),
        T.StructField("lat_e5", T.LongType()),
        T.StructField("z_e2", T.LongType()),
    ])

    out = to_arrow_schema(schema)

    def rt(batches):
        for rb in batches:
            rows = []
            cols = (rb.column(n).to_pylist() for n in ("line_id", "x1", "y1", "z1",
                                                       "x2", "y2", "z2"))
            for line_id, x1, y1, z1, x2, y2, z2 in zip(*cols):
                enc = pl.encode([(x1, y1, z1), (x2, y2, z2)], 5, is3d=True)
                rows += [(line_id, i, round(lon * 1e5), round(lat * 1e5), round(z * 100))
                         for i, (lon, lat, z) in enumerate(pl.decode(enc, 5, is3d=True))]
            vals = np.array(rows, dtype=np.int64).reshape(-1, len(out))
            yield record_batch(out, [pa.array(v) for v in vals.T])

    return lines.mapInArrow(rt, schema=schema)


def _sql_polyline_roundtrip() -> str:
    # _py2_round for non-negative v: floor(v * factor + 0.5)
    return f"""
WITH lines AS ({_SQL_LINES}),
z AS (
  SELECT line_id, x1, y1, x2, y2,
         CAST(line_id % 3000 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS z1,
         CAST((line_id * 7) % 3000 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS z2
  FROM lines
)
SELECT line_id, 0 AS pt_idx,
       CAST(floor(x1 * 1e5 + 0.5) AS BIGINT) AS lon_e5,
       CAST(floor(y1 * 1e5 + 0.5) AS BIGINT) AS lat_e5,
       CAST(floor(z1 * 100 + 0.5) AS BIGINT) AS z_e2
FROM z
UNION ALL
SELECT line_id, 1 AS pt_idx,
       CAST(floor(x2 * 1e5 + 0.5) AS BIGINT),
       CAST(floor(y2 * 1e5 + 0.5) AS BIGINT),
       CAST(floor(z2 * 100 + 0.5) AS BIGINT)
FROM z
"""


# ===========================================================================
# Q19. image round-trip invariant — input_hint per-row invariant
# ===========================================================================

def q_image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode→encode→decode PSNR≥40dB + phash + caption equality on every
    tile image (both raw16 and png16 are lossless → exact).  The oracle
    asserts the invariant holds for the full tile grid."""
    from .operators.multimodal import roundtrip_invariant

    out = roundtrip_invariant(_images(spark))
    return out.select(
        F.substring("image_id", 6, 5).cast("long").alias("tx"),
        F.substring("image_id", 12, 5).cast("long").alias("ty"),
        F.col("ok").cast("long").alias("ok"),
        F.col("phash_match").cast("long").alias("phash_match"),
        F.col("caption_ok").cast("long").alias("caption_ok"),
    )


_SQL_IMAGE_ROUNDTRIP = f"""
SELECT tx.tx, ty.ty, CAST(1 AS BIGINT) AS ok, CAST(1 AS BIGINT) AS phash_match,
       CAST(1 AS BIGINT) AS caption_ok
FROM (SELECT unnest(generate_series({CW.tx0}, {CW.tx0 + CW.nx - 1})) AS tx) tx,
     (SELECT unnest(generate_series({CW.ty0}, {CW.ty0 + CW.ny - 1})) AS ty) ty
"""


# ===========================================================================
# Q20. block-mean resize — multimodal feature-extract path
# ===========================================================================

def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x block-mean downsample (numpy, Arrow-batched) then re-decode;
    emits every resized pixel.  int16 cast truncates toward zero —
    mirrored by trunc() in the oracle."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from .functions import image_codec
    from .functions.arrow_batches import record_batch
    from .operators.multimodal import resize

    small = resize(_images(spark), factor=2)
    schema = T.StructType([
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("i2", T.LongType()),
        T.StructField("j2", T.LongType()),
        T.StructField("z2", T.LongType()),
    ])

    out = to_arrow_schema(schema)

    def dump(batches):
        for rb in batches:
            # one (tx, ty, i2, j2, z2) row per pixel of every resized tile
            cols = [np.empty((5, 0), np.int64)]
            for img, g in zip(rb.column("image_id").to_pylist(), image_codec.decode_rows(rb)):
                cols.append(np.vstack([np.full(g.size, int(img[5:10])),
                                       np.full(g.size, int(img[11:16])),
                                       np.indices(g.shape).reshape(2, -1), g.ravel()]))
            vals = np.hstack(cols).astype(np.int64)
            yield record_batch(out, [pa.array(v) for v in vals])

    return small.mapInArrow(dump, schema=schema)


def _sql_image_resize() -> str:
    zs = [fx.z_sql_expr(f"(tx * 50 + j2 * 2 + {dx})", f"(ty * 50 + i2 * 2 + {dy})")
          for dy in (0, 1) for dx in (0, 1)]
    s = " + ".join(f"({z})" for z in zs)
    return f"""
WITH tiles AS (
  SELECT tx.tx, ty.ty
  FROM (SELECT unnest(generate_series({CW.tx0}, {CW.tx0 + CW.nx - 1})) AS tx) tx,
       (SELECT unnest(generate_series({CW.ty0}, {CW.ty0 + CW.ny - 1})) AS ty) ty
), px AS (
  SELECT tx, ty, i2.o AS i2, j2.o AS j2
  FROM tiles,
       (SELECT unnest(generate_series(0, 24)) AS o) i2,
       (SELECT unnest(generate_series(0, 24)) AS o) j2
)
SELECT tx, ty, i2, j2,
       CAST(trunc(CAST({s} AS DOUBLE) / 4.0) AS BIGINT) AS z2
FROM px
"""


# ===========================================================================
# Q21. color dissolve — G3 (boundary tracing).
# The dissolve itself is not SQL-expressible, but its per-band invariants
# are: Σ ring shoelace area must equal the band's pixel count, and the
# Euler numbers χ4 = C4−H8 / χ8 = C8−H4 must match Gray's 2×2 quad-count
# formula ((Q1 − Q3 ± 2·QD)/4).  The kernel cross-asserts its traced
# shell and hole counts against its own Gray quad counts
# (χ8 ≤ shells − holes ≤ χ4, operators/color.py), so this oracle binds
# the boundary tracer, the quad counts, the band arithmetic and the
# pixel sets.  The features' rings come from the same edge table and
# cycle labels (functions/dissolve.py ``_cycles``).  Per-ring geometric
# checks, the reference walk and the grid-labeling reference stay in
# tests/test_geometry_dissolve.py.
# ===========================================================================

def q_color_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    polys = _polygons_df(spark, sf_dir)
    return polygon_color_invariants(polys, _images(spark))


def _sql_color_dissolve() -> str:
    return f"""
WITH px AS ({_SQL_POLY_PIXELS}),
st AS (SELECT poly_id, MIN(z) AS min_z, MAX(z) AS max_z FROM px GROUP BY poly_id),
b AS (
  SELECT px.poly_id, px.gx, px.gy,
         CAST(ceil(floor((px.z - st.min_z) / ((st.max_z - st.min_z + 1) / CAST({float(NUM_RANGES)} AS DOUBLE)))
              * ((st.max_z - st.min_z + 1) / CAST({float(NUM_RANGES)} AS DOUBLE)) + st.min_z) AS BIGINT) AS height_base
  FROM px JOIN st ON px.poly_id = st.poly_id
), q AS (
  -- every pixel contributes to the four 2x2 windows containing it;
  -- pos encodes its corner within the window (0=TL 1=TR 2=BL 3=BR)
  SELECT b.poly_id, b.height_base,
         b.gx - d.dx AS ax, b.gy - d.dy AS ay, d.dx + 2 * d.dy AS pos
  FROM b, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) d(dx, dy)
), w AS (
  SELECT poly_id, height_base, ax, ay, COUNT(*) AS n, SUM(pos) AS sp
  FROM q GROUP BY poly_id, height_base, ax, ay
), g AS (
  -- Gray quad counts: Q1, Q3, and diagonal pairs (pos sets {{0,3}}/{{1,2}}
  -- are exactly the n=2 windows with pos-sum 3)
  SELECT poly_id, height_base,
         SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS q1,
         SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS q3,
         SUM(CASE WHEN n = 2 AND sp = 3 THEN 1 ELSE 0 END) AS qd
  FROM w GROUP BY poly_id, height_base
), a AS (
  SELECT poly_id, height_base, COUNT(*) AS area_px FROM b GROUP BY poly_id, height_base
)
-- DuckDB's // truncates toward zero while Python's // floors; safe here
-- because Gray's formula makes q1 - q3 ± 2*qd an exact multiple of 4
-- (each connected component / hole contributes a full turn of corners)
SELECT a.poly_id, a.height_base, CAST(a.area_px AS BIGINT) AS area_px,
       CAST((g.q1 - g.q3 + 2 * g.qd) // 4 AS BIGINT) AS euler4,
       CAST((g.q1 - g.q3 - 2 * g.qd) // 4 AS BIGINT) AS euler8
FROM a JOIN g ON a.poly_id = g.poly_id AND a.height_base = g.height_base
"""


# ===========================================================================
# Q22. token stats — whitespace + BPE-ish regex token counting
# ===========================================================================

_TOKEN_RE = r"[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textops.token_count(t).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(_TOKEN_RE), 0)).cast("long").alias("n_re_tokens"),
        F.size(F.array_distinct(textops.tokens(t))).cast("long").alias("n_distinct"),
    )


_SQL_TOKEN_STATS = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT) AS n_re_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
FROM documents
"""


# ===========================================================================
# Q23. embedding nearest-neighbor (cosine near-dup, brute-force baseline)
# ===========================================================================

def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every vector: its nearest other vector by cosine — EXACT, via
    IVF triangle-inequality pruning (``similarity.exact_nn``): same-list
    candidates first, then only the inverted lists whose angular bound
    can beat the phase-1 best.  No cross join, no full-corpus window —
    the brute-force all-pairs version is demoted to the SQL oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    out = similarity.exact_nn(emb, n_centroids=8)
    return out.select("vec_id", "nn_id", F.round("sim", 6).alias("sim"))


_SQL_EMBED_NEARDUP = """
WITH n AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT a.vec_id, b.vec_id AS nn_id,
         list_reduce(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(a.e, x -> x * x), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(b.e, x -> x * x), (x, y) -> x + y))) AS sim
  FROM n a JOIN n b ON a.vec_id != b.vec_id
), r AS (
  SELECT vec_id, nn_id, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rnk
  FROM s)
SELECT vec_id, nn_id, round(sim, 6) AS sim FROM r WHERE rnk = 1
"""


# ===========================================================================
# Q24. LSH-bucketed approximate ANN — similarity scale path.  Hyperplanes
# are md5-derived integer lattices (similarity.deterministic_hyperplanes)
# and bucket bits come from sequential-fold dot products, so the DuckDB
# oracle reproduces the bucketing bit-for-bit from injected literals.
# ===========================================================================

_LSH_PLANES = 6
_LSH_PROBE_BITS = 2
_EMB_DIM = 64


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.lsh_ann_topk(emb, queries, k=3, n_planes=_LSH_PLANES,
                                  probe_bits=_LSH_PROBE_BITS)
    return out.select("q_id", F.col("rank").cast("long").alias("rank"),
                      "vec_id", F.round("sim", 6).alias("sim"))


_SQL_COS = """list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y)))"""


def _sql_ann_lsh() -> str:
    planes = similarity.deterministic_hyperplanes(_EMB_DIM, _LSH_PLANES, seed=42)
    bits = " + ".join(
        "(CASE WHEN list_reduce(list_transform(list_zip(v, "
        f"[{', '.join(str(c) for c in plane)}]), p -> p[1] * p[2]), (x, y) -> x + y) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << b})" for b in range(_LSH_PROBE_BITS)])
    sim = _SQL_COS.format(a="c.v", b="q.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), b AS (
  SELECT vec_id, v, {bits} AS bucket FROM e
), q AS (
  SELECT vec_id AS q_id, v AS qv, unnest([{probes}]) AS probe
  FROM b WHERE vec_id < 5
), j AS (
  SELECT q.q_id, c.vec_id, {sim} AS sim
  FROM b c JOIN q ON c.bucket = q.probe
), r AS (
  SELECT q_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM j)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim
FROM r WHERE rank <= 3
"""


# ===========================================================================
# Q24b. IVF ANN — inverted-list equi-join, nprobe=4 of 8 lists.  The
# contract quantizer is the zero-iteration seed quantizer (normalized
# first-8 vectors, sequential-fold norms) so the oracle derives the SAME
# centroids straight from the ``embeddings`` view; the production
# k-means quantizer is unit-tested against full-probe brute force.
# ===========================================================================

_IVF_K = 8
_IVF_NPROBE = 4


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cent = similarity.ivf_seed_centroids(emb, _IVF_K)
    out = similarity.ivf_topk(emb, queries, k=3, n_centroids=_IVF_K,
                              nprobe=_IVF_NPROBE, centroids=cent)
    return out.select("q_id", F.col("rank").cast("long").alias("rank"),
                      "vec_id", F.round("sim", 6).alias("sim"))


def _sql_ann_ivf() -> str:
    sim = _SQL_COS.format(a="c.v", b="q.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), cent AS (
  -- seed quantizer: normalized first-{_IVF_K} vectors (sequential-fold norm)
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS l,
         list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y),
                                                     (a, b) -> a + b))) AS cv
  FROM e ORDER BY vec_id LIMIT {_IVF_K}
), dots AS (
  SELECT e.vec_id, e.v, cent.l,
         list_reduce(list_transform(list_zip(e.v, cent.cv), p -> p[1] * p[2]),
                     (a, b) -> a + b) AS dot
  FROM e, cent
), ranked AS (
  SELECT vec_id, v, l,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, l) AS r
  FROM dots
), c AS (
  SELECT vec_id, v, l FROM ranked WHERE r = 1
), q AS (
  SELECT vec_id AS q_id, v AS qv, l FROM ranked WHERE r <= {_IVF_NPROBE} AND vec_id < 5
), j AS (
  SELECT q.q_id, c.vec_id, {sim} AS sim
  FROM c JOIN q ON c.l = q.l
), r AS (
  SELECT q_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM j)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim
FROM r WHERE rank <= 3
"""


# ===========================================================================
# Q25. SimHash near-dup pairs — blocked (pigeonhole-complete) join with
# brute-force SQL oracle
# ===========================================================================

def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        _read(spark, sf_dir, "documents"), bits=16, max_hamming=1
    )


def _sql_simhash_pairs() -> str:
    return f"""
WITH sh AS ({_sql_simhash()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""


# ===========================================================================
# registry
# ===========================================================================

QUERIES = {
    "point_elevation": q_point_elevation,
    "line_densify": q_line_densify,
    "line_profile": q_line_profile,
    "polygon_pixels": q_polygon_pixels,
    "polygon_bands": q_polygon_bands,
    "knn_tiles": q_knn,
    "tile_stats": q_tile_stats,
    "dedup_exact": q_dedup_exact,
    "minhash_pairs": q_minhash_pairs,
    "jaccard_pairs": q_jaccard_pairs,
    "simhash": q_simhash,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "ann_topk": q_ann_topk,
    "event_windows": q_event_windows,
    "polyline_roundtrip": q_polyline_roundtrip,
    "image_roundtrip": q_image_roundtrip,
    "image_resize": q_image_resize,
    "color_dissolve": q_color_dissolve,
    "token_stats": q_token_stats,
    "embed_neardup": q_embed_neardup,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "simhash_pairs": q_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
}


def oracle_sql() -> dict[str, str]:
    return {
        "point_elevation": _sql_point_elevation(),
        "line_densify": _sql_line_densify(),
        "line_profile": _sql_line_profile(),
        "polygon_pixels": f"SELECT poly_id, gx, gy, z FROM ({_SQL_POLY_PIXELS})",
        "polygon_bands": _sql_polygon_bands(),
        "knn_tiles": _sql_knn(),
        "tile_stats": _sql_tile_stats(),
        "dedup_exact": _SQL_DEDUP_EXACT,
        "minhash_pairs": _sql_minhash_pairs(),
        "jaccard_pairs": _sql_jaccard_pairs(),
        "simhash": _sql_simhash(),
        "text_quality": _sql_text_quality(),
        "lang_id": _sql_lang_id(),
        "fingerprint": _SQL_FINGERPRINT,
        "ann_topk": _SQL_ANN_TOPK,
        "event_windows": _SQL_EVENT_WINDOWS,
        "polyline_roundtrip": _sql_polyline_roundtrip(),
        "image_roundtrip": _SQL_IMAGE_ROUNDTRIP,
        "image_resize": _sql_image_resize(),
        "color_dissolve": _sql_color_dissolve(),
        "token_stats": _SQL_TOKEN_STATS,
        "embed_neardup": _SQL_EMBED_NEARDUP,
        "ann_lsh": _sql_ann_lsh(),
        "ann_ivf": _sql_ann_ivf(),
        "simhash_pairs": _sql_simhash_pairs(),
        "dedup_clusters": _sql_dedup_clusters(),
    }
